package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  def refPolyHash(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((acc, c) => (acc * 31 + c) % TextOps.HashMod)

  test("polyHash matches the reference fold, incl. unicode") {
    val samples = Seq("", "a", "abc", "hello world", "中文测试", "中a文b", "ÄÖÜ")
    val got = samples.toDF("s").select(TextOps.polyHash(col("s")).as("h"))
      .as[Long].collect()
    assert(got.toSeq === samples.map(refPolyHash))
  }

  test("fingerprint: equal normalized content ⇔ equal fingerprint") {
    val df = Seq("a b c", "a  b   c", " a b c ", "a b d")
      .toDF("t").select(TextOps.fingerprint(col("t")).as("f")).as[Long].collect()
    assert(df(0) === df(1) && df(1) === df(2))
    assert(df(0) !== df(3))
  }

  test("wordNgrams / charNgrams produce the expected shingles") {
    val wg = Seq(("a b c d"))
      .toDF("t")
      .select(TextOps.wordNgrams(col("t"), 2).as("w"))
      .as[Seq[String]].head()
    assert(wg === Seq("a b", "b c", "c d"))
  }

  test("shorter-than-n inputs yield one whole-text shingle, never an error") {
    // regression: sequence(1, 0) counts DOWN and slice(_, 0, n) throws
    val rows = Seq("solo", "", "two words").toDF("t")
      .select(TextOps.wordNgrams(col("t"), 3).as("w"))
      .as[Seq[String]].collect()
    assert(rows(0) === Seq("solo"))
    assert(rows(1) === Seq(""))
    assert(rows(2) === Seq("two words"))
    // and the minhash path survives single-word docs
    val sig = Seq("solo").toDF("t")
      .select(DedupOps.minhashSignature(col("t"), 2, 4)).collect()
    assert(sig.length === 1)
  }

  test("langId is deterministic and votes by stopwords") {
    val got = Seq(
      "the cat of the house and a dog",   // en
      "der hund und die katze ist nicht", // de
      "le chat et la maison les deux",    // fr
      "的 是 了 在 人 有")                 // zh
      .toDF("t").select(TextOps.langId(col("t"))).as[String].collect()
    assert(got === Array("en", "de", "fr", "zh"))
  }

  test("redactPii: emails and IPs replaced with typed placeholders, lookalikes untouched") {
    val got = TextOps.redactPii(Seq(
        "mail a.b+c@ex-1.org or root@10.0.0.1 visit 192.168.1.200 twice 192.168.1.200",
        "not pii: a@b 1.2.3 999.999 plain text",
        "").toDF("text"))
      .select("n_emails", "n_ips", "text_redacted")
      .as[(Long, Long, String)].collect()
    // 'root@10.0.0.1' has an all-digit domain — NOT an email by the
    // TLD-alpha pattern, so its IP half is redacted by the IP pass
    assert(got(0)._1 === 1L)
    assert(got(0)._2 === 3L)
    assert(got(0)._3 ===
      "mail <EMAIL> or root@<IP> visit <IP> twice <IP>")
    assert(got(1) === ((0L, 0L, "not pii: a@b 1.2.3 999.999 plain text")))
    assert(got(2) === ((0L, 0L, "")))
  }

  test("repetitionStats: duplicate n-gram fractions, exact and short-doc safe") {
    val got = TextOps.repetitionStats(Seq(
        "buy now buy now buy now buy now",  // heavy template repetition
        "one two three four five six seven", // zero repetition
        "hello",                             // < n words → 0 by construction
        "")                                  // empty → 0
      .toDF("text"))
      .select("dup_2gram_frac_x1000", "dup_3gram_frac_x1000")
      .as[(Long, Long)].collect()
    // doc 1: bigrams = 7 total, {buy now, now buy} distinct → 1000-285=715;
    //        trigrams = 6 total, {buy now buy, now buy now} → 1000-333=667
    assert(got(0) === ((715L, 667L)))
    assert(got(1) === ((0L, 0L)), "all-distinct text must score 0")
    assert(got(2) === ((0L, 0L)))
    assert(got(3) === ((0L, 0L)))
  }

  test("canonicalizeUrl: scheme/host lowered, fragment/tracking/ports/www/trailing-slash stripped, lookalikes kept") {
    val cases = Seq(
      // the full mess, all steps at once
      "HTTPS://WWW.Example.COM:443/Path/7?id=3&utm_source=feed&utm_campaign=X#Frag"
        -> "https://example.com/Path/7?id=3",
      // http default port + lone tracking param leaves a clean path
      "http://Example.com:80/a/?utm_medium=email" -> "http://example.com/a",
      // tracking param FIRST: separator cleanup must not leave "?&"
      "https://h.io/p?utm_source=x&q=1&fbclid=abc" -> "https://h.io/p?q=1",
      // CONSECUTIVE tracking params, first in query position
      "https://h.io/p?utm_a=1&utm_b=2&q=3" -> "https://h.io/p?q=3",
      // lookalikes preserved: ":80" in the path, "myutm_x" param (alone AND
      // next to a real param), cross-scheme default ports, non-default
      // port, case-sensitive path, www not at host start, path-&
      "https://h.io/ratio:80/x" -> "https://h.io/ratio:80/x",
      "https://h.io/p?myutm_x=1" -> "https://h.io/p?myutm_x=1",
      "https://h.io/p?myutm_x=1&q=2" -> "https://h.io/p?myutm_x=1&q=2",
      "http://h.io:443/x" -> "http://h.io:443/x",
      "https://h.io:80/x" -> "https://h.io:80/x",
      "https://h.io/a&b" -> "https://h.io/a&b",
      // path-& survives even WHEN tracking params are stripped (the old
      // '?'-restore rewrote the path ampersand)
      "https://h.io/a&b?utm_source=x&q=1" -> "https://h.io/a&b?q=1",
      "https://h.io/a&b?utm_source=x" -> "https://h.io/a&b",
      "https://h.io:8080/P" -> "https://h.io:8080/P",
      "https://notwww.example.com/CaseSensitive" -> "https://notwww.example.com/CaseSensitive",
      // no scheme: string passes through the host-lowering untouched
      "just a string #frag" -> "just a string ")
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl(col("url")).as("c")).as[String].collect()
    for (((in, want), actual) <- cases.zip(got))
      assert(actual === want, s"canonicalizeUrl($in)")
  }

  test("gopherRepetition: planted duplicate lines and repeated n-grams score exactly") {
    // lines: ["a b a b", "a b a b", "c"] — one duplicated 7-char line;
    // normalized words: a b a b a b a b c (17 chars incl. spaces)
    val df = Seq((1L, "a b a b\na b a b\nc"), (2L, ""), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.gopherRepetition(df)
      .select("doc_id", "dup_line_frac_x1000", "dup_line_char_frac_x1000",
        "top_2gram_char_frac_x1000", "top_3gram_char_frac_x1000",
        "top_4gram_char_frac_x1000")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // dup_line: 1000 - floor(2*1000/3) = 334; dup chars: 7 of 15 → 466
    // top 2-gram "a b" ×4 × 3 chars = 12 → floor(12000/17) = 705
    // top 3-gram "a b a" ×3 × 5 = 15 → 882
    // top 4-gram "a b a b" ×3 × 7 = 21 → 1235: overlapping occurrences
    //   legitimately exceed 1000 (documented; Gopher drops these anyway)
    assert(got(0) === ((1L, 334L, 466L, 705L, 882L, 1235L)))
    // empty + single-word docs: all signals zero, never an error
    assert(got(1) === ((2L, 0L, 0L, 0L, 0L, 0L)))
    assert(got(2) === ((3L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("gopherQuality + gopherKeep: planted bullets/ellipses/symbols score exactly") {
    // 4 lines: 1 bullet start, 1 ellipsis end; words: 10 total, "###" has
    // no letter; symbols: 3 '#' + 2 ellipses ("..." and "…")
    // 11 words, mean word length ~4.7 (inside [3,10]), 2 stopwords → keeps
    val textOk = "the quick brown foxes of spain jumped over their sleeping dogs"
    val textBad = "- one two\nthree four...\nfive …\n###"
    val got = TextOps.gopherQuality(Seq((1L, textBad), (2L, textOk)).toDF("doc_id", "text"))
      .select("doc_id", "symbol_word_ratio_x1000", "bullet_line_frac_x1000",
        "ellipsis_line_frac_x1000", "alpha_word_frac_x1000")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // textBad: words = [-,one,two,three,four...,five,…,###] → 8 words;
    // symbols = 3 hashes + 2 ellipses = 5 → 625; lines 4, bullet 1 → 250,
    // ellipsis-ending 2 ("four..." line and "five …" line) → 500;
    // words with a letter: one,two,three,four...,five → 5 of 8 → 625
    assert(got(0) === ((1L, 625L, 250L, 500L, 625L)))
    assert(got(1) === ((2L, 0L, 0L, 0L, 1000L)))
    val keep = TextOps.gopherKeep(Seq((1L, textBad), (2L, textOk)).toDF("doc_id", "text"),
        minWords = 5)
      .select("doc_id", "gopher_keep").as[(Long, Boolean)].collect().sortBy(_._1)
    assert(keep === Array((1L, false), (2L, true)))
  }

  test("qualityScore emits exact integer signals") {
    val row = TextOps.qualityScore(Seq("the the cat sat!").toDF("text"))
      .select("n_chars2", "n_words", "distinct_ratio_x1000", "n_punct", "stopword_hits")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(row._1 === 16L)
    assert(row._2 === 4L)
    assert(row._3 === 750L)  // 3 distinct of 4
    assert(row._4 === 1L)    // "!"
    assert(row._5 === 1L)    // "the"
  }
}
