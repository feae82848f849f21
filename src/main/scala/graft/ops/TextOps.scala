package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * tokenization, quality scoring, language ID, fingerprinting. All pure
 * Catalyst column functions (whole-stage codegen, no UDFs) so they run at
 * full scan speed over 100 TB of documents.
 *
 * The polynomial rolling hash is deliberately *portable arithmetic*
 * (acc*31 + codepoint, mod 1e9+7): any engine (DuckDB oracle included) can
 * reproduce it bit-for-bit, which lets the dedup/minhash pipelines be
 * verified end-to-end against an independent implementation.
 */
object TextOps {

  val HashMod = 1000000007L

  /** Whitespace word tokenization (empty-safe). */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Portable polynomial rolling hash of a string: fold codepoints with
    * acc*31+cp mod 1e9+7. Identical in DuckDB via list_reduce. */
  def polyHash(s: Column): Column =
    aggregate(
      transform(filter(split(s, ""), c => c =!= ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => pmod(acc * 31L + x, lit(HashMod)))

  /** Document fingerprint: rolling hash of the whitespace-normalized text —
    * equal fingerprints ⇔ equal normalized content (mod collisions). */
  def fingerprint(text: Column): Column =
    polyHash(concat_ws(" ", words(text)))

  /** Word n-gram shingles ("a b c", n=2 → ["a b","b c"]). */
  def wordNgrams(text: Column, n: Int): Column = {
    // A text with fewer than n words yields ONE shingle — all its words
    // joined — never an error: sequence(1, 0) counts DOWN to [1, 0] and
    // slice(_, 0, n) throws at runtime. The guard matches
    // Hashing.shingleHashes, which emits the same single short shingle.
    val ws = words(text)
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - lit(n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array(concat_ws(" ", ws)))
  }

  /** Fixed-size word chunks — HOF reference formulation (semantic spec for
    * the codegen word_chunks kernel; FunctionsSpec pins bit-equality).
    * Every text yields ≥ 1 chunk; the last may be shorter. */
  def wordChunks(text: Column, chunkWords: Int): Column = {
    val ws = words(text)
    val nChunks = greatest(ceil(size(ws) / lit(chunkWords.toDouble)).cast("int"), lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(ws, i * chunkWords + 1, lit(chunkWords))))
  }

  /** Distinct portable hashes of word n-gram shingles — the document's
    * shingle set for minhash / Jaccard. */
  def shingleHashes(text: Column, n: Int): Column =
    array_distinct(transform(wordNgrams(text, n), polyHash(_)))

  // --- quality scoring -----------------------------------------------------

  /** Small multilingual stopword lists for the heuristic signals. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "dans", "que"),
    "es" -> Seq("el", "la", "y", "los", "las", "un", "una", "es", "en", "que"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "人"))

  private def stopwordHits(text: Column, lang: String): Column =
    size(array_intersect(array_distinct(words(text)),
      array(Stopwords(lang).map(lit): _*)))

  /**
   * Quality signals as integer columns (ratios scaled ×1000 so they are
   * exact and oracle-comparable): length, word count, mean word length,
   * punctuation count, distinct-word ratio, English stopword hits.
   */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    df.withColumn("n_chars2", length(t).cast("long"))
      .withColumn("n_words", size(ws).cast("long"))
      .withColumn("mean_word_len_x1000",
        floor(length(concat_ws("", ws)) * lit(1000L) / size(ws)).cast("long"))
      .withColumn("n_punct",
        (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("long"))
      .withColumn("distinct_ratio_x1000",
        floor(size(array_distinct(ws)) * lit(1000L) / size(ws)).cast("long"))
      .withColumn("stopword_hits", stopwordHits(t, "en").cast("long"))
  }

  /**
   * PII redaction — the scrubbing pass every distributable corpus runs
   * (emails and IPv4 addresses replaced with typed placeholders, plus
   * per-doc match counts so the redaction rate is monitorable). The
   * patterns deliberately use only the regex subset Java's engine and
   * RE2 (DuckDB) interpret identically — ASCII classes, bounded repeats,
   * word boundaries; no backreferences or lookaround — so the DuckDB
   * oracle reproduces the redacted text byte-for-byte. Emails are
   * redacted BEFORE IPs (an all-digit email domain would otherwise be
   * half-rewritten by the IP pass).
   */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_emails",
        regexp_count(col(textCol), lit(EmailRe)).cast("long"))
      .withColumn("n_ips",
        regexp_count(col(textCol), lit(Ipv4Re)).cast("long"))
      .withColumn("text_redacted",
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"))

  /**
   * URL canonicalization — the crawl-corpus normalization pass before
   * URL-level dedup and domain filtering (the same page arrives as
   * `HTTPS://WWW.Example.com:443/p/?utm_source=feed#top` and
   * `https://example.com/p`). Steps, in order:
   *
   *  1. lowercase the scheme and host (ONLY — paths are case-sensitive);
   *  2. strip the fragment (`#...` never reaches the server);
   *  3. strip tracking query params (utm_*, fbclid, gclid) and any
   *     dangling `?`/`&` they leave behind;
   *  4. strip explicit default ports (`:80`, `:443`);
   *  5. strip a leading `www.`;
   *  6. strip a single trailing slash.
   *
   * Like [[redactPii]], every pattern stays in the regex subset Java and
   * RE2 (DuckDB) interpret identically — ASCII classes, alternation,
   * anchors, numbered backreferences — so the oracle reproduces the
   * canonical string byte-for-byte. Scan-speed column function.
   */
  def canonicalizeUrl(url: Column): Column = {
    val schemeHostRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
    val schemeHost = regexp_extract(url, schemeHostRe, 0)
    val lowered = concat(lower(schemeHost), expr_substrAfter(url, schemeHost))
    val noFrag = regexp_replace(lowered, "#.*$", "")
    // tracking strip, anchored to each param's own ?/& separator (a param
    // whose name merely CONTAINS a tracking name — "myutm_x" — is data)
    // with NO restore step, so an unencoded '&' in the path/userinfo is
    // never rewritten: (a) a run of tracking params right after '?'
    // collapses back to '?'; (b) '&'-led tracking params drop with their
    // '&'; (c) a lone trailing '?tracking' drops entirely
    val trk = "(?:utm_[a-z]+|fbclid|gclid)"
    val noTrkA = regexp_replace(noFrag, s"\\?($trk=[^&]*&)+", "?")
    val noTrkB = regexp_replace(noTrkA, s"&$trk=[^&]*", "")
    val noTrk = regexp_replace(noTrkB, s"\\?$trk=[^&]*$$", "")
    // default ports are stripped only when paired with THEIR scheme —
    // http://h:443 is a distinct origin and must survive; anchored to the
    // authority, so a literal ":80" inside the PATH is data
    val noP80 = regexp_replace(noTrk, "^(http://[^/?#:]*):80([/?]|$)", "$1$2")
    val noPort = regexp_replace(noP80, "^(https://[^/?#:]*):443([/?]|$)", "$1$2")
    val noWww = regexp_replace(noPort, "^([a-z][a-z0-9+.-]*://)www\\.", "$1")
    regexp_replace(noWww, "/$", "")
  }

  /** substring after a computed prefix (length-based — no regex escaping
    * worries for arbitrary prefixes). */
  private def expr_substrAfter(s: Column, prefix: Column): Column =
    s.substr(length(prefix) + 1, length(s))

  /**
   * N-gram repetition signals — the MassiveText/Gopher repetition filters
   * (Rae et al. 2021, appendix A1.1): documents whose n-grams repeat
   * heavily are boilerplate, spam, or template churn, and get dropped
   * before training. Per requested n, adds an integer column
   * `dup_{n}gram_frac_x1000` = 1000 · (1 − distinct/total n-grams),
   * scaled ×1000 so it is exact and oracle-comparable. Distinctness is
   * over the n-gram STRINGS (not hashes) so the DuckDB oracle reproduces
   * it with zero collision risk; texts shorter than n words score 0 by
   * construction (one padded shingle over one slot).
   */
  def repetitionStats(df: DataFrame, textCol: String = "text",
                      ns: Seq[Int] = Seq(2, 3)): DataFrame =
    ns.foldLeft(df) { (acc, n) =>
      val total = greatest(size(words(col(textCol))) - lit(n - 1), lit(1))
      val distinctN = size(array_distinct(wordNgrams(col(textCol), n)))
      acc.withColumn(s"dup_${n}gram_frac_x1000",
        (lit(1000L) - floor(distinctN * lit(1000L) / total)).cast("long"))
    }

  /**
   * The REST of the MassiveText/Gopher repetition family (Rae et al. 2021
   * appendix A1.1), completing [[repetitionStats]]' dup-n-gram fractions:
   *
   *  - `dup_line_frac_x1000`     — 1000·(1 − distinct/total lines): the
   *    duplicate-LINE fraction (navigation chrome, cookie banners);
   *  - `dup_line_char_frac_x1000` — 1000·(chars in repeat occurrences of a
   *    line / total line chars): catches one long boilerplate line among
   *    many short unique ones, which the count-based fraction understates;
   *  - `top_{n}gram_char_frac_x1000` for n in `topNs` — 1000·(occurrences
   *    of the most-repeated word n-gram × its char length / chars of the
   *    whitespace-normalized text): TEMPLATE churn where no full line or
   *    chunk repeats exactly. Computed by the codegen `top_ngram_score`
   *    kernel — one hash-count pass per row (the HOF formulation is
   *    O(distinct·total) interpreted per element; FunctionsSpec pins
   *    equality). Note overlapping occurrences each count their full char
   *    span, so the fraction can exceed 1000 on degenerate inputs
   *    ("a a a a"); Gopher treats these as "drop" anyway. Texts with
   *    fewer than n words score 0 (no n-gram exists).
   *
   * All ×1000 integer-exact, lines split on '\n' (kept as-is, empties
   * included — both engines' split semantics agree), so the DuckDB oracle
   * reproduces every column. Scan-speed: no shuffle, no explode.
   */
  def gopherRepetition(df: DataFrame, textCol: String = "text",
                       topNs: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val total = greatest(size(lines), lit(1))
    val lineChars = aggregate(lines, lit(0L), (acc, l) => acc + length(l))
    // chars in repeat occurrences = total line chars − one occurrence of
    // each distinct line: LINEAR, vs the O(distinct·total) nested
    // filter-count formulation (each line with count c contributes
    // (c−1)·len either way)
    val dupChars = lineChars -
      aggregate(array_distinct(lines), lit(0L), (acc, l) => acc + length(l))
    val base = df
      .withColumn("dup_line_frac_x1000",
        (lit(1000L) - floor(size(array_distinct(lines)) * lit(1000L) / total)).cast("long"))
      .withColumn("dup_line_char_frac_x1000",
        floor(dupChars * lit(1000L) / greatest(lineChars, lit(1L))).cast("long"))
    topNs.foldLeft(base) { (acc, n) =>
      val normLen = greatest(length(concat_ws(" ", words(t))), lit(1))
      acc.withColumn(s"top_${n}gram_char_frac_x1000",
        floor(graft.functions.GraftFunctions.top_ngram_score(t, n) * lit(1000L) / normLen)
          .cast("long"))
    }
  }

  /** HOF reference for the `top_ngram_score` kernel (semantic spec only —
    * O(distinct·total) interpreted per element; FunctionsSpec pins
    * bit-equality): max over distinct word n-grams of
    * occurrences × char length. */
  def topNgramScoreRef(text: Column, n: Int): Column = {
    val grams = wordNgrams(text, n)
    when(size(words(text)) < n, lit(0L)) // no n-gram exists → 0, not the padded whole text
      .otherwise(aggregate(array_distinct(grams), lit(0L), (acc, g) =>
        greatest(acc, size(filter(grams, x => x === g)).cast("long") * length(g))))
  }

  /**
   * The Gopher QUALITY filter signals (Rae et al. 2021 A1.1 — the
   * non-repetition half; [[gopherRepetition]] has the repetition half,
   * [[qualityScore]] the length/stopword basics). All ×1000
   * integer-exact, scan-speed, regex in the Java/RE2-common subset:
   *
   *  - `symbol_word_ratio_x1000` — ('#' + ellipsis occurrences) / words
   *    (Gopher drops > 0.1);
   *  - `bullet_line_frac_x1000`  — lines starting with a bullet
   *    (drops > 0.9);
   *  - `ellipsis_line_frac_x1000` — lines ending in an ellipsis
   *    (drops > 0.3);
   *  - `alpha_word_frac_x1000`   — words containing ≥ 1 letter (`\p{L}`,
   *    so non-Latin corpora count; drops < 0.8).
   */
  def gopherQuality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    val lines = split(t, "\n")
    val nw = greatest(size(ws), lit(1))
    val nl = greatest(size(lines), lit(1))
    val hashCount = length(t) - length(translate(t, "#", ""))
    val ellipsisCount = regexp_count(t, lit("(\\.\\.\\.|…)"))
    df.withColumn("symbol_word_ratio_x1000",
        floor((hashCount + ellipsisCount) * lit(1000L) / nw).cast("long"))
      .withColumn("bullet_line_frac_x1000",
        floor(size(filter(lines, l => l.rlike("^[-*•]"))) * lit(1000L) / nl).cast("long"))
      .withColumn("ellipsis_line_frac_x1000",
        floor(size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))) * lit(1000L) / nl).cast("long"))
      .withColumn("alpha_word_frac_x1000",
        floor(size(filter(ws, w => w.rlike("\\p{L}"))) * lit(1000L) / nw).cast("long"))
  }

  /**
   * The combined Gopher keep decision over [[qualityScore]] +
   * [[gopherQuality]] signals (A1.1 thresholds; word-count band scaled
   * to this corpus' short synthetic docs is the caller's choice —
   * defaults are the paper's): one boolean a 100 TB pre-filter can push
   * into the scan.
   */
  def gopherKeep(df: DataFrame, textCol: String = "text",
                 minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val scored = gopherQuality(qualityScore(df, textCol), textCol)
    scored.withColumn("gopher_keep",
      col("n_words") >= minWords && col("n_words") <= maxWords &&
      col("mean_word_len_x1000") >= 3000L && col("mean_word_len_x1000") <= 10000L &&
      col("symbol_word_ratio_x1000") <= 100L &&
      col("bullet_line_frac_x1000") <= 900L &&
      col("ellipsis_line_frac_x1000") <= 300L &&
      col("alpha_word_frac_x1000") >= 800L &&
      col("stopword_hits") >= 2L)
  }

  /**
   * Language ID by stopword voting: distinct-word overlap with each
   * language's stopword list; argmax with deterministic tie-break on the
   * fixed language order (en, de, fr, es, zh). `greatest`-free formulation:
   * scores packed as score*8 + langIdx so max() picks the winner and the
   * HIGHER index wins ties — mirrored exactly in the DuckDB oracle.
   */
  val LangOrder: Seq[String] = Seq("en", "de", "fr", "es", "zh")

  def langId(text: Column): Column = {
    val packed = LangOrder.zipWithIndex.map { case (l, i) =>
      stopwordHits(text, l).cast("long") * 8L + lit(i.toLong)
    }
    val best = greatest(packed: _*)
    element_at(array(LangOrder.map(lit): _*), (pmod(best, lit(8L)) + 1).cast("int"))
  }
}
