package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every public entry point in `src/main` has a production caller: a
  * member-level (2-space-indented) public `def` must be named somewhere in
  * `src/main/scala` or `perfbench/src` other than its own definition line.
  * A def that only specs call is deleted, or listed in
  * [[ReachabilitySpec.Kept]] with the reason it stays. The match is by
  * whole word in the code with its comments blanked (string literals
  * kept), so a mention in a comment, a reflective or a string-built use
  * would not count and an unrelated same-named use would: a cheap gate,
  * not a call graph. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found (run from the repo root)")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  private def read(files: Seq[Path]): Map[Path, Vector[String]] =
    files.map(p => p -> stripComments(Files.readString(p)).split("\n", -1).toVector).toMap

  private lazy val mainLines = read(scalaFiles("src/main/scala"))
  private lazy val searchLines = mainLines ++ read(scalaFiles("perfbench/src"))

  /** name → the (file, line) of each member-level public def of it. */
  private lazy val publicDefs: Map[String, Set[(Path, Int)]] =
    (for {
      (p, lines) <- mainLines.toSeq
      (l, i) <- lines.zipWithIndex
      m <- PublicDef.findPrefixMatchOf(l)
    } yield (m.group(1), (p, i))).groupMapReduce(_._1)(d => Set(d._2))(_ ++ _)

  /** True iff `name` appears as a whole word on any line but its defs. */
  private def referenced(name: String, defs: Set[(Path, Int)]): Boolean = {
    val word = s"(?<![A-Za-z0-9_$$])${java.util.regex.Pattern.quote(name)}(?![A-Za-z0-9_$$])".r
    searchLines.exists { case (p, lines) =>
      lines.indices.exists(i => !defs((p, i)) && word.findFirstIn(lines(i)).isDefined)
    }
  }

  private lazy val unreferenced: Set[String] =
    publicDefs.collect { case (name, defs) if !referenced(name, defs) => name }.toSet

  test("every public def in src/main has a caller in src/main or perfbench, or is kept on purpose") {
    val orphans = (unreferenced -- Kept.keySet).toSeq.sorted
    assert(orphans.isEmpty,
      s"public defs with no caller outside src/test: ${orphans.mkString(", ")} — " +
      "delete them, or add them to ReachabilitySpec.Kept with the reason they stay")
  }

  test("comment stripping blanks // and nested /* */ comments, not string or char literals") {
    val code = "val u = \"http://x\" // gone\nval q = '\"' /* a /* b */ c */ + f(\"/*\")"
    assert(stripComments(code) ===
      "val u = \"http://x\"        \nval q = '\"'                   + f(\"/*\")")
  }

  test("every kept name is still a public def without a production caller") {
    val stale = Kept.keySet.filterNot(unreferenced).toSeq.sorted
    assert(stale.isEmpty,
      s"kept names that are gone or now have a caller: ${stale.mkString(", ")} — " +
      "drop them from ReachabilitySpec.Kept")
  }
}

object ReachabilitySpec {
  private val PublicDef = """^  def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** `text` with every `//` and (nesting) `/* */` comment blanked to
    * spaces, newlines kept so line numbers hold. String and character
    * literals are skipped whole, so a `//` inside one is not a comment. */
  def stripComments(text: String): String = {
    val out = new StringBuilder(text)
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(j => if (out(j) != '\n') out(j) = ' ')
    def find(token: String, from: Int): Int = text.indexOf(token, from) match {
      case -1 => text.length
      case j => j
    }
    var i = 0
    while (i < text.length) {
      if (text.startsWith("//", i)) {
        val end = find("\n", i)
        blank(i, end)
        i = end
      } else if (text.startsWith("/*", i)) {
        var (j, depth) = (i + 2, 1)
        while (j < text.length && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j)
        i = j
      } else if (text.startsWith("\"\"\"", i)) i = find("\"\"\"", i + 3) + 3
      else if (text(i) == '"') {
        var j = i + 1
        while (j < text.length && text(j) != '"' && text(j) != '\n') j += (if (text(j) == '\\') 2 else 1)
        i = j + 1
      } else if (text(i) == '\'' && i + 2 < text.length && text(i + 1) == '\\') i = find("'", i + 3) + 1
      else if (text(i) == '\'' && i + 2 < text.length && text(i + 2) == '\'') i += 3
      else i += 1
    }
    out.toString
  }

  /** Public defs that only specs call, each with why it stays. */
  val Kept: Map[String, String] = Map(
    "windowedCounts" -> "streaming form of the declared windowed-count query",
    "sessionCounts" -> "streaming form of the declared session-count query",
    "fromYaml" -> "reference collector's YAML config",
    "toPipelineConfig" -> "bridges the reference collector's YAML config to Pipeline.Config",
    "sendOms" -> "reference collector's Azure Log Analytics (OMS) transport",
    "sendFluentdForward" -> "reference collector's Fluentd forward transport",
    "writePartitionedByWindow" -> "reference collector's per-window collection layout",
    "readWindow" -> "reference collector's per-window collection read",
    "progressPct" -> "reference collector's progress monitor",
    "chartScale" -> "reference collector's monitor chart scale",
    "speedSeries" -> "reference collector's monitor throughput series",
    "lastN" -> "reference collector's monitor last-N view",
    "columnSlice" -> "reference collector's monitor results-table slice",
    "renderLogLine" -> "reference collector's textual log line (grok input)",
    "grokExtract" -> "reference collector's grok field extraction",
    "policyColRef" -> "test oracle: Column formulation the audit_field kernel is pinned to",
    "sequencesHof" -> "test oracle: HOF formulation the gen_tokens kernel is pinned to",
    "encodeWordRef" -> "test oracle: greedy encoder the bpe_encode kernel is pinned to",
    "lshSignatureUnrolled" -> "test oracle: HOF formulation the lsh_signature kernel is pinned to",
    "topNgramScoreRef" -> "test oracle: HOF formulation the top_ngram_score kernel is pinned to",
    "entry" -> "declared flagship query: the query harness calls SparkEntry.entry by name",
    "applyJoin" -> ("broadcast-hash-join enrich stage with rules from a lookup table " +
      "(BASELINE.json north rule); FilterStageSpec pins it ≡ applyStatic"),
    "compact" -> "the state fold; keeps its place until the state gets a commit-time compaction")
}
