package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Kill/resume semantics and scale-shape evidence. */
class ResumeAndScaleSpec extends SparkSuite {
  import spark.implicits._

  test("crash between sink write and state commit → resume re-emits, never skips or dups state") {
    val out = tmpDir("crash")
    val seqs = DataGen.sequences(spark, 800L, 4)
    // run 1 completes fully
    val r1 = Pipeline.run(spark, seqs, out)
    // simulate a crash DURING run 2's commit: sinks were (over)written but
    // the state pointer never advanced — delete the pointer advance by
    // rolling _CURRENT back to the pre-run-2 snapshot
    val ptr = java.nio.file.Paths.get(s"$out/state/_CURRENT")
    val before = new String(java.nio.file.Files.readAllBytes(ptr)).trim
    val superset = DataGen.sequences(spark, 1200L, 4)
    Pipeline.run(spark, superset, out) // "crashed" run: pretend commit lost
    java.nio.file.Files.write(ptr, before.getBytes) // roll pointer back
    // resume: the rows 800..1200 are re-processed (not skipped), and the
    // previously committed 0..800 are still absorbed
    val r3 = Pipeline.run(spark, superset, out)
    assert(r3.stats.rowsDeduped === 800L)
    val freshAll = Pipeline.routedRecords(superset, DataGen.routingRules).count()
    assert(r1.stats.rowsRouted + r3.stats.rowsRouted === freshAll)
    // state carries each id exactly once (orphan snapshot dirs are inert)
    val st = new StateStore(s"$out/state").load(spark, Parse.BaseEpoch + Parse.SpanSeconds)
    assert(st.select("content_id").distinct().count() === st.count())
  }

  test("salted write spreads the dominant content type across many files") {
    val out = tmpDir("skew")
    val routed = Pipeline.routedRecords(DataGen.sequences(spark, 20000L, 8),
      DataGen.routingRules)
    Sinks.write(Sinks.fileCsvShape(Route.saltedForWrite(routed, 8)),
      s"$out/csv", Seq("content_type"))
    val dom = new java.io.File(s"$out/csv/content_type=Audit.General")
    val files = dom.listFiles().count(_.getName.endsWith(".parquet"))
    // upper bound is spark.sql.shuffle.partitions (4 in the test session);
    // unsalted, the dominant type would collapse into exactly 1 task
    assert(files >= 3, s"dominant type written by only $files task(s) — salt not effective")
  }

  test("window-partitioned layout prunes the scan to requested windows") {
    val out = tmpDir("winpart")
    val parsed = Parse.deriveFields(DataGen.sequences(spark, 3000L, 4))
    Windows.writePartitionedByWindow(parsed, "CreationTime", s"$out/tbl")
    // request a 2-day slice out of the 7-day span
    val start = Parse.BaseEpoch + 2 * 86400
    val end = Parse.BaseEpoch + 4 * 86400
    val slice = Windows.readWindow(spark, s"$out/tbl", start, end)
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(window_date"),
      s"window filter must prune partitions:\n$plan")
    // correctness of the slice
    val expected = parsed.filter(
      to_timestamp(col("CreationTime"), "yyyy-MM-dd'T'HH:mm:ss") >= timestamp_seconds(lit(start)) &&
      to_timestamp(col("CreationTime"), "yyyy-MM-dd'T'HH:mm:ss") < timestamp_seconds(lit(end))).count()
    assert(slice.count() === expected)
  }
}
