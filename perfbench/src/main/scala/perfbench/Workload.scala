package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.streaming.StreamingPipeline

/**
 * One workload: the input it generates and the collection run it times.
 *
 * @param rows               input rows of one operation
 * @param files              parquet files the input is written as
 * @param knownTenths        tenths of the input ids committed to the state
 *                           template before every operation
 * @param maxFilesPerTrigger 0 for a batch run through `Pipeline.run`, else
 *                           the micro-batch size of a `runAvailableNow` drain
 * @param warmups            full-size operations run before timing starts
 */
final case class Workload(name: String, rows: Long, files: Int,
                          knownTenths: Int, maxFilesPerTrigger: Int, warmups: Int) {
  def streaming: Boolean = maxFilesPerTrigger > 0
}

object Workload {
  // Why each workload is here: perfbench/README.md.
  val all: Seq[Workload] = Seq(
    Workload("fresh_full", 200000L, 8, knownTenths = 0, maxFilesPerTrigger = 0, warmups = 3),
    Workload("rescan_known", 200000L, 8, knownTenths = 9, maxFilesPerTrigger = 0, warmups = 3),
    Workload("stream_batches", 100000L, 16, knownTenths = 0, maxFilesPerTrigger = 2, warmups = 1))

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** The seed picks the doc-id range, so every seed gives other ids and
    * with them other content types, operations and filter outcomes. Any
    * integer is a seed; seeds that agree modulo `ranges` share a range. */
  val ranges = 999999L
  def idBase(seed: BigInt): Long = (seed mod ranges).toLong * 1000000L
}

/** What one operation must produce, computed in set-up without
  * `Pipeline.run`: the input anti-joined with the template state, then
  * `Pipeline.routedRecords` and `Sinks.routedChecksum`. */
final case class Expected(stats: RunStats, checksums: Map[String, (Long, Long)]) {
  def freshRows: Long = stats.rowsIn - stats.rowsDeduped
}

/** Files of one set-up: the input and, for `knownTenths > 0`, a state. */
final case class Prepared(dir: Path) {
  def input: String = dir.resolve("input").toString
  def state: Path = dir.resolve("state")
  def hasState: Boolean = Files.exists(state)
  lazy val stateBytes: Long = Disk.dataBytes(state)
}

/** Measurements of one untraced operation. */
final case class OpResult(wallS: Double, cachePeakMb: Double, counters: Counters,
                          sinkBytes: Long, stateBytes: Long, ok: Boolean, detail: String)

object Collection {
  val cfg: Pipeline.Config = Pipeline.Config()

  /** `DataGen.sequences` over the ids [base, base + n): the same columns from
    * the same functions of the id, in `parts` partitions. */
  def sequences(spark: SparkSession, base: Long, n: Long, parts: Int): DataFrame =
    spark.range(base, base + n, 1, parts)
      .withColumn("tokens", graft.functions.GraftFunctions.gen_tokens(col("id"), DataGen.Vocab))
      .withColumn("doc_id", format_string("doc-%012d", col("id")))
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("source",
        element_at(array(lit("wal"), lit("api"), lit("export")),
          (pmod(xxhash64(col("id"), lit(7)), lit(3)) + lit(1)).cast("int")))
      .select("doc_id", "tokens", "n_tok", "source")

  /** Writes the input and builds the state template. */
  def prepare(spark: SparkSession, w: Workload, seed: BigInt, dir: Path): Prepared = {
    val p = Prepared(dir)
    sequences(spark, Workload.idBase(seed), w.rows, w.files)
      .write.mode("overwrite").parquet(p.input)
    if (w.knownTenths > 0) {
      val known = spark.read.parquet(p.input)
        .filter(pmod(xxhash64(col("doc_id")), lit(10)) < w.knownTenths)
        .select("doc_id")
      new StateStore(p.state.toString).commit(spark, known, "doc_id",
        cfg.expirationEpochSec, cfg.nowEpochSec)
    }
    p
  }

  def expected(spark: SparkSession, w: Workload, p: Prepared): Expected = {
    val input = spark.read.parquet(p.input)
    val fresh =
      if (!p.hasState) input
      else input.join(
        spark.read.parquet(Disk.subdirs(p.state): _*)
          .select(col("content_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
    val freshRows = fresh.count()
    val filteredRows = FilterStage.applyStatic(Parse.deriveFields(fresh), cfg.rules).count()
    val checksums = Sinks.routedChecksum(Pipeline.routedRecords(fresh, cfg.rules))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val routedRows = checksums.values.map(_._1).sum
    Expected(RunStats(
      rowsIn = w.rows,
      rowsDeduped = w.rows - freshRows,
      rowsDroppedByFilter = freshRows - filteredRows,
      rowsQuarantined = filteredRows - routedRows,
      rowsRouted = routedRows), checksums)
  }

  /** Sink directories holding one record per routed row. */
  def recordSinks(w: Workload): Seq[String] =
    if (w.streaming) Seq("routed")
    else Seq("file_csv", "graylog", "fluentd", "log_analytics")

  /** Copies the state template into a fresh operation directory. */
  def stage(p: Prepared, opDir: Path): Unit = {
    Files.createDirectories(opDir)
    if (p.hasState) Disk.copyTree(p.state, opDir.resolve("state"))
  }

  def readChecksums(spark: SparkSession, dir: String): Map[String, (Long, Long)] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("content_type") ->
        (r.getAs[Long]("rows"), r.getAs[Long]("checksum"))).toMap

  /** One timed operation; `opDir` must already hold its staged state. */
  def run(spark: SparkSession, w: Workload, p: Prepared, exp: Expected,
          opDir: Path, probe: Probe): OpResult = {
    val out = opDir.toString
    probe.beginOp()
    val c0 = probe.counters
    val t0 = System.nanoTime()
    val got: Either[Long, Pipeline.Result] =
      if (w.streaming)
        Left(StreamingPipeline.runAvailableNow(spark, p.input, out, cfg, w.maxFilesPerTrigger))
      else Right(Pipeline.run(spark, spark.read.parquet(p.input), out, cfg))
    val wall = (System.nanoTime() - t0) / 1e9
    val spent = probe.counters - c0
    val peak = probe.peakMb
    val committed = new StateStore(s"$out/state").liveRowCount(spark)
    val problems = got match {
      case Left(routed) => Seq(
        s"routed $routed, expected ${exp.stats.rowsRouted}" -> (routed == exp.stats.rowsRouted))
      case Right(res) =>
        val sums = readChecksums(spark, s"$out/checksums")
        Seq(
          s"stats ${res.stats}, expected ${exp.stats}" -> (res.stats == exp.stats),
          s"checksums $sums, expected ${exp.checksums}" -> (sums == exp.checksums))
    }
    // the template and the committed fresh ids together cover every input id
    val all = problems :+
      (s"state rows $committed, expected ${w.rows}" -> (committed == w.rows))
    val failed = all.filterNot(_._2).map(_._1)
    OpResult(wall, peak, spent,
      recordSinks(w).map(s => Disk.dataBytes(opDir.resolve(s))).sum,
      Disk.dataBytes(opDir.resolve("state")) - p.stateBytes,
      failed.isEmpty, failed.mkString("; "))
  }
}
