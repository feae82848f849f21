package graft.pipeline

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Per-run metric counters — mirrors RunStatistics
  * (reference: src/data_structures.rs:144-150, printed at
  * src/collector.rs:228-239). */
case class RunStats(rowsIn: Long, rowsDeduped: Long, rowsDroppedByFilter: Long,
                    rowsQuarantined: Long, rowsRouted: Long)

/**
 * The flagship pipeline (reference entry point 1, SURVEY.md §3.1):
 *
 *   scan sequences → anti-join known-content state (dedup, J1)
 *     → parse audit fields (F10) → rules filter (P1) → route + OriginFeed
 *     → fan out to six sink shapes → commit state + metrics.
 *
 * Spark-first shape: one declarative plan per sink over a single materialized
 * routed DataFrame; the reference's channels/threads dissolve into the DAG
 * (SURVEY.md §3.2). Filters run BEFORE the fan-out so each sink writes the
 * minimal set; the anti-join runs BEFORE parse (cheapest-first, the
 * reference's known-blob skip-before-fetch, src/api_connection.rs:341-343).
 */
object Pipeline {

  case class Config(
    rules: Seq[RoutingRule] = DataGen.routingRules,
    saltBuckets: Int = 8,
    skipKnownLogs: Boolean = true,
    enabledTypes: Seq[String] = Schemas.ContentTypes,
    duplicate: Int = 1,
    nowEpochSec: Long = Parse.BaseEpoch + Parse.SpanSeconds,
    expirationEpochSec: Long = Parse.BaseEpoch + 30L * 24 * 3600,
    // Target rows per output file for the record sinks. 64 input
    // partitions × 8 concurrent sinks × partitionBy values = hundreds of
    // tiny parquet files per run — the classic small-files problem, paid
    // once in write overhead and forever by every downstream scan. Sizing
    // uses the already-materialized routed count and a narrow coalesce
    // (no exchange). Must be positive.
    targetRowsPerFile: Long = 250000L,
    // None = engine default: every sink shape is written (bench/test mode).
    // Some(outputConfig) = honor the reference's per-interface enablement:
    // only enabled record sinks are written; the file sink becomes a real
    // CSV at the configured path/separator/mode. Operational outputs
    // (prtg, checksums, quarantine, metrics, state) are always written.
    output: Option[OutputConfig] = None,
    // None = the default snapshot-delta StateStore at <outDir>/state.
    // Some(backend) = the known-content state lives wherever the backend
    // says — e.g. CatalogStateBackend("cat.db.known_content") for an
    // Iceberg/Delta (or plain session-catalog) table. The dedup anti-join,
    // commit ordering and run stats are identical across backends.
    stateBackend: Option[StateBackend] = None) {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be > 0, got $targetRowsPerFile")
    /** The Fluentd tag: the configured tenant name, else the reference's. */
    def tenant: String = output.flatMap(_.fluentd).fold(FluentdOutputConfig().tenantName)(_.tenantName)
  }

  case class Result(stats: RunStats, snapshot: Option[Int])

  /** The transform core, sink-agnostic: sequences → routed records.
    * Pure function, unit-testable without I/O. `enabledTypes` mirrors the
    * reference's per-type subscriptions (src/config.rs:149-182): rows of
    * disabled types never enter the pipeline. */
  def routedRecords(sequences: DataFrame, rules: Seq[RoutingRule],
                    enabledTypes: Seq[String] = Schemas.ContentTypes): DataFrame =
    Route.routed(subscribedAndFiltered(Parse.deriveFields(sequences), rules, enabledTypes))

  /** Subscribe → rules filter over parsed records: the one definition
    * `routedRecords` and `processBatch` share (`processBatch` stamps
    * `__pid` on `parsed` first). */
  private def subscribedAndFiltered(parsed: DataFrame, rules: Seq[RoutingRule],
                                    enabledTypes: Seq[String]): DataFrame = {
    val subscribed =
      if (enabledTypes == Schemas.ContentTypes) parsed
      else parsed.filter(col("content_type").isin(enabledTypes: _*))
    FilterStage.applyStatic(subscribed, rules)
  }

  /** Dedup: the rows of `in` whose ids the state has not seen (all of
    * `in` when `skipKnownLogs` is off) — what the state commits. Shared by
    * `processBatch` and the streaming replay guard. */
  private[graft] def unseen(spark: SparkSession, in: DataFrame, backend: StateBackend,
                            cfg: Config): DataFrame =
    if (cfg.skipKnownLogs) StateStore.dedup(in, backend.load(spark, cfg.nowEpochSec))
    else in

  /**
   * Full run: read → dedup → parse → filter → route → write sinks →
   * commit state, every output at `<outDir>/<name>`.
   */
  def run(spark: SparkSession, sequences: DataFrame, outDir: String,
          cfg: Config = Config()): Result = {
    val backend = stateBackend(cfg, outDir)
    val stats = processBatch(spark, sequences, backend, cfg,
      recordSinks(outDir, cfg), name => s"$outDir/$name")
    Result(stats, backend.currentVersion)
  }

  /** The known-content state of a run writing to `outDir`: the Config's
    * backend, else the snapshot-delta StateStore at `<outDir>/state`. */
  private[graft] def stateBackend(cfg: Config, outDir: String): StateBackend =
    cfg.stateBackend.getOrElse(new SnapshotStateBackend(new StateStore(s"$outDir/state")))

  /** The routed set as a record sink sees it: `cached` is the materialised
    * frame, `sized` the same rows coalesced to the output-file target (see
    * `targetRowsPerFile`). */
  private[graft] final case class Routed(cached: DataFrame, sized: DataFrame)

  /** The record sinks of a batch run, each named and at `<outDir>/<name>`:
    * every sink shape by default, else only the interfaces `cfg.output`
    * enables. */
  private def recordSinks(outDir: String, cfg: Config): Seq[(String, Routed => Unit)] = {
    def salted(r: Routed) = Route.saltedForWrite(r.cached, cfg.saltBuckets)
    def graylog(r: Routed): Unit =
      Sinks.write(Sinks.graylogShape(r.sized), s"$outDir/graylog")
    def fluentd(r: Routed): Unit =
      Sinks.write(Sinks.fluentdShape(r.sized, cfg.tenant), s"$outDir/fluentd")
    def logAnalytics(r: Routed): Unit =
      Sinks.write(Sinks.logAnalyticsShape(r.sized), s"$outDir/log_analytics", Seq("log_type"))
    cfg.output match {
      case None => Seq( // engine default: all sink shapes
        "file_csv" -> (r =>
          Sinks.write(Sinks.fileCsvShape(salted(r)), s"$outDir/file_csv", Seq("content_type"))),
        "graylog" -> graylog, "fluentd" -> fluentd, "log_analytics" -> logAnalytics)
      case Some(out) => // reference semantics: only enabled interfaces
        out.file.filter(_.enabled).toSeq.map { f => "file_csv" -> ((r: Routed) =>
          if (f.separateByContentType)
            { CsvSink.writeSeparated(r.cached, s"$outDir/${f.path}", f.separator); () }
          else CsvSink.writeUnified(salted(r), s"$outDir/${f.path}", f.separator))
        } ++
        out.graylog.filter(_.enabled).map(_ => "graylog" -> (graylog _)) ++
        out.fluentd.filter(_.enabled).map(_ => "fluentd" -> (fluentd _)) ++
        out.azureLogAnalytics.filter(_.enabled).map(_ => "log_analytics" -> (logAnalytics _))
    }
  }

  /**
   * One collection pass over `in`, the body of `run` and of every
   * streaming micro-batch — the reference's cache flush
   * (src/collector.rs:161-226): dedup → parse → filter → route, materialise
   * once, fan out to `recordSinks` plus the operational outputs (prtg,
   * checksums, quarantine, metrics, each at `outputPath(name)`), then
   * publish the state delta, which is staged beside the whole pass. The one
   * materialising pass observes every count the pass reports (input rows;
   * rows parsed, routed and quarantined per emitting partition), so the
   * `metrics` sink and the stats cost no extra job; only the state staging
   * reads the input again. Every job carries a `graft:<layer>` description:
   * `materialize`, `sink:<name>` or `state`.
   */
  private[graft] def processBatch(spark: SparkSession, in: DataFrame, backend: StateBackend,
                                  cfg: Config, recordSinks: Seq[(String, Routed => Unit)],
                                  outputPath: String => String): RunStats = {
    val sc = spark.sparkContext
    val fanOut = new Sinks.FanOut(sc)
    // The reference marks every RECEIVED blob known, including rows the
    // filter later drops (src/collector.rs:161 precedes the filter at
    // :176-184) — so stage all fresh ids, not just routed ones. Staging
    // re-runs scan → dedup, pruned to doc_id, on a plan of its own, so it
    // starts first and runs while the pass plans and the sinks write;
    // caching the pre-filter ids instead would hold the rows the filter
    // drops (most of a first run's input).
    val staged = new java.util.concurrent.atomic.AtomicReference[StateBackend.Staged]()
    fanOut.start("state")(staged.set(backend.stage(spark,
      unseen(spark, in, backend, cfg).select("doc_id"), "doc_id",
      cfg.expirationEpochSec, cfg.nowEpochSec)))
    val (rowsIn, routedCount, quarantinedCount) =
      try materialiseAndWrite(spark, in, backend, cfg, recordSinks, outputPath, fanOut)
      catch { case e: Throwable =>
        // a failure before the fan-out settled cancels the staging; one
        // that `settle` rethrew is rethrown alone
        fanOut.fail(e)
        try fanOut.settle() finally Option(staged.get).foreach(_.discard())
        throw e
      }
    // Publish strictly AFTER every write has settled (resume contract); a
    // failed pass above discarded the staged ids.
    val rowsFresh = labelled(sc, "state")(staged.get.publish())

    // Stats (the reference's RunStatistics, A1/A4): the committed count
    // was observed on the state write (publish returns it), and the rest
    // by the materialising pass.
    RunStats(
      rowsIn = rowsIn,
      rowsDeduped = rowsIn - rowsFresh,
      // dropped-by-filter includes rows of non-subscribed content types
      // (reference: unsubscribed feeds are never fetched at all)
      rowsDroppedByFilter = rowsFresh * cfg.duplicate - routedCount - quarantinedCount,
      rowsQuarantined = quarantinedCount,
      rowsRouted = routedCount)
  }

  /** The materialising pass of `processBatch`: dedup → parse → filter →
    * route, materialised once; every named sink write starts on `fanOut`,
    * which settles them all before the materialisation is released.
    * Returns the observed input, routed and quarantined row counts. */
  private def materialiseAndWrite(spark: SparkSession, in: DataFrame, backend: StateBackend,
                                  cfg: Config, recordSinks: Seq[(String, Routed => Unit)],
                                  outputPath: String => String,
                                  fanOut: Sinks.FanOut): (Long, Long, Long) = {
    // The input count is observed on this pass's own plan, so only the
    // materialising action fills it (a `limit`-style action on an observed
    // plan that ran first would fill it with a partial count).
    val inSeen = new Observation()
    val fresh = unseen(spark, in.observe(inSeen, count(lit(1)).as("rows")), backend, cfg)
    // Row multiplier for load testing (reference `duplicate`,
    // src/api_connection.rs:356-368) — applied AFTER dedup, like the
    // reference (known check precedes the duplicate enqueue), and only to
    // the processing branch (state still commits each id once).
    val inflated =
      if (cfg.duplicate > 1)
        fresh.withColumn("__dup", explode(array_repeat(lit(1), cfg.duplicate))).drop("__dup")
      else fresh

    // Stamp the emitting task's partition id BEFORE the filter so the
    // parsed/filtered/dropped per-partition metrics share one lineage
    // (north-rule per-partition lineage; the filter is narrow so the id is
    // exactly the task that parsed the row).
    val parsedSeen = new Observation()
    val filteredSeen = new Observation()
    val pid = col("__pid")
    val parsed = Parse.deriveFields(inflated)
      .withColumn("__pid", spark_partition_id())
      .observe(parsedSeen, RowsPerKey(pid).as("parsed"))
    val filtered = subscribedAndFiltered(parsed, cfg.rules, cfg.enabledTypes)
      .observe(filteredSeen,
        RowsPerKey(when(Route.isKnown, pid)).as("routed"),
        RowsPerKey(when(Route.isQuarantined, pid)).as("quarantined"))

    // One materialization feeds all sinks + quarantine (the reference clones
    // the batch per interface, src/collector.rs:215-226; we materialize
    // once). A localCheckpoint stores raw UnsafeRow blocks: the sink jobs
    // read the set back row-wise, so a columnar persist's transpose and
    // encode of the token arrays buys nothing — in interleaved A/Bs it
    // lost every pair by about 10% of run time, and recomputing per sink
    // instead of materializing cost 15.8 s against 6.6 s (BASELINE.md).
    // Eager, because an Observation is filled only by the action that runs
    // the observed plan: a lazy checkpoint would be built by a later
    // action whose plan no longer holds the observed nodes.
    // Trade-off: a localCheckpoint truncates lineage, so a lost executor
    // fails the job instead of recomputing; the run is idempotent by the
    // overwrite contract, so a re-run is safe.
    val filteredCached =
      labelled(spark.sparkContext, "materialize")(filtered.localCheckpoint(eager = true))
    try {
      val rowsIn = inSeen.get("rows").asInstanceOf[Long]
      val parsedPerPart = observedCounts(parsedSeen, "parsed")
      val routedPerPart = observedCounts(filteredSeen, "routed")
      val quarantinedPerPart = observedCounts(filteredSeen, "quarantined")
      val filteredPerPart = (routedPerPart.keySet ++ quarantinedPerPart.keySet).map { p =>
        p -> (routedPerPart.getOrElse(p, 0L) + quarantinedPerPart.getOrElse(p, 0L))
      }.toMap
      val routedCount = routedPerPart.values.sum
      val quarantinedCount = quarantinedPerPart.values.sum
      val quarantine = Route.quarantined(filteredCached).drop("__pid")
      val cached = Route.routed(filteredCached).drop("__pid")

      // Output-file sizing for the record sinks (see targetRowsPerFile):
      // never expands parallelism, only merges under-filled partitions —
      // and the MERGE is floored at the session default parallelism
      // (guide §2.6 idle capacity): the sink writes dominate the run, and
      // coalescing a small routed set below the core count (sf0.1: 393k
      // rows / 250k target = 2 write tasks on 32 cores) idles the machine
      // during its most expensive phase. At scale partsFor >> cores, so
      // the floor never binds and file sizing is unchanged. Note the
      // floor limits how far coalesce MERGES — an input that already
      // arrives with fewer partitions than cores keeps its own
      // parallelism (coalesce cannot expand; forcing a repartition here
      // would add an unmeasured full-payload exchange).
      val writeParallelism = spark.sparkContext.defaultParallelism
      def sizedBy(df: DataFrame, n: Long): DataFrame = {
        val p = math.max(1L, (n + cfg.targetRowsPerFile - 1) / cfg.targetRowsPerFile).toInt
        // the floor itself is row-bounded (≥1k rows per write task) so a
        // near-empty set (quarantine) still collapses to one file
        val floor = math.min(writeParallelism.toLong,
          math.max(1L, (n + 999) / 1000)).toInt
        df.coalesce(math.max(p, floor))
      }
      val routed = Routed(cached, sizedBy(cached, routedCount))
      // quarantine sized from ITS OWN count (usually ≈0; sizing it from the
      // routed count writes near-empty files when rules are lax and
      // oversized ones when they are strict)
      val quarantineSized = sizedBy(quarantine, quarantinedCount)

      // Per-partition lineage metrics (north rule): rows parsed / routed /
      // quarantined per emitting task, plus dropped-by-filter for every
      // parsed partition — all keyed on the __pid stamped before the
      // filter, so every stage shares one partition lineage. Built on the
      // driver from the observed counts: a few rows, no job.
      def stageRows(stage: String, perPart: Map[Int, Long]) =
        perPart.toSeq.sortBy(_._1).map { case (p, n) => Row(stage, p, n) }
      val partMetrics = spark.createDataFrame(java.util.Arrays.asList(
        (stageRows("routed", routedPerPart) ++
         stageRows("filtered", filteredPerPart) ++
         stageRows("parsed", parsedPerPart) ++
         stageRows("dropped_by_filter", parsedPerPart.map { case (p, n) =>
           p -> (n - filteredPerPart.getOrElse(p, 0L)) }) ++
         stageRows("quarantined", quarantinedPerPart)): _*), Schemas.metrics)
      recordSinks.foreach { case (name, sink) => fanOut.start(s"sink:$name")(sink(routed)) }
      def output(name: String)(df: => DataFrame): Unit =
        fanOut.start(s"sink:$name")(Sinks.write(df, outputPath(name)))
      // operational outputs: the aggregates are a handful of rows — one
      // file each, not one per shuffle partition
      output("prtg")(Sinks.prtgShape(cached).coalesce(1))
      output("checksums")(Sinks.routedChecksum(cached).coalesce(1))
      output("quarantine")(quarantineSized)
      output("metrics")(partMetrics.coalesce(1))
      fanOut.settle()
      (rowsIn, routedCount, quarantinedCount)
    } finally {
      // deterministic release (the ContextCleaner would otherwise wait for
      // GC): safe only once the fan-out has settled every job that reads
      // the blocks
      org.apache.spark.sql.graftglue.RddGlue.checkpointRdd(filteredCached)
        .foreach(_.unpersist(blocking = false))
    }
  }

  /** Runs `body` with this thread's Spark job description set to
    * `graft:<label>`, so each job it launches names its pipeline layer, and
    * restores the thread's previous description after. */
  private[graft] def labelled[A](sc: SparkContext, label: String)(body: => A): A = {
    val previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$label")
    try body finally sc.setJobDescription(previous)
  }

  /** One observed per-partition count map, keyed by `__pid`. */
  private def observedCounts(o: Observation, name: String): Map[Int, Long] =
    o.get(name).asInstanceOf[scala.collection.Map[Int, Long]].toMap

  /** Exact rows per non-null Int key, for `Dataset.observe`: Spark has no
    * exact per-key count aggregate (only sketches and the approximate
    * `histogram_numeric`). A NULL key counts nowhere, so `when(p, key)`
    * counts the rows that satisfy `p`. */
  private type Counts = mutable.HashMap[Int, Long]
  private val RowsPerKey = udaf(new Aggregator[java.lang.Integer, Counts, Map[Int, Long]] {
    def zero: Counts = mutable.HashMap.empty
    def reduce(b: Counts, k: java.lang.Integer): Counts = {
      if (k != null) b(k) = b.getOrElse(k, 0L) + 1L
      b
    }
    def merge(a: Counts, b: Counts): Counts = {
      b.foreach { case (k, n) => a(k) = a.getOrElse(k, 0L) + n }
      a
    }
    def finish(b: Counts): Map[Int, Long] = b.toMap
    def bufferEncoder: Encoder[Counts] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[Int, Long]] = ExpressionEncoder()
  }, Encoders.INT)
}
