package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    tenant: String = "MyTenant",
    skipKnownLogs: Boolean = true,
    // also collapse duplicate ids WITHIN one run (reference semantics:
    // sequential contains_key+insert drops in-run repeats too). Off by
    // default — it costs an exchange, and the engine's own sources carry
    // unique ids; enable for sources that can repeat ids in one batch.
    dedupWithinRun: Boolean = false,
    enabledTypes: Seq[String] = Schemas.ContentTypes,
    duplicate: Int = 1,
    nowEpochSec: Long = Parse.BaseEpoch + Parse.SpanSeconds,
    expirationEpochSec: Long = Parse.BaseEpoch + 30L * 24 * 3600,
    // Target rows per output file for the record sinks. 64 input
    // partitions × 8 concurrent sinks × partitionBy values = hundreds of
    // tiny parquet files per run — the classic small-files problem, paid
    // once in write overhead and forever by every downstream scan. Sizing
    // uses the already-materialized routed count and a narrow coalesce
    // (no exchange). 0 disables (one file per cache partition).
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
    stateBackend: Option[StateBackend] = None)

  case class Result(stats: RunStats, snapshot: Option[Int])

  /** The transform core, sink-agnostic: sequences → routed records.
    * Pure function, unit-testable without I/O. `enabledTypes` mirrors the
    * reference's per-type subscriptions (src/config.rs:149-182): rows of
    * disabled types never enter the pipeline. */
  def routedRecords(sequences: DataFrame, rules: Seq[RoutingRule],
                    enabledTypes: Seq[String] = Schemas.ContentTypes): DataFrame =
    Route.routed(subscribedAndFiltered(Parse.deriveFields(sequences), rules, enabledTypes))

  /** Subscribe → rules filter over parsed records: the one definition
    * `routedRecords` and `run` share (`run` stamps `__pid` on `parsed`
    * first). */
  private def subscribedAndFiltered(parsed: DataFrame, rules: Seq[RoutingRule],
                                    enabledTypes: Seq[String]): DataFrame = {
    val subscribed =
      if (enabledTypes == Schemas.ContentTypes) parsed
      else parsed.filter(col("content_type").isin(enabledTypes: _*))
    FilterStage.applyStatic(subscribed, rules)
  }

  /**
   * Dedup → `duplicate` inflation, shared by `run` and the streaming
   * micro-batch. Returns `(fresh, inflated)`: `fresh` holds each new id
   * once and is what the state commits; `inflated` is what the transform
   * processes.
   */
  private[graft] def freshAndInflated(spark: SparkSession, in: DataFrame,
                                      backend: StateBackend,
                                      cfg: Config): (DataFrame, DataFrame) = {
    val fresh =
      if (cfg.skipKnownLogs)
        StateStore.dedup(in, backend.load(spark, cfg.nowEpochSec),
          withinBatch = cfg.dedupWithinRun)
      else if (cfg.dedupWithinRun) in.dropDuplicates("doc_id")
      else in
    // Row multiplier for load testing (reference `duplicate`,
    // src/api_connection.rs:356-368) — applied AFTER dedup, like the
    // reference (known check precedes the duplicate enqueue), and only to
    // the processing branch (state still commits each id once).
    val inflated =
      if (cfg.duplicate > 1)
        fresh.withColumn("__dup", explode(array_repeat(lit(1), cfg.duplicate)))
          .drop("__dup")
      else fresh
    (fresh, inflated)
  }

  /**
   * Full run: read → dedup → parse → filter → route → write sinks →
   * commit state. Returns per-stage counts (the reference's found/saved
   * statistics) computed as cheap aggregations over the materialized
   * filtered set plus parquet-footer counts — no extra full pass over the
   * input.
   */
  def run(spark: SparkSession, sequences: DataFrame, outDir: String,
          cfg: Config = Config()): Result = {

    val backend = cfg.stateBackend.getOrElse(
      new SnapshotStateBackend(new StateStore(s"$outDir/state")))

    val (fresh, inflated) = freshAndInflated(spark, sequences, backend, cfg)

    // Stamp the emitting task's partition id BEFORE the filter so the
    // parsed/filtered/dropped per-partition metrics share one lineage
    // (north-rule per-partition lineage; the filter is narrow so the id is
    // exactly the task that parsed the row).
    val parsed = Parse.deriveFields(inflated)
      .withColumn("__pid", spark_partition_id())
    val filtered = subscribedAndFiltered(parsed, cfg.rules, cfg.enabledTypes)

    // One materialization feeds all sinks + quarantine (the reference clones
    // the batch per interface, src/collector.rs:215-226; we materialize
    // once). A localCheckpoint stores raw UnsafeRow blocks: the sink jobs
    // read the set back row-wise, so a columnar persist's transpose and
    // encode of the token arrays buys nothing — in interleaved A/Bs it
    // lost every pair by about 10% of run time, and recomputing per sink
    // instead of materializing cost 15.8 s against 6.6 s (BASELINE.md).
    // Trade-off: a localCheckpoint truncates lineage, so a lost executor
    // fails the job instead of recomputing; the run is idempotent by the
    // overwrite contract, so a re-run is safe.
    val filteredCached = filtered.localCheckpoint(eager = false)
    val quarantineP = Route.quarantined(filteredCached)
    val routedP = Route.routed(filteredCached)
    val quarantine = quarantineP.drop("__pid")
    val cached = routedP.drop("__pid")
    try {
      // Materialize the shared cache once (otherwise the first concurrent
      // sink job would build it while the others wait on cache locks).
      val routedCount = cached.count()
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
      def sizedBy(df: DataFrame, n: Long): DataFrame =
        if (cfg.targetRowsPerFile <= 0) df
        else {
          val p = math.max(1L, (n + cfg.targetRowsPerFile - 1) / cfg.targetRowsPerFile).toInt
          // the floor itself is row-bounded (≥1k rows per write task) so a
          // near-empty set (quarantine) still collapses to one file
          val floor = math.min(writeParallelism.toLong,
            math.max(1L, (n + 999) / 1000)).toInt
          df.coalesce(math.max(p, floor))
        }
      def sized(df: DataFrame) = sizedBy(df, routedCount)
      // quarantine sized from ITS OWN count (usually ≈0; sizing it from the
      // routed count writes near-empty files when rules are lax and
      // oversized ones when they are strict) — a cache-served count
      val quarantineSized = sizedBy(quarantine, quarantine.count())

      val salted = Route.saltedForWrite(cached, cfg.saltBuckets)
      // Per-partition lineage metrics (north rule): rows parsed / routed /
      // quarantined per emitting task, plus dropped-by-filter derived per
      // partition — all keyed on the __pid stamped before the filter, so
      // every stage shares one partition lineage.
      def perPartition(df: DataFrame, stage: String) =
        df.groupBy(col("__pid").as("partition_id"))
          .agg(count(lit(1)).as("rows"))
          .select(lit(stage).as("stage"), col("partition_id"), col("rows"))
      val parsedPerPart = perPartition(parsed, "parsed")
      val filteredPerPart = perPartition(filteredCached, "filtered")
      val droppedPerPart = parsedPerPart.select(col("partition_id"), col("rows").as("p_rows"))
        .join(filteredPerPart.select(col("partition_id"), col("rows").as("f_rows")),
          Seq("partition_id"), "left_outer")
        .select(lit("dropped_by_filter").as("stage"), col("partition_id"),
          (col("p_rows") - coalesce(col("f_rows"), lit(0L))).as("rows"))
      val partMetrics = perPartition(routedP, "routed")
        .unionByName(filteredPerPart)
        .unionByName(parsedPerPart)
        .unionByName(droppedPerPart)
        .unionByName(perPartition(quarantineP, "quarantined"))
      val recordSinks: Seq[() => Unit] = cfg.output match {
        case None => Seq( // engine default: all sink shapes
          () => Sinks.write(Sinks.fileCsvShape(salted), s"$outDir/file_csv", Seq("content_type")),
          () => Sinks.write(Sinks.graylogShape(sized(cached)), s"$outDir/graylog"),
          () => Sinks.write(Sinks.fluentdShape(sized(cached), cfg.tenant), s"$outDir/fluentd"),
          () => Sinks.write(Sinks.logAnalyticsShape(sized(cached)), s"$outDir/log_analytics", Seq("log_type")))
        case Some(out) => // reference semantics: only enabled interfaces
          out.file.filter(_.enabled).map { f => () =>
            if (f.separateByContentType)
              { CsvSink.writeSeparated(cached, s"$outDir/${f.path}", f.separator); () }
            else CsvSink.writeUnified(salted, s"$outDir/${f.path}", f.separator)
          }.toSeq ++
          out.graylog.filter(_.enabled).map(_ => () =>
            Sinks.write(Sinks.graylogShape(sized(cached)), s"$outDir/graylog")) ++
          out.fluentd.filter(_.enabled).map(f => () =>
            Sinks.write(Sinks.fluentdShape(sized(cached), f.tenantName), s"$outDir/fluentd")) ++
          out.azureLogAnalytics.filter(_.enabled).map(_ => () =>
            Sinks.write(Sinks.logAnalyticsShape(sized(cached)), s"$outDir/log_analytics", Seq("log_type")))
      }
      // operational outputs: the aggregates are a handful of rows — one
      // file each, not one per shuffle partition
      Sinks.fanOut(recordSinks ++ Seq(
        () => Sinks.write(Sinks.prtgShape(cached).coalesce(1), s"$outDir/prtg"),
        () => Sinks.write(Sinks.routedChecksum(cached).coalesce(1), s"$outDir/checksums"),
        () => Sinks.write(quarantineSized, s"$outDir/quarantine"),
        () => Sinks.write(partMetrics.coalesce(1), s"$outDir/metrics")))

      // State commit strictly AFTER all sink writes (resume contract).
      // The reference marks every RECEIVED blob known, including rows the
      // filter later drops (src/collector.rs:161 precedes the filter at
      // :176-184) — so commit all fresh ids, not just routed ones. This is
      // a second, column-pruned pass over the input (doc_id only), cheaper
      // at scale than keeping the pre-filter set cached through the fan-out.
      val rowsFresh = backend.commit(spark, fresh.select("doc_id"), "doc_id",
        cfg.expirationEpochSec, cfg.nowEpochSec)

      // Stats: all counts are either storage metadata counts (input,
      // committed snapshot — backend.commit returns the footer count) or
      // served from the materialized filtered set — no extra full passes
      // (reference's RunStatistics, A1/A4).
      val rowsIn = sequences.count()
      val rowsFiltered = filteredCached.count()
      val rowsRouted = cached.count()
      val stats = RunStats(
        rowsIn = rowsIn,
        rowsDeduped = rowsIn - rowsFresh,
        // dropped-by-filter includes rows of non-subscribed content types
        // (reference: unsubscribed feeds are never fetched at all)
        rowsDroppedByFilter = rowsFresh * cfg.duplicate - rowsFiltered,
        rowsQuarantined = rowsFiltered - rowsRouted,
        rowsRouted = rowsRouted)
      Result(stats, backend.currentVersion)
    } finally {
      // deterministic release (the ContextCleaner would otherwise wait for
      // GC): safe because fanOut has settled every sink job and every stat
      // is collected before this point — nothing re-reads the blocks
      org.apache.spark.sql.graftglue.RddGlue.checkpointRdd(filteredCached)
        .foreach(_.unpersist(blocking = false))
    }
  }
}
