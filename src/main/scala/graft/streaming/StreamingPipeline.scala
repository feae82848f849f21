package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline._

/**
 * Structured Streaming face of the pipeline (SURVEY.md §2.8).
 *
 * The reference micro-batches with a 500k-row cache flush and dedups
 * against `known_blobs` (ST1/ST2, src/collector.rs:188-191,
 * src/data_structures.rs:26-33). Here:
 *
 *  - `readStream.parquet` over the sequences directory is the unbounded
 *    source (new files = new micro-batches; at scale this is a streaming
 *    table read / Kafka topic).
 *  - `foreachBatch` runs the SAME batch core per micro-batch: anti-join
 *    dedup vs the snapshot state store, parse, filter, route, append to
 *    sinks, then commit state — so batch and streaming share one code path
 *    and one exactly-once contract (state committed after the sink write;
 *    re-delivery absorbed by the anti-join, ST4).
 *  - `Trigger.AvailableNow` drains everything available and stops — the
 *    reference's bounded "collect run" semantics with resumability.
 *  - `maxFilesPerTrigger` bounds micro-batch size (the cacheSize analog,
 *    ST5 backpressure).
 */
object StreamingPipeline {

  /** Run one AvailableNow drain over `inputDir`. Returns rows routed.
    *
    * `transport`, when set, emits each micro-batch's routed rows over a
    * byte-level sink (e.g. `Transport.sendGraylogTcp`) inside the
    * marker-guarded block — so a fully-committed batch is never re-sent on
    * restart. Delivery is at-least-once at the wire (a crash between the
    * socket emit and the marker re-sends that one batch — exactly the
    * reference's retry behavior; its Graylog input has no dedup either),
    * while the FILE outputs stay exactly-once via the marker protocol. */
  def runAvailableNow(spark: SparkSession, inputDir: String, outDir: String,
                      cfg: Pipeline.Config = Pipeline.Config(),
                      maxFilesPerTrigger: Int = 4,
                      transport: Option[DataFrame => Long] = None): Long = {
    // same state seam as batch Pipeline.run: snapshot store by default, a
    // catalog table (or anything else) when the Config says so — the
    // batch/streaming halves of a deployment must share ONE state or every
    // streamed id re-emits as fresh in the batch path
    val backend = cfg.stateBackend.getOrElse(
      new SnapshotStateBackend(new StateStore(s"$outDir/state")))
    val routedTotal = new java.util.concurrent.atomic.AtomicLong(0)

    val stream = spark.readStream
      .schema(Schemas.sequences)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)

    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Exactly-once across EVERY crash window. The commit order is
        //   sink writes → state commit → batch marker → (engine) offsets.
        // Replays are disambiguated without trusting the dedup state:
        //  - marker present: this batch fully committed before the crash
        //    (offset commit was lost) → skip everything;
        //  - marker absent but the batch dir exists AND the anti-join
        //    absorbs the whole batch: the crash hit between state commit
        //    and marker — the previous outputs are complete; overwriting
        //    them with the now-empty `fresh` would DELETE them. Keep them.
        //  - otherwise: (re)write; mode("overwrite") makes partial-write
        //    retries idempotent.
        val markerDir = java.nio.file.Paths.get(s"$outDir/_batches")
        val marker = markerDir.resolve(s"batch-$batchId")
        val batchDir = java.nio.file.Paths.get(s"$outDir/routed/batch_id=$batchId")
        if (!java.nio.file.Files.exists(marker)) {
          val (fresh, inflated) = Pipeline.freshAndInflated(spark, batch, backend, cfg)
          val replayAfterStateCommit =
            java.nio.file.Files.exists(batchDir) && fresh.isEmpty
          if (!replayAfterStateCommit) {
            val routed = Pipeline.routedRecords(inflated, cfg.rules, cfg.enabledTypes)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              routed.write.mode("overwrite").parquet(batchDir.toString)
              Sinks.prtgShape(routed)
                .write.mode("overwrite").parquet(s"$outDir/prtg_batches/batch_id=$batchId")
              transport.foreach(send => send(routed))
              routedTotal.addAndGet(routed.count())
              // commit all received ids (filtered rows included — reference
              // semantics, src/collector.rs:161) strictly after the writes
              backend.commit(spark, fresh.select("doc_id"), "doc_id",
                cfg.expirationEpochSec, cfg.nowEpochSec)
              ()
            } finally routed.unpersist()
          }
          // durable batch-completion marker (atomic create-and-move, like
          // the state pointer swap)
          java.nio.file.Files.createDirectories(markerDir)
          val tmp = markerDir.resolve(s"batch-$batchId.tmp")
          java.nio.file.Files.write(tmp, Array.emptyByteArray)
          java.nio.file.Files.move(tmp, marker,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        ()
      }
      .start()
    q.awaitTermination()
    routedTotal.get()
  }

  /**
   * Event-time tumbling-window counts with a watermark (ST3/ST4): 24h
   * collection windows over CreationTime, 168h late-data horizon —
   * the reference's look-back re-scan bound (src/config.rs:34-37).
   * Append-mode windowed aggregation; results land once a window closes.
   */
  // Default watermark is 24h, NOT the reference's 168h look-back: the
  // watermark is the LATENESS bound, and in append mode a window only
  // emits once the watermark passes its end — a 168h watermark over data
  // whose whole CreationTime span is 168h means no window ever closes and
  // an AvailableNow drain writes nothing. Callers modeling the reference's
  // full late-data horizon can still pass "168 hours" explicitly (and
  // should then expect results only as the stream outlives the horizon).
  def windowedCounts(spark: SparkSession, inputDir: String, outDir: String,
                     watermark: String = "24 hours"): Unit = {
    val parsed = Parse.deriveFields(
      spark.readStream.schema(Schemas.sequences).parquet(inputDir))
      .withColumn("event_time",
        to_timestamp(col("CreationTime"), "yyyy-MM-dd'T'HH:mm:ss"))
    val agg = parsed
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "24 hours"), col("content_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("content_type"), col("cnt"))
    val q = agg.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint_win")
      .format("parquet")
      .option("path", s"$outDir/windowed")
      .start()
    q.awaitTermination()
  }

  /**
   * Streaming sessionization: the SAME `session_window` gap-merge
   * semantics as `EventOps.sessionWindowCounts` (EventOpsSpec pins the
   * batch expression ≡ the lag/cumsum formulation), run under a watermark
   * — sessions close and emit once the watermark passes their end + gap,
   * late events inside the watermark still merge/extend their session.
   * Append mode: only closed sessions reach the sink (exactly-once with
   * the parquet sink's commit log).
   */
  def sessionCounts(spark: SparkSession, inputDir: String, outDir: String,
                    schema: org.apache.spark.sql.types.StructType,
                    entityCol: String, tsCol: String, gapSeconds: Long,
                    watermark: String = "1 hour"): Unit = {
    // delegate to the ONE session_window expression (EventOps) so batch,
    // native and streaming sessionization cannot drift apart
    val agg = graft.ops.EventOps.sessionWindowCounts(
      spark.readStream.schema(schema).parquet(inputDir)
        .withColumn("__ts", col(tsCol).cast("timestamp"))
        .withWatermark("__ts", watermark),
      entityCol, "__ts", gapSeconds)
    val q = agg.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint_sess")
      .format("parquet")
      .option("path", s"$outDir/sessions")
      .start()
    q.awaitTermination()
  }

  /**
   * Custom stateful dedup with TTL via flatMapGroupsWithState — the exact
   * `known_blobs` semantics (id → expiration; expired ids re-admitted,
   * src/config.rs:92-106) expressed in Spark's keyed state API. Each key
   * (doc_id) keeps one expiration; a row is emitted only when no live
   * state exists; the state times out after `ttl`, after which the id is
   * re-admitted (the reference's load-time expiry filter).
   */
  def statefulDedup(sequences: org.apache.spark.sql.Dataset[SequenceRow],
                    ttlMillis: Long = 30L * 24 * 3600 * 1000)
      : org.apache.spark.sql.Dataset[SequenceRow] = {
    import sequences.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    sequences
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Long, SequenceRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        // state value = expiration epoch-millis, checked on access — the
        // reference's load-time expiry (src/config.rs:92-106). NoTimeout:
        // ProcessingTimeTimeout keeps an AvailableNow drain alive waiting
        // for wall-clock timeouts; expired entries are instead overwritten
        // in place on re-arrival. (Production long-running streams would
        // add EventTimeTimeout + watermark to also GC the state.)
        (_: String, rows: Iterator[SequenceRow], state: GroupState[Long]) =>
          val now = state.getCurrentProcessingTimeMs()
          if (state.exists && state.get > now) {
            Iterator.empty // known and unexpired → dedup
          } else {
            val first = if (rows.hasNext) Iterator.single(rows.next()) else Iterator.empty
            state.update(now + ttlMillis)
            first
          }
      }
  }

  /** Drain `inputDir` through the flatMapGroupsWithState dedup, writing
    * survivors to `outDir/deduped`. */
  def runStatefulDedup(spark: SparkSession, inputDir: String, outDir: String): Unit = {
    import spark.implicits._
    val in = spark.readStream.schema(Schemas.sequences).parquet(inputDir)
      .as[SequenceRow]
    val q = statefulDedup(in).writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint_fmgs")
      .format("parquet")
      .option("path", s"$outDir/deduped")
      .start()
    q.awaitTermination()
  }

  /** Streaming-native dedup alternative (ST2): drop duplicate doc_ids
    * within the watermark horizon using Spark's built-in streaming state —
    * demonstrates the `dropDuplicatesWithinWatermark` path where the
    * snapshot state store is not wanted. */
  def streamingDedupCounts(spark: SparkSession, inputDir: String, outDir: String): Unit = {
    val parsed = Parse.deriveFields(
      spark.readStream.schema(Schemas.sequences).parquet(inputDir))
      .withColumn("event_time",
        to_timestamp(col("CreationTime"), "yyyy-MM-dd'T'HH:mm:ss"))
      .withWatermark("event_time", "168 hours")
      .dropDuplicatesWithinWatermark("doc_id")
    val q = parsed
      .groupBy(col("content_type"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint_dd")
      .format("memory")
      .queryName("dedup_counts")
      .start()
    q.awaitTermination()
  }
}
