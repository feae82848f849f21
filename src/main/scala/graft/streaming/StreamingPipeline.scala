package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline._
import java.nio.file.{Files, Paths, StandardCopyOption}

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
 *  - `foreachBatch` runs the SAME batch core per micro-batch
 *    (`Pipeline.processBatch`): anti-join dedup vs the state backend, parse,
 *    filter, route, one materialisation, the sink fan-out, then the state
 *    commit — so batch and streaming share one code path and one
 *    exactly-once contract (state committed after every sink write;
 *    re-delivery absorbed by the anti-join, ST4). Micro-batch N writes
 *    `routed/batch_id=N` (plus the optional `transport`),
 *    `prtg_batches/batch_id=N`, and `quarantine/`, `checksums/` and
 *    `metrics/` each under `batch_id=N`.
 *  - `Trigger.AvailableNow` drains everything available and stops — the
 *    reference's bounded "collect run" semantics with resumability.
 *  - `maxFilesPerTrigger` bounds micro-batch size (the cacheSize analog,
 *    ST5 backpressure).
 */
object StreamingPipeline {

  /** Run one AvailableNow drain over `inputDir`. Returns rows routed, the
    * sum of each micro-batch's `RunStats.rowsRouted`.
    *
    * `transport`, when set, emits each micro-batch's routed rows over a
    * byte-level sink (e.g. `Transport.sendGraylogTcp`) as one more record
    * sink of the core, so a failed send fails the batch before its state
    * commit and a fully-committed batch is never re-sent on restart.
    * Delivery is at-least-once at the wire (a crash between the socket emit
    * and the marker re-sends that one batch — exactly the reference's retry
    * behavior; its Graylog input has no dedup either), while the FILE
    * outputs stay exactly-once via the marker protocol. */
  def runAvailableNow(spark: SparkSession, inputDir: String, outDir: String,
                      cfg: Pipeline.Config = Pipeline.Config(),
                      maxFilesPerTrigger: Int = 4,
                      transport: Option[DataFrame => Long] = None): Long = {
    // the same state as batch Pipeline.run over the same Config: the
    // batch/streaming halves of a deployment must share ONE state or every
    // streamed id re-emits as fresh in the batch path
    val backend = Pipeline.stateBackend(cfg, outDir)
    val routedTotal = new java.util.concurrent.atomic.AtomicLong(0)
    val markerDir = Paths.get(s"$outDir/_batches")

    val q = spark.readStream
      .schema(Schemas.sequences)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .writeStream
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
        //    Only a replay evaluates `fresh`, on a plan of its own: the
        //    core's observed input count must be filled by the core alone.
        //  - otherwise: (re)write; mode("overwrite") makes partial-write
        //    retries idempotent.
        val marker = markerDir.resolve(s"batch-$batchId")
        val batchDir = s"$outDir/routed/batch_id=$batchId"
        if (!Files.exists(marker)) {
          val replayAfterStateCommit = Files.exists(Paths.get(batchDir)) &&
            Pipeline.unseen(spark, batch, backend, cfg).isEmpty
          if (!replayAfterStateCommit) {
            val recordSinks = ((r: Pipeline.Routed) => Sinks.write(r.cached, batchDir)) +:
              transport.toSeq.map(send => (r: Pipeline.Routed) => { send(r.cached); () })
            routedTotal.addAndGet(Pipeline.processBatch(spark, batch, backend, cfg, recordSinks, {
              case "prtg" => s"$outDir/prtg_batches/batch_id=$batchId"
              case name => s"$outDir/$name/batch_id=$batchId"
            }).rowsRouted)
          }
          // durable batch-completion marker (atomic create-and-move, like
          // the state pointer swap)
          Files.createDirectories(markerDir)
          Files.move(Files.write(markerDir.resolve(s"batch-$batchId.tmp"), Array.emptyByteArray),
            marker, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
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
}
