package graft.streaming

import graft.SparkSuite
import graft.pipeline._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

class StreamingPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def writeBatch(dir: String, from: Long, to: Long): Unit =
    DataGen.sequences(spark, to, 2).filter(
      col("doc_id") >= format_string("doc-%012d", lit(from)))
      .write.mode("append").parquet(dir)

  test("AvailableNow drain: micro-batches route exactly the batch-mode rows") {
    val in = tmpDir("stream_in"); val out = tmpDir("stream_out")
    writeBatch(in, 0, 1500)
    val routed = StreamingPipeline.runAvailableNow(spark, in, out,
      maxFilesPerTrigger = 1)
    val expected = Pipeline.routedRecords(
      DataGen.sequences(spark, 1500L, 2), DataGen.routingRules)
    assert(routed === expected.count())
    val got = spark.read.parquet(s"$out/routed")
    assert(got.count() === expected.count())
    // token arrays intact through the streaming path
    val a = expected.select("doc_id", "tokens")
    val b = got.select("doc_id", "tokens")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("streaming + TCP transport: every micro-batch's routed rows hit the wire once") {
    val server = new graft.LineCaptureServer
    try {
      val in = tmpDir("stream_tx_in"); val out = tmpDir("stream_tx_out")
      writeBatch(in, 0, 600)
      writeBatch(in, 600, 1200)
      val port = server.port
      val routed = StreamingPipeline.runAvailableNow(spark, in, out,
        maxFilesPerTrigger = 1,
        transport = Some(df => Transport.sendGraylogTcp(df, "127.0.0.1", port)))
      // graylogShape drops nothing here (every routed row has CreationTime)
      server.awaitCount(routed)
      assert(server.received.size === routed, "each routed row wired exactly once")
      // doc ids on the wire == doc ids in the routed parquet, no dups
      val wireIds = server.received.toArray(Array.empty[String])
        .map(l => "\"doc_id\":\"(doc-\\d+)\"".r.findFirstMatchIn(l).get.group(1))
      assert(wireIds.length === wireIds.distinct.length)
      val fileIds = spark.read.parquet(s"$out/routed")
        .select("doc_id").as[String].collect().toSet
      assert(wireIds.toSet === fileIds)
    } finally server.close()
  }

  test("streaming and batch share ONE catalog-backed state (cfg.stateBackend honored)") {
    // regression for the round-4 review finding: StreamingPipeline used to
    // hardwire the snapshot store while honoring the rest of the same
    // Config — a catalog-backed deployment silently split its state and
    // the batch half re-emitted every streamed id as fresh.
    val backend = new CatalogStateBackend("graft_state_stream")
    val cfg = Pipeline.Config(stateBackend = Some(backend))
    val in = tmpDir("stream_cat_in"); val out = tmpDir("stream_cat_out")
    writeBatch(in, 0, 800)
    val streamed = StreamingPipeline.runAvailableNow(spark, in, out, cfg,
      maxFilesPerTrigger = 1)
    assert(streamed > 0)
    // the streamed ids landed in the catalog table…
    assert(backend.sizeHint(spark) === 800)
    // …so a BATCH run over the same input against the same backend dedups
    // everything (one state across both halves of the deployment)
    val r = Pipeline.run(spark, DataGen.sequences(spark, 800L, 2),
      tmpDir("stream_cat_batch"), cfg)
    assert(r.stats.rowsDeduped === r.stats.rowsIn)
    assert(r.stats.rowsRouted === 0)
  }

  test("second drain over new + old files emits only the new rows (ST2/ST4)") {
    val in = tmpDir("stream_in2"); val out = tmpDir("stream_out2")
    writeBatch(in, 0, 1000)
    val r1 = StreamingPipeline.runAvailableNow(spark, in, out)
    // late/re-delivered data: a new file containing rows 500..2000 overlaps
    writeBatch(in, 500, 2000)
    val r2 = StreamingPipeline.runAvailableNow(spark, in, out)
    val freshAll = Pipeline.routedRecords(
      DataGen.sequences(spark, 2000L, 2), DataGen.routingRules).count()
    assert(r1 + r2 === freshAll, "overlap must be absorbed by dedup")
    // no doc_id appears twice in the routed output
    val dups = spark.read.parquet(s"$out/routed")
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups === 0)
  }

  test("streaming honors subscriptions and duplicate like the batch path") {
    val in = tmpDir("stream_in6"); val out = tmpDir("stream_out6")
    writeBatch(in, 0, 500)
    val cfg = Pipeline.Config(enabledTypes = Seq("DLP.All"), duplicate = 2)
    val routedN = StreamingPipeline.runAvailableNow(spark, in, out, cfg)
    val got = spark.read.parquet(s"$out/routed")
    assert(got.select("content_type").distinct().as[String].collect() === Array("DLP.All"))
    val batchEquiv = Pipeline.routedRecords(DataGen.sequences(spark, 500L, 2),
      cfg.rules, cfg.enabledTypes).count() * 2
    assert(routedN === batchEquiv)
  }

  test("replay after state-commit crash never deletes committed batch outputs") {
    val in = tmpDir("stream_in7"); val out = tmpDir("stream_out7")
    writeBatch(in, 0, 800)
    StreamingPipeline.runAvailableNow(spark, in, out, maxFilesPerTrigger = 1)
    val routedBefore = spark.read.parquet(s"$out/routed").count()
    assert(routedBefore > 0)
    // simulate the worst crash window: the LAST micro-batch fully committed
    // its sinks AND dedup state, but died before the batch marker / engine
    // offset commit — on restart the engine replays that batch, whose rows
    // are now fully absorbed by the anti-join (fresh is empty)
    val lastBatch = new java.io.File(s"$out/_checkpoint/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    val ckCommits = java.nio.file.Paths.get(s"$out/_checkpoint/commits/$lastBatch")
    val marker = java.nio.file.Paths.get(s"$out/_batches/batch-$lastBatch")
    assert(java.nio.file.Files.deleteIfExists(ckCommits))
    // also the Hadoop checksum sidecar, or the re-commit rename fails
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$out/_checkpoint/commits/.$lastBatch.crc"))
    assert(java.nio.file.Files.deleteIfExists(marker))
    StreamingPipeline.runAvailableNow(spark, in, out, maxFilesPerTrigger = 1)
    // the replayed batch must NOT overwrite batch_id=0 with an empty set
    assert(spark.read.parquet(s"$out/routed").count() === routedBefore,
      "replayed batch deleted previously committed rows")
    assert(java.nio.file.Files.exists(marker), "replay must re-create the marker")
  }

  test("replay of a fully marked batch is skipped entirely") {
    val in = tmpDir("stream_in8"); val out = tmpDir("stream_out8")
    writeBatch(in, 0, 400)
    StreamingPipeline.runAvailableNow(spark, in, out, maxFilesPerTrigger = 1)
    val routedBefore = spark.read.parquet(s"$out/routed").count()
    val stateBefore = new StateStore(s"$out/state").currentSnapshot
    // lose only the engine's offset commit; marker intact
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$out/_checkpoint/commits/0"))
    StreamingPipeline.runAvailableNow(spark, in, out, maxFilesPerTrigger = 1)
    assert(spark.read.parquet(s"$out/routed").count() === routedBefore)
    // skipped batch must not advance dedup state either
    assert(new StateStore(s"$out/state").currentSnapshot === stateBefore)
  }

  test("windowed counts with watermark match the batch 24h window split") {
    val in = tmpDir("stream_in3"); val out = tmpDir("stream_out3")
    writeBatch(in, 0, 2000)
    // 1h watermark for the test so most windows close during the drain;
    // append mode only emits windows whose end <= final watermark
    StreamingPipeline.windowedCounts(spark, in, out, watermark = "1 hour")
    val got = spark.read.parquet(s"$out/windowed")
      .groupBy("window_start", "content_type").agg(sum("cnt").as("cnt"))
    val all = Parse.deriveFields(DataGen.sequences(spark, 2000L, 2))
      .withColumn("event_time", to_timestamp(col("CreationTime"), "yyyy-MM-dd'T'HH:mm:ss"))
    val maxEvent = all.agg(max(col("event_time").cast("long"))).as[Long].head()
    val watermarkTs = maxEvent - 3600
    val expected = all
      .groupBy(window(col("event_time"), "24 hours").as("w"), col("content_type"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .filter(col("w.end").cast("long") <= watermarkTs)
      .select(col("w.start").as("window_start"), col("content_type"), col("cnt"))
    assert(expected.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("streaming session_window matches batch sessionization on closed sessions") {
    val in = tmpDir("stream_sess_in"); val out = tmpDir("stream_sess_out")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("append").parquet(in)
    StreamingPipeline.sessionCounts(spark, in, out, events.schema,
      "user_id", "ts", gapSeconds = 1800, watermark = "1 hour")
    val got = spark.read.parquet(s"$out/sessions")
      .select("user_id", "session_start", "n_events")
    // batch ground truth, restricted to sessions CLOSED at the final
    // watermark (append mode emits nothing later)
    val batch = graft.ops.EventOps.sessionWindowCounts(
      events.withColumn("ts", col("ts").cast("timestamp")), "user_id", "ts", 1800)
    val maxEvent = events.agg(max(col("ts").cast("timestamp").cast("long"))).as[Long].head()
    val expected = batch
      .filter(col("session_end").cast("long") <= maxEvent - 3600)
      .select("user_id", "session_start", "n_events")
    assert(expected.count() > 0, "fixture must close some sessions under the watermark")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "closed streaming sessions must equal the batch session set")
  }

  test("micro-batches quarantine rows with no known content type, as the batch path does") {
    val in = tmpDir("stream_quar_in"); val out = tmpDir("stream_quar_out")
    writeBatch(in, 0, 400)
    // malformed ids derive a NULL content type, so no bucket routes them
    val good = DataGen.sequences(spark, 1L, 1)
    val bogus = Seq("doc-7garbage1234", "doc-nodigits-here")
    bogus.map(id => good.withColumn("doc_id", lit(id))).reduce(_ unionByName _)
      .write.mode("append").parquet(in)
    val routedN = StreamingPipeline.runAvailableNow(spark, in, out, maxFilesPerTrigger = 1)
    val quarantine = spark.read.parquet(s"$out/quarantine")
    assert(quarantine.select("doc_id").as[String].collect().sorted === bogus.sorted)
    assert(quarantine.filter(col("content_type").isNotNull).count() === 0)
    val routed = spark.read.parquet(s"$out/routed")
    assert(routed.filter(col("doc_id").isin(bogus: _*)).count() === 0, "routed leaked")
    assert(routedN === Pipeline.routedRecords(DataGen.sequences(spark, 400L, 2),
      DataGen.routingRules).count())
  }

  test("a transport that throws fails its micro-batch before the marker and the state " +
       "commit; the next drain's outputs equal a clean drain's") {
    val in = tmpDir("stream_fail_in")
    writeBatch(in, 0, 300); writeBatch(in, 300, 600); writeBatch(in, 600, 900)
    val sends = new java.util.concurrent.atomic.AtomicInteger(0)
    val working: DataFrame => Long = _.count()
    val failsOnBatch1: DataFrame => Long = df =>
      if (sends.getAndIncrement() == 1) throw new java.io.IOException("transport down")
      else working(df)

    val out = tmpDir("stream_fail_out")
    val err = intercept[StreamingQueryException] {
      StreamingPipeline.runAvailableNow(spark, in, out, maxFilesPerTrigger = 1,
        transport = Some(failsOnBatch1))
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "transport down"), s"unexpected failure: $err")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/_batches/batch-0")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/_batches/batch-1")),
      "the failed batch must get no marker")
    val store = new StateStore(s"$out/state")
    assert(store.currentSnapshot === Some(0), "the failed batch must commit no state")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store.snapshotPath(1))))

    StreamingPipeline.runAvailableNow(spark, in, out, maxFilesPerTrigger = 1,
      transport = Some(working))
    val clean = tmpDir("stream_fail_clean")
    StreamingPipeline.runAvailableNow(spark, in, clean, maxFilesPerTrigger = 1,
      transport = Some(working))
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def routed(dir: String) =
      spark.read.parquet(s"$dir/routed").select("batch_id", "doc_id", "tokens")
    def checksums(dir: String) = spark.read.parquet(s"$dir/checksums")
    def committed(dir: String) =
      new StateStore(s"$dir/state").load(spark, Pipeline.Config().nowEpochSec).select("content_id")
    assert(routed(out).count() > 0)
    assert(same(routed(out), routed(clean)), "routed differs from a clean drain")
    assert(same(checksums(out), checksums(clean)), "checksums differ from a clean drain")
    assert(committed(out).count() === 900)
    assert(same(committed(out), committed(clean)), "committed ids differ from a clean drain")
  }
}
