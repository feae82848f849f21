package graft.pipeline

import graft.SparkSuite
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** The jobs of a collection pass: each names its pipeline layer, and a
  * failed fan-out write cancels its siblings' running jobs. */
class FanOutJobsSpec extends SparkSuite {

  /** Every job `f` starts: its description and how it ended. */
  private case class Job(description: Option[String], result: Option[JobResult])

  private def jobsOf[A](f: => A): (Either[Throwable, A], Seq[Job]) = {
    val started = new ConcurrentHashMap[Int, Option[String]]()
    val ended = new ConcurrentHashMap[Int, JobResult]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        started.put(s.jobId, Option(s.properties).flatMap(p => Option(p.getProperty("spark.job.description"))))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.jobResult)
    }
    spark.sparkContext.addSparkListener(l)
    // listener delivery is async; give the bus time to drain (as ParSpec)
    val out = try { val r = try Right(f) catch { case e: Throwable => Left(e) }; Thread.sleep(1500); r }
      finally spark.sparkContext.removeSparkListener(l)
    (out, started.asScala.toSeq.sortBy(_._1).map { case (id, d) => Job(d, Option(ended.get(id))) })
  }

  private val cfg = Pipeline.Config()

  private def withState(out: String): String = {
    new StateStore(s"$out/state").commit(spark, DataGen.sequences(spark, 500L, 2).select("doc_id"),
      "doc_id", cfg.expirationEpochSec, cfg.nowEpochSec)
    out
  }

  test("every job of a Pipeline.run carries a graft: description naming its layer") {
    val dir = tmpDir("labels")
    DataGen.sequences(spark, 2000L, 4).write.parquet(s"$dir/input")
    val out = withState(tmpDir("labels_out"))
    val input = spark.read.parquet(s"$dir/input")
    val (res, jobs) = jobsOf(Pipeline.run(spark, input, out))
    assert(res.map(_.stats.rowsDeduped) === Right(500L))
    val unlabelled = jobs.filterNot(_.description.exists(_.startsWith("graft:")))
    assert(unlabelled.isEmpty, s"jobs without a graft: description: $unlabelled")
    assert(jobs.flatMap(_.description).toSet === Set("materialize", "state",
      "sink:file_csv", "sink:graylog", "sink:fluentd", "sink:log_analytics",
      "sink:prtg", "sink:checksums", "sink:quarantine", "sink:metrics").map("graft:" + _))
    // no schema inference: the materialising pass is the state broadcast
    // and the checkpoint
    assert(jobs.count(_.description.contains("graft:materialize")) <= 2, jobs.mkString("\n"))
  }

  test("every job of a streaming micro-batch carries a graft: description") {
    val dir = tmpDir("labels_stream")
    DataGen.sequences(spark, 1000L, 2).write.parquet(s"$dir/input")
    val out = withState(tmpDir("labels_stream_out"))
    val (res, jobs) = jobsOf(graft.streaming.StreamingPipeline.runAvailableNow(
      spark, s"$dir/input", out))
    assert(res.isRight, res)
    val unlabelled = jobs.filterNot(_.description.exists(_.startsWith("graft:")))
    assert(unlabelled.isEmpty, s"jobs without a graft: description: $unlabelled")
    assert(jobs.exists(_.description.contains("graft:sink:routed")))
  }

  test("a failing sink cancels a sibling's running job; state stays unpublished") {
    val out = tmpDir("cancel")
    val store = new StateStore(s"$out/state")
    val backend = new SnapshotStateBackend(store)
    val boom = new IllegalStateException("sink failed")
    val t0 = System.nanoTime()
    val (res, jobs) = jobsOf(Pipeline.processBatch(spark, DataGen.sequences(spark, 500L, 2),
      backend, cfg, Seq(
        // up to 60 s per task unless the task is killed
        "slow" -> (r => r.cached.rdd.foreachPartition { _ =>
          FanOutJobsSpec.slowTaskStarted.countDown()
          val tc = TaskContext.get()
          var i = 0
          while (i < 1200 && !tc.isInterrupted()) { Thread.sleep(50); i += 1 }
          if (i < 1200) { FanOutJobsSpec.killedEarly.incrementAndGet(); () }
        }),
        "boom" -> (_ => { FanOutJobsSpec.slowTaskStarted.await(60, TimeUnit.SECONDS); throw boom })),
      name => s"$out/$name"))
    val seconds = (System.nanoTime() - t0) / 1e9

    assert(res.left.toOption.exists(_ eq boom), s"not the failing sink's own error: $res")
    val slow = jobs.filter(_.description.contains("graft:sink:slow"))
    assert(slow.nonEmpty && slow.forall(j => j.result.exists(_ != JobSucceeded) &&
      j.result.toString.contains("cancel")), s"slow sink's jobs: $slow")
    assert(seconds < 45, s"the fan-out waited out the sibling's job: $seconds s")
    assert(FanOutJobsSpec.killedEarly.get > 0, "no task of the slow job saw the cancellation")
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, "a job is still running")
    assert(backend.currentVersion.isEmpty, "state published after a failed sink")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store.snapshotPath(0))),
      "the failed run left its staged delta behind")
  }
}

object FanOutJobsSpec {
  // Static, because a task runs a deserialized copy of its closure: the
  // slow sink's tasks report here (tests run in local mode, in this JVM).
  val slowTaskStarted = new CountDownLatch(1)
  val killedEarly = new AtomicInteger(0)
}
