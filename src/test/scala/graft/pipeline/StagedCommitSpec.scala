package graft.pipeline

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The two-step state commit: `stage` runs beside the sink writes, and
  * `publish` makes the ids visible only after every sink write settled. */
class StagedCommitSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = Pipeline.Config()
  private def knownIds = DataGen.sequences(spark, 500L, 2).select("doc_id")

  private def withState(out: String): String = {
    new StateStore(s"$out/state").commit(spark, knownIds, "doc_id",
      cfg.expirationEpochSec, cfg.nowEpochSec)
    out
  }

  private def loadedIds(store: StateStore): Array[String] =
    store.load(spark, cfg.nowEpochSec).select("content_id").as[String].collect().sorted

  private def checksums(dir: String) =
    spark.read.parquet(s"$dir/checksums").as[(String, Long, Long)].collect().sorted

  /** A process that dies after staging its ids and before publishing them. */
  private final class CrashBeforePublish(inner: StateBackend) extends StateBackend {
    def load(spark: SparkSession, nowEpochSec: Long): DataFrame = inner.load(spark, nowEpochSec)
    def stage(spark: SparkSession, ids: DataFrame, idCol: String,
              expirationEpochSec: Long, commitEpochSec: Long): StateBackend.Staged = {
      val staged = inner.stage(spark, ids, idCol, expirationEpochSec, commitEpochSec)
      new StateBackend.Staged {
        def publish(): Long = throw new IllegalStateException("crash before publish")
        def discard(): Unit = staged.discard()
      }
    }
    def sizeHint(spark: SparkSession): Long = inner.sizeHint(spark)
  }

  test("a crash after stage and before publish leaves state as it was; the re-run equals a clean run") {
    val seqs = DataGen.sequences(spark, 2000L, 4)
    val out = withState(tmpDir("staged_crash"))
    val store = new StateStore(s"$out/state")
    val before = loadedIds(store)
    val crashing = new CrashBeforePublish(new SnapshotStateBackend(store))
    val err = intercept[IllegalStateException](
      Pipeline.run(spark, seqs, out, cfg.copy(stateBackend = Some(crashing))))
    assert(err.getMessage === "crash before publish")

    assert(store.currentSnapshot === Some(0), "_CURRENT moved")
    assert(loadedIds(store) === before)
    // the orphan delta is on disk, complete, and holds the run's fresh ids
    // that no load reads
    val orphan = store.snapshotPath(1)
    assert(Files.exists(Paths.get(orphan, "_SUCCESS")), s"no staged delta at $orphan")
    assert(spark.read.parquet(orphan).count() === 1500L)

    val rerun = Pipeline.run(spark, seqs, out)
    val clean = withState(tmpDir("staged_crash_clean"))
    val reference = Pipeline.run(spark, seqs, clean)
    assert(rerun.stats === reference.stats)
    assert(rerun.snapshot === Some(1), "the re-run did not reuse the orphan's snapshot id")
    assert(checksums(out) === checksums(clean))
    assert(loadedIds(store) === loadedIds(new StateStore(s"$clean/state")))
  }

  test("the state delta is written during the fan-out; the pointer moves only after every sink") {
    val out = withState(tmpDir("staged_overlap"))
    val store = new StateStore(s"$out/state")
    val backend = new SnapshotStateBackend(store)
    val staged = Paths.get(store.snapshotPath(1), "_SUCCESS")

    // (description, end time) of every job, from the listener bus
    val stateJobs = new ConcurrentLinkedQueue[Int]()
    val ends = new ConcurrentLinkedQueue[(Int, Long)]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (s.properties.getProperty("spark.job.description") == "graft:state") stateJobs.add(s.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.add(e.jobId -> e.time)
    }
    @volatile var stagedWhileSinkRan = false
    @volatile var pointerWhileSinkRan: Option[Int] = None
    @volatile var sinkDoneMs = 0L
    val slowSink: Pipeline.Routed => Unit = r => {
      Thread.sleep(2000)
      // a loaded machine may take longer to write the delta: wait for it,
      // still inside the sink
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!Files.exists(staged) && System.nanoTime() < deadline) Thread.sleep(50)
      stagedWhileSinkRan = Files.exists(staged)
      pointerWhileSinkRan = store.currentSnapshot
      Sinks.write(r.cached, s"$out/slow")
      sinkDoneMs = System.currentTimeMillis()
    }
    spark.sparkContext.addSparkListener(l)
    val stats =
      try {
        val s = Pipeline.processBatch(spark, DataGen.sequences(spark, 2000L, 4), backend, cfg,
          Seq("slow" -> slowSink), name => s"$out/$name")
        Thread.sleep(1500) // listener delivery is async (as ParSpec)
        s
      } finally spark.sparkContext.removeSparkListener(l)

    assert(stagedWhileSinkRan, "snapshot-1 was not written while the sink ran")
    assert(pointerWhileSinkRan === Some(0), "_CURRENT moved before every sink had settled")
    val endOf = ends.asScala.toMap
    val state = stateJobs.asScala.toSeq
    assert(state.nonEmpty, "no graft:state job")
    assert(state.forall(id => endOf.get(id).exists(_ <= sinkDoneMs)),
      s"a graft:state job ended after the slow sink: ${state.map(id => id -> endOf.get(id))}, sink $sinkDoneMs")
    assert(store.currentSnapshot === Some(1))
    assert(stats.rowsDeduped === 500L)
    assert(spark.read.parquet(store.snapshotPath(1)).count() === 1500L)
  }
}
