package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.storage.RDDBlockId

/** Spark's own counters, summed over every task that ended, and the
  * collection time of every garbage collector of the JVM (in local mode the
  * driver and the executor threads share it). */
final case class Counters(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                          gcMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes)
}

/**
 * The benchmark's SparkListener: job and task counters, and the bytes the
 * block manager holds for cached or checkpointed RDDs.
 *
 * Cache bytes count only RDDs created after the current operation began
 * (RDD ids only grow), so blocks an earlier operation released
 * asynchronously never inflate the next operation's peak.
 */
final class Probe(sc: SparkContext) extends SparkListener {
  private var c = Counters()
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var maxRddId = -1
  private var floorRddId = -1
  private var heldBytes = 0L
  private var peakBytes = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
        shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId => synchronized {
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val old = blocks.getOrElse(id, 0L)
        if (size > 0) blocks(id) = size else blocks.remove(id)
        maxRddId = math.max(maxRddId, id.rddId)
        if (id.rddId > floorRddId) {
          heldBytes += size - old
          peakBytes = math.max(peakBytes, heldBytes)
        }
      }
      case _ => ()
    }

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.BusGlue.drain(sc)

  def counters: Counters = {
    drain()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    synchronized(c).copy(gcMs = gcMs)
  }

  /** Starts a new cache window: only RDDs created from now on count. */
  def beginOp(): Unit = {
    drain()
    synchronized { floorRddId = maxRddId; heldBytes = 0L; peakBytes = 0L }
  }

  /** Cache bytes held now by RDDs of the current window. */
  def heldMb: Double = { drain(); val b = synchronized(heldBytes); b / Probe.MB }

  /** Peak cache bytes held by RDDs of the current window. */
  def peakMb: Double = { drain(); val b = synchronized(peakBytes); b / Probe.MB }
}

object Probe { val MB = 1024.0 * 1024.0 }

/** Progress of every micro-batch of the streaming queries in the session. */
final class BatchProbe extends StreamingQueryListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    seen.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Removes and returns the progress reports collected so far. */
  def take(): Seq[StreamingQueryProgress] = {
    val out = Seq.newBuilder[StreamingQueryProgress]
    var p = seen.poll()
    while (p != null) { out += p; p = seen.poll() }
    out.result()
  }
}
