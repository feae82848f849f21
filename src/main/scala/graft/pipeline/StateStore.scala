package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/**
 * Iceberg-shaped snapshot state store for the known-content dedup state
 * (reference: `known_blobs` line file, src/config.rs:58-119 load/save;
 * inserted at src/collector.rs:161, checked at src/api_connection.rs:341-343).
 *
 * The sandbox ships no Iceberg runtime, so snapshot semantics are provided
 * directly: each commit writes one immutable parquet DELTA directory
 * `snapshot-N/` (only the new ids — O(batch), not O(state), exactly like an
 * Iceberg fast-append manifest) and atomically swaps a `_CURRENT` pointer
 * file (write-temp + ATOMIC_MOVE — the pointer-swap Iceberg's
 * HadoopTableOperations does with `version-hint.text`). The live table is
 * the union of snapshots 0..N; `load` reads it once per run, `commit`
 * appends one delta, and `compact()` folds the deltas into one snapshot
 * when the chain grows long. On a production cluster this class is the one
 * seam to replace with `spark.read/writeTo("cat.db.known_content")`.
 *
 * Resume contract (north rule; SURVEY.md §7.3): a batch's ids become
 * visible strictly AFTER every durable sink write of the same batch. The
 * commit is two steps, like an Iceberg fast append: `stage` writes the
 * delta `snapshot-(N+1)` (it may run alongside the sink writes, because no
 * `load` reads past the pointer), and `publish` swaps the pointer once every
 * sink write has settled; a run whose sink write fails discards the delta.
 * A job killed before the swap leaves an orphan delta that is never read
 * and that the next commit overwrites; on resume
 * that batch is re-written into overwritten output paths (idempotent),
 * never skipped, and the anti-join absorbs all previously committed rows —
 * resume-without-re-emission of *committed* rows. (The reference is weaker:
 * it saves state only at run end and records blobs as known even when
 * parsing failed, src/collector.rs:161-171.)
 */
class StateStore(val dir: String) {
  private val currentPtr = Paths.get(dir, "_CURRENT")

  /** Highest committed snapshot id, if any. */
  def currentSnapshot: Option[Int] =
    if (Files.exists(currentPtr))
      Some(new String(Files.readAllBytes(currentPtr), StandardCharsets.UTF_8).trim.toInt)
    else None

  // public: the snapshot-dir naming lives HERE only — callers (the
  // backend's committed-row count) must not re-derive it
  def snapshotPath(n: Int): String = s"$dir/snapshot-$n"

  /** All live delta paths as of the current snapshot. Snapshot dirs beyond
    * the pointer are orphans of crashed commits and are never read. */
  private def livePaths: Seq[String] =
    currentSnapshot match {
      case Some(n) => (0 to n).map(snapshotPath).filter(p => Files.exists(Paths.get(p)))
      case None    => Nil
    }

  /**
   * Load live (non-expired) state: union of all committed deltas. Mirrors
   * the reference's load-time expiry filter (src/config.rs:92-106): entries
   * whose expiration <= now are dropped at load. An id committed twice
   * (`skipKnownLogs = false` re-commits known ids) appears once per delta;
   * the anti-join is indifferent to that, and `compact()` keeps only its
   * last-written row.
   */
  def load(spark: SparkSession, nowEpochSec: Long): DataFrame = {
    val paths = livePaths
    if (paths.isEmpty) StateStore.empty(spark)
    else StateStore.unexpired(read(spark, paths), nowEpochSec)
  }

  /** Raw live state row count (no expiry filter — an upper bound on any
    * loaded view): one parquet-footer count over the live deltas. */
  def liveRowCount(spark: SparkSession): Long = {
    val paths = livePaths
    if (paths.isEmpty) 0L else read(spark, paths).count()
  }

  /** The deltas at `paths`, read with the one state schema: every delta is
    * written from [[StateStore.rows]], so inferring it from a footer would
    * only cost a job per read. */
  private def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(Schemas.knownContent).parquet(paths: _*)

  /**
   * Stage: write `ids` as delta snapshot N+1 but leave the pointer at N,
   * so no `load` reads it until `publish(N + 1)`. Per-partition lineage is
   * recorded on every row (see [[StateStore.rows]]). Returns N+1 and the
   * rows written, observed on the write itself. A failed or cancelled
   * write deletes what it wrote. A crash before `publish` leaves an orphan
   * directory that is never referenced and that the next stage overwrites —
   * commits are all-or-nothing.
   */
  def stage(spark: SparkSession, ids: DataFrame, idCol: String,
            expirationEpochSec: Long, commitEpochSec: Long): (Int, Long) = {
    val next = currentSnapshot.getOrElse(-1) + 1
    val written = new Observation()
    try StateStore.rows(ids, idCol, expirationEpochSec, commitEpochSec, next)
      .observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(snapshotPath(next))
    catch { case e: Throwable => discard(next); throw e }
    (next, written.get("rows").asInstanceOf[Long])
  }

  /** Publish: make staged snapshot `n` live by the atomic pointer swap. */
  def publish(n: Int): Unit = swapPointer(n)

  /** Delete staged snapshot `n`, which was never published. */
  def discard(n: Int): Unit = deleteTree(snapshotPath(n))

  /** Commit: `stage` then `publish`. Returns the new snapshot id. */
  def commit(spark: SparkSession, ids: DataFrame, idCol: String,
             expirationEpochSec: Long, commitEpochSec: Long): Int = {
    val (next, _) = stage(spark, ids, idCol, expirationEpochSec, commitEpochSec)
    publish(next)
    next
  }

  /** Fold all deltas into a single snapshot (Iceberg `rewrite_data_files`
    * analog) — run periodically so `load` unions O(1) directories. An id
    * committed by several deltas keeps only its last-written row (highest
    * `snapshot_id`, then `committed_at`), like an Iceberg rewrite after
    * MERGE. */
  def compact(spark: SparkSession): Unit = currentSnapshot.foreach { n =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_id")
      .orderBy(col("snapshot_id").desc, col("committed_at").desc)
    val merged = read(spark, livePaths)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    merged.write.mode("overwrite").parquet(snapshotPath(n + 1))
    swapPointer(n + 1)
    (0 to n).foreach(i => deleteTree(snapshotPath(i)))
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
  }

  private def swapPointer(next: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s"_CURRENT.tmp$next")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/** The state row format and the dedup, shared by every [[StateBackend]]:
  * the anti-join works against ANY known-content DataFrame (snapshot
  * store, catalog table, in-memory test fixture). */
object StateStore {

  /**
   * The committed rows of one batch, in the [[Schemas.knownContent]]
   * layout: the id as a string, its expiration, and per-partition lineage
   * (partition_id = the task that emitted it, committed_at = the commit
   * watermark) per the north rule's checkpoint/lineage requirement, stamped
   * with the backend's `snapshotId`.
   */
  def rows(ids: DataFrame, idCol: String, expirationEpochSec: Long,
           commitEpochSec: Long, snapshotId: Int): DataFrame =
    ids.select(
      col(idCol).cast("string").as("content_id"),
      timestamp_seconds(lit(expirationEpochSec)).as("expiration"),
      timestamp_seconds(lit(commitEpochSec)).as("committed_at"),
      spark_partition_id().as("partition_id"),
      lit(snapshotId).as("snapshot_id"))

  /** Statically-empty state (LocalRelation, not an RDD): Catalyst's
    * PropagateEmptyRelation then eliminates the dedup anti-join entirely on
    * a first run — an emptyRDD-backed relation has unknown stats and would
    * force a full shuffle join of the input against nothing. */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      Schemas.knownContent)

  /** The load-time expiry filter: rows whose expiration is after `now`. */
  def unexpired(state: DataFrame, nowEpochSec: Long): DataFrame =
    state.filter(col("expiration") > timestamp_seconds(lit(nowEpochSec)))

  /**
   * Dedup: anti-join incoming rows against known content ids
   * (SURVEY.md §2.3 J1 — the reference's `known_blobs.contains_key` probe
   * IS a broadcast hash anti-join). While state is small Catalyst/AQE picks
   * BroadcastHashJoin; at 10^12-scale state it degrades gracefully to a
   * shuffled hash/sort-merge anti-join on the id — no code change.
   *
   * The build side is the state's ids as stored, duplicates included (an
   * id committed by two deltas): a left-anti join keeps a row iff no build
   * row matches, so duplicates cannot change the result, and a `distinct`
   * would only put an aggregate and a full-state shuffle under the
   * broadcast. Repeats of an id WITHIN `incoming` all pass (the reference's
   * sequential contains_key+insert would drop them, src/collector.rs:161);
   * the engine's sources — listing scans, file batches — carry unique ids.
   */
  def dedup(incoming: DataFrame, known: DataFrame, idCol: String = "doc_id"): DataFrame =
    incoming.join(known.select(col("content_id").as(idCol)), Seq(idCol), "left_anti")
}
