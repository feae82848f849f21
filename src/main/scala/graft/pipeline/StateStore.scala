package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
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
 * the union of snapshots 0..N. `compact()` folds the deltas into one
 * snapshot when the chain grows long. On a production cluster this class is
 * the one seam to replace with `spark.read/writeTo("cat.db.known_content")`.
 *
 * Resume contract (north rule; SURVEY.md §7.3): state is committed strictly
 * AFTER the durable sink write of the same batch. A job killed between sink
 * write and state commit re-writes that batch on resume into overwritten
 * output paths (idempotent), never skips data, and the anti-join absorbs all
 * previously committed rows — resume-without-re-emission of *committed* rows.
 * (The reference is weaker: it saves state only at run end and records blobs
 * as known even when parsing failed, src/collector.rs:161-171.)
 */
class StateStore(val dir: String) {
  private val currentPtr = Paths.get(dir, "_CURRENT")

  /** Highest committed snapshot id, if any. */
  def currentSnapshot: Option[Int] =
    if (Files.exists(currentPtr))
      Some(new String(Files.readAllBytes(currentPtr), StandardCharsets.UTF_8).trim.toInt)
    else None

  // public: the snapshot-dir naming lives HERE only — callers (Pipeline's
  // stats read) must not re-derive it
  def snapshotPath(n: Int): String = s"$dir/snapshot-$n"

  /** Statically-empty relation (LocalRelation, not an RDD): Catalyst's
    * PropagateEmptyRelation then eliminates the dedup anti-join entirely on
    * a first run — an emptyRDD-backed relation has unknown stats and would
    * force a full shuffle join of the input against nothing. */
  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      Schemas.knownContent)

  /** All live delta paths as of the current snapshot. */
  private def livePaths: Seq[String] =
    currentSnapshot match {
      case Some(n) => (0 to n).map(snapshotPath).filter(p => Files.exists(Paths.get(p)))
      case None    => Nil
    }

  /**
   * Load live (non-expired) state: union of all committed deltas. Mirrors
   * the reference's load-time expiry filter (src/config.rs:92-106): entries
   * whose expiration <= now are dropped at load. Valid when callers never
   * re-commit an id (the pipeline's anti-join guarantees that); when ids
   * can re-arrive with updated expirations, read through `loadResolved`.
   */
  def load(spark: SparkSession, nowEpochSec: Long): DataFrame = {
    val paths = livePaths
    if (paths.isEmpty) emptyState(spark)
    else spark.read.parquet(paths: _*)
      .filter(col("expiration") > timestamp_seconds(lit(nowEpochSec)))
  }

  /**
   * Time-travel read (Iceberg `VERSION AS OF` analog): the state as of
   * snapshot `asOfSnapshot` — exactly the deltas 0..k, expiry-filtered at
   * `nowEpochSec`. Because deltas are immutable and the pointer only ever
   * advances, historic reads need no locks and see no torn state.
   */
  def loadAsOf(spark: SparkSession, nowEpochSec: Long, asOfSnapshot: Int): DataFrame = {
    // cap at the committed pointer: snapshot dirs beyond it are orphans
    // from crashed commits (written but never pointer-swapped) and must
    // stay invisible to every read path
    val cap = math.min(asOfSnapshot, currentSnapshot.getOrElse(-1))
    val paths = (0 to cap).map(snapshotPath)
      .filter(p => Files.exists(Paths.get(p)))
    if (paths.isEmpty) emptyState(spark)
    else spark.read.parquet(paths: _*)
      .filter(col("expiration") > timestamp_seconds(lit(nowEpochSec)))
  }

  /**
   * MERGE-resolved read: last-writer-wins per content_id (highest
   * snapshot_id), THEN the expiry filter — so a re-arrival that extended an
   * id's expiration keeps it alive, and an id whose LATEST version expired
   * is re-admitted even if an older unexpired version exists. This is the
   * reference's `known_blobs.insert(id, new_expiry)` overwrite
   * (src/config.rs:58-119) expressed as read-side resolution over
   * fast-append deltas — the same trick Iceberg's merge-on-read uses:
   * writes stay O(batch), the resolve window runs once per load, and
   * `compact()` folds the history away.
   */
  def loadResolved(spark: SparkSession, nowEpochSec: Long): DataFrame = {
    val paths = livePaths
    if (paths.isEmpty) emptyState(spark)
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("content_id")
        .orderBy(col("snapshot_id").desc, col("committed_at").desc)
      spark.read.parquet(paths: _*)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .filter(col("expiration") > timestamp_seconds(lit(nowEpochSec)))
    }
  }

  /**
   * MERGE-shaped upsert: matched ids get their expiration replaced, new ids
   * are inserted — without rewriting any existing file. Physically this is
   * just `commit` (an O(batch) fast-append delta); the merge semantics live
   * in `loadResolved`'s last-writer-wins. Returns the new snapshot id.
   */
  def merge(spark: SparkSession, incoming: DataFrame, idCol: String,
            expirationEpochSec: Long, commitEpochSec: Long): Int =
    commit(spark, incoming, idCol, expirationEpochSec, commitEpochSec)

  /** Dedup: anti-join incoming rows against known content ids — see
    * [[StateStore.dedup]]. */
  def dedup(incoming: DataFrame, known: DataFrame, idCol: String = "doc_id",
            withinBatch: Boolean = false): DataFrame =
    StateStore.dedup(incoming, known, idCol, withinBatch)

  // raw live row count, memoized per committed snapshot — see liveRowCount
  @volatile private var sizeCache: (Int, Long) = (-2, -1L)

  /**
   * Raw live state row count (no expiry filter — an upper bound on any
   * loaded view). Memoized per committed snapshot and updated
   * INCREMENTALLY: after a commit only the new delta directories are
   * counted (parquet footer metadata), so repeated reads across streaming
   * micro-batches never re-count the whole state (ADVICE r3).
   */
  def liveRowCount(spark: SparkSession): Long = {
    val snap = currentSnapshot.getOrElse(-1)
    val (cSnap, cN) = sizeCache
    if (cSnap == snap) cN
    else {
      val n =
        if (cSnap >= -1 && cSnap < snap &&
            Files.exists(Paths.get(snapshotPath(math.max(0, cSnap))))) {
          // cache predates `snap` and the old deltas still exist (i.e. no
          // compact() rewrote history): count only the new deltas
          val newPaths = (cSnap + 1 to snap).map(snapshotPath)
            .filter(p => Files.exists(Paths.get(p)))
          cN + (if (newPaths.isEmpty) 0L
                else spark.read.parquet(newPaths: _*).count())
        } else {
          val paths = livePaths
          if (paths.isEmpty) 0L else spark.read.parquet(paths: _*).count()
        }
      sizeCache = (snap, n)
      n
    }
  }

  /**
   * Commit: write `newlyRouted` ids as delta snapshot N+1, atomically swap
   * the pointer. Per-partition lineage is recorded on every row
   * (partition_id = the task that emitted it, committed_at = the commit
   * watermark) per the north rule's checkpoint/lineage requirement.
   * Crash before the pointer swap leaves an orphan directory that is never
   * referenced — commits are all-or-nothing.
   */
  def commit(spark: SparkSession, newlyRouted: DataFrame, idCol: String,
             expirationEpochSec: Long, commitEpochSec: Long): Int = {
    val next = currentSnapshot.getOrElse(-1) + 1
    newlyRouted
      .select(
        col(idCol).cast("string").as("content_id"),
        timestamp_seconds(lit(expirationEpochSec)).as("expiration"),
        timestamp_seconds(lit(commitEpochSec)).as("committed_at"),
        spark_partition_id().as("partition_id"),
        lit(next).as("snapshot_id"))
      .write.mode("overwrite").parquet(snapshotPath(next))
    swapPointer(next)
    next
  }

  /** Fold all deltas into a single snapshot (Iceberg `rewrite_data_files`
    * analog) — run periodically so `load` unions O(1) directories. Shadowed
    * versions (ids re-committed via `merge`) are dropped: only the
    * last-writer row survives, like an Iceberg rewrite after MERGE. */
  def compact(spark: SparkSession): Unit = currentSnapshot.foreach { n =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_id")
      .orderBy(col("snapshot_id").desc, col("committed_at").desc)
    val merged = spark.read.parquet(livePaths: _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    merged.write.mode("overwrite").parquet(snapshotPath(n + 1))
    swapPointer(n + 1)
    (0 to n).foreach { i =>
      val p = Paths.get(snapshotPath(i))
      if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
    }
  }

  private def swapPointer(next: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s"_CURRENT.tmp$next")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Backend-agnostic dedup: the anti-join works against ANY known-content
  * DataFrame (snapshot store, catalog table, in-memory test fixture), so
  * the logic lives here and both the [[StateStore]] instance method and
  * [[StateBackend]]-driven pipelines delegate to it. */
object StateStore {

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
   * broadcast.
   */
  def dedup(incoming: DataFrame, known: DataFrame, idCol: String = "doc_id",
            withinBatch: Boolean = false): DataFrame = {
    // withinBatch=true also collapses duplicate ids WITHIN the incoming
    // batch — the reference's sequential contains_key+insert drops repeats
    // inside a run too (src/collector.rs:161). Off by default: it costs an
    // exchange on the id, and the engine's own sources (listing scans,
    // file batches) carry unique ids. Turn it on for sources that can
    // repeat ids within one batch.
    val in = if (withinBatch) incoming.dropDuplicates(idCol) else incoming
    in.join(known.select(col("content_id").as(idCol)), Seq(idCol), "left_anti")
  }
}
