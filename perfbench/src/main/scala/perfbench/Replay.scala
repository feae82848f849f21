package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.RddGlue
import org.apache.spark.storage.StorageLevel
import graft.pipeline._

/**
 * The traced run: replays one operation layer by layer through the public
 * functions of each `graft.pipeline` layer, serially, and records a span
 * around every call with the Spark counters the span accumulated.
 *
 * In `Pipeline.run` the scan, the dedup anti-join, parsing and filtering are
 * fused into one code-generated stage, so they cannot be timed apart. The
 * replay stages them instead: after its span, the output of the scan and of
 * the dedup is materialised as a local checkpoint outside any span, and the
 * next layer reads that. The transform is timed twice: as a plain drain
 * (`transform.s`) and as the materialising pass `Pipeline.run` makes
 * (`cache.s`, which includes the transform). `trace.total_s` adds every span
 * except the drain: the operation's work, run serially.
 */
final class Replay(spark: SparkSession, probe: Probe) {
  private val cfg = Collection.cfg
  /** Per-layer values of one replay, summed over micro-batches. */
  val values: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  private val checkpoints = mutable.ArrayBuffer.empty[DataFrame]

  private def add(name: String, v: Double): Unit = values(name) += v

  /** Runs `f` as one span: wall seconds and the counters it accumulated. */
  private def span[A](f: => A): (A, Double, Counters) = {
    val c0 = probe.counters
    val t0 = System.nanoTime()
    val a = f
    val s = (System.nanoTime() - t0) / 1e9
    (a, s, probe.counters - c0)
  }

  /** Executes the whole plan, every column, and counts its rows. */
  private def drainRows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Materialises `df` outside any span, for the next layer to read. */
  private def stage(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = true)
    checkpoints += c
    c
  }

  /** Frees every checkpoint and persisted set of the replay, and sums the
    * layer times into `trace.total_s`. */
  private def release(): Unit = {
    checkpoints.foreach { c =>
      c.unpersist(blocking = true)
      RddGlue.checkpointRdd(c).foreach(_.unpersist(blocking = true))
    }
    checkpoints.clear()
    values("trace.total_s") = values.collect {
      case (k, v) if k.endsWith(".s") && k != "transform.s" && k != "trace.total_s" => v
    }.sum
  }

  private def sink(name: String, dir: Path)(write: => Unit): Unit = {
    val (_, s, _) = span(write)
    add(s"sink.$name.s", s)
    add(s"sink.$name.mb", Disk.dataBytes(dir) / Probe.MB)
    add(s"sink.$name.files", Disk.dataFiles(dir).size.toDouble)
  }

  /** Scan and dedup of `input`; returns the staged dedup output. */
  private def scanAndDedup(input: DataFrame, files: Seq[Path],
                           backend: SnapshotStateBackend): DataFrame = {
    val (scanRows, scanS, _) = span(drainRows(input))
    add("scan.s", scanS)
    add("scan.rows", scanRows.toDouble)
    add("scan.mb", files.map(Files.size).sum / Probe.MB)
    val scanned = stage(input)

    add("dedup.state_rows", backend.sizeHint(spark).toDouble)
    // a count, not a drain: the surviving rows are converted by whichever
    // layer reads them next
    val ((fresh, freshRows), dedupS, dedupC) = span {
      val f = StateStore.dedup(scanned, backend.load(spark, cfg.nowEpochSec))
      (f, f.count())
    }
    add("dedup.s", dedupS)
    add("dedup.rows_out", freshRows.toDouble)
    add("dedup.shuffle_mb", dedupC.shuffleBytes / Probe.MB)
    add("dedup.jobs", dedupC.jobs.toDouble)
    add("transform.rows_in", freshRows.toDouble)
    stage(fresh)
  }

  private def transform(fresh: DataFrame): Unit = {
    val (routedRows, s, _) = span(drainRows(Pipeline.routedRecords(fresh, cfg.rules)))
    add("transform.s", s)
    add("transform.rows_routed", routedRows.toDouble)
  }

  private def cache[A](materialise: => A): A = {
    val before = probe.heldMb
    val (a, s, _) = span(materialise)
    add("cache.s", s)
    add("cache.mb", probe.heldMb - before)
    a
  }

  private def commit(backend: SnapshotStateBackend, fresh: DataFrame): Unit = {
    val (rows, s, _) = span(backend.commit(spark, fresh.select("doc_id"), "doc_id",
      cfg.expirationEpochSec, cfg.nowEpochSec))
    val snap = Paths.get(backend.store.snapshotPath(backend.currentVersion.get))
    add("commit.s", s)
    add("commit.rows", rows.toDouble)
    add("commit.mb", Disk.dataBytes(snap) / Probe.MB)
    add("commit.files", Disk.dataFiles(snap).size.toDouble)
  }

  private def stats(counts: => Unit): Unit = {
    val (_, s, c) = span(counts)
    add("stats.s", s)
    add("stats.jobs", c.jobs.toDouble)
  }

  /** Replays `Pipeline.run`; returns the routed-row checksums it wrote. */
  def batchRun(input: String, opDir: Path): Map[String, (Long, Long)] = try {
    val backend = new SnapshotStateBackend(new StateStore(opDir.resolve("state").toString))
    val seqs = spark.read.parquet(input)
    val fresh = scanAndDedup(seqs, Disk.dataFiles(Paths.get(input)), backend)
    transform(fresh)

    // Pipeline.run's materialisation: the filtered set, stamped with the
    // emitting partition, as a lazy local checkpoint read by every sink
    val parsed = Parse.deriveFields(fresh).withColumn("__pid", spark_partition_id())
    val (filteredCached, routedCount) = cache {
      val f = FilterStage.applyStatic(parsed, cfg.rules).localCheckpoint(eager = false)
      checkpoints += f
      (f, Route.routed(f).drop("__pid").count())
    }
    val routedP = Route.routed(filteredCached)
    val cached = routedP.drop("__pid")
    val quarantineP = Route.quarantined(filteredCached)

    // Pipeline.run's output-file sizing of the record sinks
    val writeParallelism = spark.sparkContext.defaultParallelism
    def sizedBy(df: DataFrame, n: Long): DataFrame = {
      val p = math.max(1L, (n + cfg.targetRowsPerFile - 1) / cfg.targetRowsPerFile).toInt
      val floor = math.min(writeParallelism.toLong, math.max(1L, (n + 999) / 1000)).toInt
      df.coalesce(math.max(p, floor))
    }
    def sized(df: DataFrame) = sizedBy(df, routedCount)
    def perPartition(df: DataFrame, stage: String) =
      df.groupBy(col("__pid").as("partition_id"))
        .agg(count(lit(1)).as("rows"))
        .select(lit(stage).as("stage"), col("partition_id"), col("rows"))
    def dir(name: String) = opDir.resolve(name)

    sink("file_csv", dir("file_csv"))(Sinks.write(
      Sinks.fileCsvShape(Route.saltedForWrite(cached, cfg.saltBuckets)),
      dir("file_csv").toString, Seq("content_type")))
    sink("graylog", dir("graylog"))(
      Sinks.write(Sinks.graylogShape(sized(cached)), dir("graylog").toString))
    sink("fluentd", dir("fluentd"))(
      Sinks.write(Sinks.fluentdShape(sized(cached), cfg.tenant), dir("fluentd").toString))
    sink("log_analytics", dir("log_analytics"))(Sinks.write(
      Sinks.logAnalyticsShape(sized(cached)), dir("log_analytics").toString, Seq("log_type")))
    sink("prtg", dir("prtg"))(
      Sinks.write(Sinks.prtgShape(cached).coalesce(1), dir("prtg").toString))
    sink("checksums", dir("checksums"))(
      Sinks.write(Sinks.routedChecksum(cached).coalesce(1), dir("checksums").toString))
    sink("quarantine", dir("quarantine")) {
      val q = quarantineP.drop("__pid")
      Sinks.write(sizedBy(q, q.count()), dir("quarantine").toString)
    }
    sink("metrics", dir("metrics")) {
      val parsedPerPart = perPartition(parsed, "parsed")
      val filteredPerPart = perPartition(filteredCached, "filtered")
      val droppedPerPart = parsedPerPart.select(col("partition_id"), col("rows").as("p_rows"))
        .join(filteredPerPart.select(col("partition_id"), col("rows").as("f_rows")),
          Seq("partition_id"), "left_outer")
        .select(lit("dropped_by_filter").as("stage"), col("partition_id"),
          (col("p_rows") - coalesce(col("f_rows"), lit(0L))).as("rows"))
      val partMetrics = perPartition(routedP, "routed")
        .unionByName(filteredPerPart).unionByName(parsedPerPart)
        .unionByName(droppedPerPart).unionByName(perPartition(quarantineP, "quarantined"))
      Sinks.write(partMetrics.coalesce(1), dir("metrics").toString)
    }

    commit(backend, fresh)
    stats { seqs.count(); filteredCached.count(); cached.count(); () }
    Collection.readChecksums(spark, dir("checksums").toString)
  } finally release()

  /** Replays `runAvailableNow` batch by batch, with the drain's file groups;
    * returns the rows routed. */
  def streamRun(input: String, maxFilesPerTrigger: Int, opDir: Path): Long = {
    val backend = new SnapshotStateBackend(new StateStore(opDir.resolve("state").toString))
    val files = Disk.dataFiles(Paths.get(input)).map(_.toString).sorted
    var routedTotal = 0L
    files.grouped(maxFilesPerTrigger).zipWithIndex.foreach { case (group, b) =>
      try {
        val batch = spark.read.schema(Schemas.sequences).parquet(group: _*)
        val fresh = scanAndDedup(batch, group.map(Paths.get(_)), backend)
        transform(fresh)
        val routed = cache {
          val r = Pipeline.routedRecords(fresh, cfg.rules, cfg.enabledTypes)
            .persist(StorageLevel.MEMORY_AND_DISK)
          checkpoints += r
          r.count()
          r
        }
        val routedDir = opDir.resolve(s"routed/batch_id=$b")
        val prtgDir = opDir.resolve(s"prtg_batches/batch_id=$b")
        sink("routed_batches", routedDir)(
          routed.write.mode("overwrite").parquet(routedDir.toString))
        sink("prtg", prtgDir)(
          Sinks.prtgShape(routed).write.mode("overwrite").parquet(prtgDir.toString))
        stats { routedTotal += routed.count() }
        commit(backend, fresh)
      } finally release()
    }
    routedTotal
  }
}
