package graft.pipeline

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.Util
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

class PipelineSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("end-to-end run: counts reconcile and sinks are consistent") {
    val out = tmpDir("pipe")
    val seqs = DataGen.sequences(spark, 5000L, 4)
    val res = Pipeline.run(spark, seqs, out)
    val st = res.stats
    assert(st.rowsIn === 5000L)
    assert(st.rowsDeduped === 0L)           // fresh state
    assert(st.rowsDroppedByFilter > 0)
    assert(st.rowsQuarantined === 0L)
    assert(st.rowsRouted === st.rowsIn - st.rowsDeduped - st.rowsDroppedByFilter)

    // All record-level sinks carry exactly the routed rows
    val csv = spark.read.parquet(s"$out/file_csv")
    val graylog = spark.read.parquet(s"$out/graylog")
    val fluentd = spark.read.parquet(s"$out/fluentd")
    val oms = spark.read.parquet(s"$out/log_analytics")
    assert(csv.count() === st.rowsRouted)
    assert(graylog.count() === st.rowsRouted) // all CreationTimes parse
    assert(fluentd.count() === st.rowsRouted)
    assert(oms.count() === st.rowsRouted)

    // PRTG sensor counts sum to routed rows
    val prtg = spark.read.parquet(s"$out/prtg")
    assert(prtg.agg(sum("cnt")).as[Long].head() === st.rowsRouted)

    // per-partition metrics (north rule): per-stage sums reconcile
    val metrics = spark.read.parquet(s"$out/metrics")
    def stageSum(s: String) = metrics.filter(col("stage") === s)
      .agg(coalesce(sum("rows"), lit(0L))).as[Long].head()
    assert(stageSum("routed") === st.rowsRouted)
    assert(stageSum("parsed") === st.rowsIn - st.rowsDeduped)
    assert(stageSum("dropped_by_filter") === st.rowsDroppedByFilter)
    assert(stageSum("quarantined") === st.rowsQuarantined)
    assert(stageSum("filtered") === stageSum("routed") + stageSum("quarantined"))
  }

  test("malformed doc ids are quarantined end to end, never dropped or binned") {
    val out = tmpDir("pipe_malformed")
    val good = DataGen.sequences(spark, 200L, 2)
    // digit-free suffix AND a digit-prefix-then-junk id: both must null-gate
    // (the latter would parse as id 7 under stop-at-first-non-digit)
    val bad = good.limit(1).withColumn("doc_id", lit("doc-7garbage1234"))
      .unionByName(good.limit(1).withColumn("doc_id", lit("doc-nodigits-here")))
    val res = Pipeline.run(spark, good.unionByName(bad), out)
    assert(res.stats.rowsQuarantined === 2,
      s"stats: ${res.stats}")
    val quarantine = spark.read.parquet(s"$out/quarantine")
    assert(quarantine.select("doc_id").as[String].collect().sorted ===
      Array("doc-7garbage1234", "doc-nodigits-here"))
    // quarantined rows have NULL audit fields (null-gated, not binned) …
    assert(quarantine.filter(col("content_type").isNotNull).count() === 0)
    // … and appear in NO record sink (fluentd nests the row under `record`;
    // log_analytics carries it as a JSON body string)
    def leaked(dir: String, idCol: org.apache.spark.sql.Column) =
      spark.read.parquet(s"$out/$dir")
        .filter(idCol.contains("doc-7garbage") || idCol.contains("doc-nodigits"))
        .count()
    assert(leaked("file_csv", col("doc_id")) === 0, "file_csv leaked")
    assert(leaked("graylog", col("doc_id")) === 0, "graylog leaked")
    assert(leaked("fluentd", col("record.doc_id")) === 0, "fluentd leaked")
    assert(leaked("log_analytics", col("body")) === 0, "log_analytics leaked")
  }

  test("targetRowsPerFile sizes record-sink outputs (small-files bound)") {
    val out = tmpDir("pipe_sized")
    val res = Pipeline.run(spark, DataGen.sequences(spark, 5000L, 8), out,
      Pipeline.Config(targetRowsPerFile = 500L))
    val routed = res.stats.rowsRouted
    val wantParts = ((routed + 499) / 500).toInt
    def partFiles(dir: String) =
      Option(new java.io.File(s"$out/$dir").listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.startsWith("part-"))
    // plain record sinks: exactly ceil(routed / target) files
    assert(partFiles("graylog") === wantParts, s"graylog: ${partFiles("graylog")}")
    assert(partFiles("fluentd") === wantParts)
    // tiny operational aggregates collapse to one file
    assert(partFiles("prtg") === 1)
    assert(partFiles("checksums") === 1)
    assert(partFiles("metrics") === 1)
    // and the data is intact
    assert(spark.read.parquet(s"$out/graylog").count() === routed)
  }

  test("token arrays survive end to end (north-rule invariant) incl. CSV round-trip") {
    val out = tmpDir("pipe_tok")
    val seqs = DataGen.sequences(spark, 2000L, 4)
    Pipeline.run(spark, seqs, out)
    val expected = Pipeline.routedRecords(seqs, DataGen.routingRules)
      .select(col("doc_id"), col("tokens"))
    // fluentd sink keeps the typed record struct
    val fluentd = spark.read.parquet(s"$out/fluentd")
      .select(col("record.doc_id").as("doc_id"), col("record.tokens").as("tokens"))
    assert(expected.exceptAll(fluentd).isEmpty && fluentd.exceptAll(expected).isEmpty)
    // CSV sink serialized tokens as JSON — parse back and compare
    val csv = spark.read.parquet(s"$out/file_csv")
      .select(col("doc_id"),
        from_json(col("tokens"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)).as("tokens"))
    assert(expected.exceptAll(csv).isEmpty && csv.exceptAll(expected).isEmpty)
  }

  test("routed-row checksum is invariant under repartitioning") {
    val seqs = DataGen.sequences(spark, 2000L, 4)
    val routed = Pipeline.routedRecords(seqs, DataGen.routingRules)
    val a = Sinks.routedChecksum(routed)
    val b = Sinks.routedChecksum(routed.repartition(17))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("dedup: second run over the same input routes zero rows (idempotence)") {
    val out = tmpDir("pipe_dedup")
    val seqs = DataGen.sequences(spark, 1000L, 2)
    val r1 = Pipeline.run(spark, seqs, out)
    assert(r1.stats.rowsRouted > 0)
    val r2 = Pipeline.run(spark, seqs, out)
    assert(r2.stats.rowsDeduped === 1000L,
      "every input row was committed (routed or filtered) in run 1")
    assert(r2.stats.rowsRouted === 0L)
  }

  test("resume: overlapping window re-run emits each row exactly once") {
    val out = tmpDir("pipe_resume")
    val first = DataGen.sequences(spark, 1000L, 2)
    val r1 = Pipeline.run(spark, first, out)
    // second run sees an overlapping superset (late-data re-scan, ST4)
    val superset = DataGen.sequences(spark, 1500L, 2)
    val r2 = Pipeline.run(spark, superset, out)
    assert(r2.stats.rowsDeduped === 1000L)
    val total = r1.stats.rowsRouted + r2.stats.rowsRouted
    val fresh = tmpDir("pipe_fresh")
    val all = Pipeline.run(spark, DataGen.sequences(spark, 1500L, 2), fresh)
    assert(total === all.stats.rowsRouted, "resume ≡ fresh run over the union")
  }

  test("quarantine captures unknown content types instead of silent drop") {
    val out = tmpDir("pipe_quar")
    val seqs = DataGen.sequences(spark, 200L, 2)
    // corrupt the parse: force an unknown type on some rows
    val parsed = Parse.deriveFields(seqs).withColumn("content_type",
      when(pmod(xxhash64(col("doc_id")), lit(5)) === 0, lit("Audit.Bogus"))
        .otherwise(col("content_type")))
    val routed = Route.routed(parsed)
    val quar = Route.quarantined(parsed)
    assert(quar.count() > 0)
    assert(routed.count() + quar.count() === 200L)
    assert(routed.filter(col("OriginFeed") =!= col("content_type")).count() === 0)
  }

  test("flagship entry returns per-type counts > 0") {
    val df = graft.SparkEntry.entry(spark)
    val rows = df.as[(String, Long)].collect().toMap
    assert(rows.nonEmpty && rows.values.forall(_ > 0))
  }

  test("sink files are written without parquet page CRCs; state snapshots keep them") {
    val out = tmpDir("pipe_crc")
    Pipeline.run(spark, DataGen.sequences(spark, 2000L, 4), out)
    // header of the first page of the first column chunk, read with parquet-mr
    def firstPageHasCrc(dir: String): Boolean = {
      val conf = spark.sparkContext.hadoopConfiguration
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => HadoopInputFile.fromPath(new Path(f.toURI), conf))
      val (in, pos) = files.iterator.flatMap { in =>
        val reader = ParquetFileReader.open(in)
        val blocks = try reader.getFooter.getBlocks finally reader.close()
        if (blocks.isEmpty) None else Some((in, blocks.get(0).getColumns.get(0).getStartingPos))
      }.next()
      val stream = in.newStream()
      try { stream.seek(pos); Util.readPageHeader(stream).isSetCrc } finally stream.close()
    }
    assert(!firstPageHasCrc(s"$out/checksums"), "sink page carries a CRC")
    val st = new StateStore(s"$out/state")
    assert(firstPageHasCrc(st.snapshotPath(st.currentSnapshot.get)), "state page has no CRC")
  }

  test("a failing sink fails the run with its own error, leaves no job running and " +
       "commits no state; the re-run matches a clean run") {
    val seqs = DataGen.sequences(spark, 2000L, 4)
    val cfg = Pipeline.Config(output = Some(OutputConfig(
      file = Some(FileOutputConfig(path = "blocked/output.csv")))))
    val out = tmpDir("pipe_fail")
    // the file sink's parent is a regular file: the write fails even as root
    val blocker = java.nio.file.Paths.get(s"$out/blocked")
    java.nio.file.Files.write(blocker, Array.emptyByteArray)
    val err = intercept[java.io.IOException](Pipeline.run(spark, seqs, out, cfg))
    assert(err.getMessage.contains(s"$out/blocked"), s"not the file sink's error: $err")
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a sink job is still running after run() returned")
    assert(new StateStore(s"$out/state").currentSnapshot.isEmpty, "state committed")

    java.nio.file.Files.delete(blocker)
    val rerun = Pipeline.run(spark, seqs, out, cfg)
    val clean = tmpDir("pipe_fail_clean")
    val reference = Pipeline.run(spark, seqs, clean, cfg)
    assert(rerun.stats === reference.stats)
    def checksums(dir: String) =
      spark.read.parquet(s"$dir/checksums").as[(String, Long, Long)].collect().sorted
    assert(checksums(out) === checksums(clean))
  }

  /** A run's input: ids 0-2999 over four partitions, then one partition
    * that the rules filter drops entirely (Audit.AzureActiveDirectory rows
    * whose operation is not UserLoginFailed, from ids 3000-5999), then two
    * malformed ids that quarantine. */
  private def mixedInput(): DataFrame = {
    val seqs = DataGen.sequences(spark, 6000L, 4)
    val dropOnly = Parse.deriveFields(seqs.filter(col("doc_id") >= "doc-000000003000"))
      .filter(col("content_type") === "Audit.AzureActiveDirectory" &&
        col("operation") =!= "UserLoginFailed")
      .select(seqs.columns.map(col): _*)
      .coalesce(1)
    val malformed = seqs.limit(1).withColumn("doc_id", lit("doc-7garbage1234"))
      .unionByName(seqs.limit(1).withColumn("doc_id", lit("doc-nodigits-here")))
    seqs.filter(col("doc_id") < "doc-000000003000").unionByName(dropOnly).unionByName(malformed)
  }

  test("observed per-partition metrics and RunStats equal the recomputed count-based ones") {
    val out = tmpDir("pipe_observed")
    val cfg = Pipeline.Config(duplicate = 2)
    val input = mixedInput()
    val store = new StateStore(s"$out/state")
    store.commit(spark, DataGen.sequences(spark, 500L, 2).select("doc_id"), "doc_id",
      cfg.expirationEpochSec, cfg.nowEpochSec)

    // the per-partition metrics and stats as groupBy(__pid)/union/join and
    // count jobs over the recomputed lineage, taken before the run commits
    val fresh = StateStore.dedup(input, store.load(spark, cfg.nowEpochSec))
    val inflated = fresh.withColumn("__dup", explode(array_repeat(lit(1), 2))).drop("__dup")
    val parsed = Parse.deriveFields(inflated).withColumn("__pid", spark_partition_id())
    val filtered = FilterStage.applyStatic(parsed, cfg.rules)
    def perPartition(df: DataFrame, stage: String) =
      df.groupBy(col("__pid").as("partition_id")).agg(count(lit(1)).as("rows"))
        .select(lit(stage).as("stage"), col("partition_id"), col("rows"))
    val parsedPerPart = perPartition(parsed, "parsed")
    val filteredPerPart = perPartition(filtered, "filtered")
    val droppedPerPart = parsedPerPart.select(col("partition_id"), col("rows").as("p_rows"))
      .join(filteredPerPart.select(col("partition_id"), col("rows").as("f_rows")),
        Seq("partition_id"), "left_outer")
      .select(lit("dropped_by_filter").as("stage"), col("partition_id"),
        (col("p_rows") - coalesce(col("f_rows"), lit(0L))).as("rows"))
    val expected = perPartition(Route.routed(filtered), "routed")
      .unionByName(filteredPerPart).unionByName(parsedPerPart).unionByName(droppedPerPart)
      .unionByName(perPartition(Route.quarantined(filtered), "quarantined"))
      .as[(String, Int, Long)].collect().sorted
    val rowsIn = input.count()
    val rowsFresh = fresh.count()
    val rowsFiltered = filtered.count()
    val rowsRouted = Route.routed(filtered).count()

    // the input exercises every stage: dedup, filter drops, quarantine and
    // a partition whose every row the filter drops
    val stage = expected.groupBy(_._1).map { case (k, v) => k -> v.map(r => r._2 -> r._3).toMap }
    assert(rowsIn - rowsFresh === 500L)
    assert(stage("quarantined").values.sum === 4L)
    val allDropped = stage("parsed").keySet -- stage("filtered").keySet
    assert(allDropped.nonEmpty, s"no partition loses every row to the filter: $stage")
    assert(allDropped.forall(p => stage("dropped_by_filter")(p) === stage("parsed")(p)))

    val res = Pipeline.run(spark, input, out, cfg)
    assert(spark.read.parquet(s"$out/metrics").as[(String, Int, Long)].collect().sorted === expected)
    assert(res.stats === RunStats(
      rowsIn = rowsIn,
      rowsDeduped = rowsIn - rowsFresh,
      rowsDroppedByFilter = rowsFresh * 2 - rowsFiltered,
      rowsQuarantined = rowsFiltered - rowsRouted,
      rowsRouted = rowsRouted))
  }

  test("one run with state scans its input in at most three plans") {
    val dir = tmpDir("pipe_scans")
    val inputDir = s"$dir/input"
    DataGen.sequences(spark, 4000L, 4).write.parquet(inputDir)
    val out = tmpDir("pipe_scans_out")
    val cfg = Pipeline.Config()
    new StateStore(s"$out/state").commit(spark, DataGen.sequences(spark, 1000L, 2).select("doc_id"),
      "doc_id", cfg.expirationEpochSec, cfg.nowEpochSec)
    val input = spark.read.parquet(inputDir)

    val scanning = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (find(qe.executedPlan) {
              case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(inputDir))
              case _ => false
            }.isDefined) scanning.add(funcName)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // listener delivery is async; give the bus time to drain (as ParSpec)
    try { Pipeline.run(spark, input, out, cfg); Thread.sleep(1500) }
    finally spark.listenerManager.unregister(listener)
    // the materialisation, the state commit and the input count
    assert(scanning.size <= 3, s"plans scanning the input: $scanning")
  }
}
