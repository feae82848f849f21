package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline._

/**
 * Dev tool: the perf experiments behind the round-2 optimizations, kept
 * runnable so regressions can be re-measured. Modes (first arg):
 *
 *   stages   — per-stage wall time of the probe compute at local[2]
 *              (found the 22s interpreted filter; now ~4.5s)
 *   parseab  — A/B the portable-affine parse vs the round-1 xxhash64
 *              formulation inside the full compute (affine now 1.8x faster)
 *   ngramab  — A/B single-join vs pair-first ngram Jaccard at sf0.1
 *              (equal shape cost; fused jaccard_counts halved both)
 *   cond     — dump the pushed-down filter condition's composition
 *              (expression-occurrence counts; keep it JIT-small)
 *   sinkab   — A/B output committer v1/v2 × parquet codec snappy/lz4
 *   dictab   — A/B parquet dictionary encoding on/off
 *   writerab — A/B sorted vs concurrent partitioned writers
 *   crcab    — A/B parquet page write-checksums on/off
 *
 * All timings are best-of-N (additive steal-time noise on this host).
 */
object PerfLab {

  private def time(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = args.headOption.getOrElse("stages") match {
    case "stages"  => stages()
    case "parseab" => parseAb()
    case "ngramab" => ngramAb()
    case "cond"    => cond()
    case "sinkab"  => sinkAb()
    case "dictab"  => dictAb()
    case "writerab" => writerAb()
    case "crcab"   => crcAb()
    case other     => sys.error(s"unknown mode $other")
  }

  /** Shared interleaved A/B harness: rounds of (a,b,...),(a,b,...) so all
    * variants sample the same contention epochs; fresh session per cell,
    * one warm run, best-of per variant. Every knob must be EXPLICIT in
    * every variant — a variant that "passes nothing" silently runs the
    * current GraftSession defaults and makes the A/B vacuous. */
  private def abHarness(tag: String,
                        variants: Seq[(String, Seq[(String, String)])],
                        rounds: Int = 3): Unit = {
    val width = variants.map(_._1.length).max
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (round <- 1 to rounds; (name, confs) <- variants) {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      val b = GraftSession.builder("local[32]", 32, s"$tag-$name")
      confs.foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      graft.util.Scratch.withTempDir("perfab_warm") { w =>
        Pipeline.run(spark, DataGen.sequences(spark, 10000L, 8), w) // warm
      }
      val t = graft.util.Scratch.withTempDir("perfab") { out =>
        time(Pipeline.run(spark, DataGen.sequences(spark, 1000000L, 64), out))
      }
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
      println(("ROUND %d %-" + width + "s %6.2f best=%6.2f")
        .format(round, name, t, best(name)))
      spark.stop()
    }
    best.foreach { case (n, t) =>
      println(("%s %-" + width + "s %6.2f s").format(tag.toUpperCase, n, t)) }
  }

  /** A/B parquet page write-checksums (on by default): pure CPU on the
    * sink-write path; the format treats them as optional so readers are
    * unaffected. */
  private def crcAb(): Unit = abHarness("crcab", Seq(
    "crc_on" -> Seq(
      "spark.hadoop.parquet.page.write-checksum.enabled" -> "true"),
    "crc_off" -> Seq(
      "spark.hadoop.parquet.page.write-checksum.enabled" -> "false")))

  /** A/B the V1 write path's partition-sort: planned writes (3.4+ default)
    * SORT each sink's rows by partition columns before writing so one
    * writer is open at a time; spark.sql.maxConcurrentOutputFileWriters>0
    * skips that sort and keeps N writers open per task. The record sinks
    * partitionBy low-cardinality columns (5 types × 8 salts), so the
    * open-writer count is bounded — the sort is pure overhead IF memory
    * for concurrent writers is there. Same interleaved protocol. */
  private def writerAb(): Unit = abHarness("writerab", Seq(
    "sorted_write" -> Seq("spark.sql.maxConcurrentOutputFileWriters" -> "0"),
    "concurrent_writers" -> Seq("spark.sql.maxConcurrentOutputFileWriters" -> "48")))

  /** A/B parquet dictionary encoding on the full pipeline. The record
    * sinks write HIGH-CARDINALITY string columns (per-row JSON bodies,
    * token-array JSON): dictionary building on near-unique values is pure
    * overhead — the page dictionary fills, falls back to plain, and the
    * build work is discarded. Same interleaved-rounds protocol as sinkab. */
  private def dictAb(): Unit = abHarness("dictab", Seq(
    "dict_on" -> Seq("spark.hadoop.parquet.enable.dictionary" -> "true"),
    "dict_off" -> Seq("spark.hadoop.parquet.enable.dictionary" -> "false")))

  /** A/B the sink-write I/O knobs on the full pipeline: output committer
    * v1 vs v2 (v1 serializes task-file renames on the driver at job
    * commit; v2 renames in the tasks) × parquet codec snappy vs lz4.
    * INTERLEAVED rounds (a,b,c,d),(a,b,c,d),... so all variants sample the
    * same contention epochs; best-of per variant. */
  private def sinkAb(): Unit = abHarness("sinkab", Seq(
    "v1_snappy" -> Seq(
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "1",
      "spark.sql.parquet.compression.codec" -> "snappy"),
    "v2_snappy" -> Seq(
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
      "spark.sql.parquet.compression.codec" -> "snappy"),
    "v1_lz4" -> Seq(
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "1",
      "spark.sql.parquet.compression.codec" -> "lz4"),
    "v2_lz4" -> Seq(
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
      "spark.sql.parquet.compression.codec" -> "lz4")))

  private def stages(): Unit = {
    val n = 4000000L
    val spark = GraftSession.local(2, "perflab-stages")
    val parts = 4
    def seqs = DataGen.sequences(spark, n, parts)
    Pipeline.routedRecords(DataGen.sequences(spark, 10000L, parts), DataGen.routingRules).count()
    val stages = Seq[(String, () => Any)](
      "gen_count" -> (() => seqs.count()),
      "filter_count" -> (() => FilterStage.applyStatic(Parse.deriveFields(seqs), DataGen.routingRules).count()),
      "routed_count" -> (() => Pipeline.routedRecords(seqs, DataGen.routingRules).count()),
      "agg_full" -> (() => Pipeline.routedRecords(seqs, DataGen.routingRules)
        .groupBy("content_type", "operation").count().count()))
    for ((name, f) <- stages)
      println(f"STAGE $name%-14s ${(1 to 2).map(_ => time(f())).min}%.2f s")
    spark.stop()
  }

  /** Round-1 xxhash64-based derivation (reference for the A/B only). */
  private def oldDerive(df: DataFrame): DataFrame = {
    def typedLit(xs: Seq[String]): Column = array(xs.map(lit): _*)
    val h = pmod(xxhash64(col("doc_id")), lit(100))
    val ct = when(h < 50, Schemas.ContentTypes(0))
      .when(h < 70, Schemas.ContentTypes(1))
      .when(h < 85, Schemas.ContentTypes(2))
      .when(h < 95, Schemas.ContentTypes(3))
      .otherwise(Schemas.ContentTypes(4))
    df.withColumn("content_type", ct)
      .withColumn("operation",
        element_at(typedLit(Schemas.Operations),
          (pmod(col("tokens").getItem(1), lit(12)) + 1).cast("int")))
      .withColumn("Policy",
        when(col("content_type") === Schemas.ContentTypes(0) &&
             pmod(xxhash64(col("doc_id"), lit(11)), lit(10)) =!= 0,
          when(pmod(col("tokens").getItem(3), lit(4)) === 0, "Spoof").otherwise("Phish")))
  }

  private def parseAb(): Unit = {
    val n = 4000000L
    val spark = GraftSession.local(2, "perflab-parseab")
    def run(derive: DataFrame => DataFrame): Long = {
      val filtered = FilterStage.applyStatic(
        derive(DataGen.sequences(spark, n, 4)), DataGen.routingRules)
      Route.routed(filtered).groupBy("content_type", "operation").count().count()
    }
    run(oldDerive); run(Parse.deriveFields)
    var bo = Double.MaxValue; var bn = Double.MaxValue
    for (i <- 1 to 3) {
      bo = math.min(bo, time(run(oldDerive)))
      bn = math.min(bn, time(run(Parse.deriveFields)))
      println(f"ROUND $i old(xxhash)=$bo%.2f new(affine-kernels)=$bn%.2f")
    }
    spark.stop()
  }

  private def ngramAb(): Unit = {
    val spark = GraftSession.local(32, "perflab-ngramab")
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").cache()
    docs.count()
    def shapeA(df: DataFrame): DataFrame = { // shingles ride the block join
      val sh = df.select(col("lang").as("blk"), col("doc_id").as("id"),
        graft.functions.GraftFunctions.shingle_hashes(col("text"), 2).as("sh"))
      sh.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
        .join(sh.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b")), Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("inter_size", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("union_size", size(array_union(col("sh_a"), col("sh_b"))))
        .filter(col("inter_size") * 100 >= col("union_size") * 55)
    }
    var bestA = Double.MaxValue; var bestB = Double.MaxValue
    for (i <- 1 to 3) {
      bestA = math.min(bestA, time(shapeA(docs).count()))
      bestB = math.min(bestB, time(graft.ops.DedupOps.ngramJaccardPairs(
        docs, "doc_id", "text", "lang", 2, 55).count()))
      println(s"ROUND $i bestA(single-join,unfused)=$bestA bestB(pair-first,fused)=$bestB")
    }
    spark.stop()
  }

  private def cond(): Unit = {
    val spark = GraftSession.local(2, "perflab-cond")
    val full = Pipeline.routedRecords(DataGen.sequences(spark, 1000L, 2), DataGen.routingRules)
      .groupBy("content_type", "operation").count()
    val condStr = full.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("Filter")).mkString("\n")
    println("FILTERLEN=" + condStr.length)
    for (tok <- Seq("auditfieldexpr", "docidnumexpr", "gentokensexpr", "pmod", "element_at"))
      println(s"COUNT $tok = " + tok.r.findAllIn(condStr.toLowerCase).size)
    spark.stop()
  }
}
