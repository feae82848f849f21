package graft.tools

import org.apache.spark.sql.functions._
import graft.ops._

/** One-off single-operator timer: `runMain graft.tools.OpTime <op> [sfDir]`.
  * Best-of-2 after a warm run — for iterating on one op without paying the
  * full Bench sweep. */
object OpTime {

  def main(args: Array[String]): Unit = {
    val op = args.headOption.getOrElse("ngram")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — ad-hoc conf override for A/Bs
    val b0 = graft.pipeline.GraftSession.builder("local[32]", 32, "optime")
    val b = sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(_.split(";").toSeq)
      .getOrElse(Nil).filter(_.contains("="))
      .foldLeft(b0) { (acc, kv) =>
        val Array(k, v) = kv.split("=", 2); acc.config(k, v)
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")
    def run(): Long = op match {
      case "ngram" =>
        DedupOps.ngramJaccardPairs(t("documents"), "doc_id", "text", "lang", 2, 55).count()
      case "decon" | "decon_raw" => // floored vs raw corpus-side scan
        val docs = t("documents")
        val corpus0 = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        val corpus = if (op == "decon") graft.util.Par.ensure(corpus0) else corpus0
        val evalSet = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        val testShingles = evalSet.select(
            explode(graft.functions.GraftFunctions.shingle_hashes(col("text"), 2)).as("tok"))
          .distinct()
        corpus.select(col("doc_id").as("id"),
            explode(graft.functions.GraftFunctions.shingle_hashes(col("text"), 2)).as("tok"))
          .join(broadcast(testShingles), Seq("tok"))
          .groupBy("id").agg(count(lit(1)).as("n_hits")).count()
      case "clusters" =>
        DedupOps.nearDupClusters(t("documents"), "doc_id", "text").count()
      case "minhash" =>
        DedupOps.minhashNearDups(t("documents"), "doc_id", "text", 2, 8, 4, 60).count()
      case "spans" =>
        DedupOps.spanDedup(t("documents"), "doc_id", "text", 8).count()
      case "lsh" =>
        val n = t("embeddings").count()
        val bits = SimilarityOps.occupancyBits(n)
        SimilarityOps.lshTopK(t("embeddings"), "vec_id", "embedding", 1, bits, 8).count()
      case "embdup" =>
        SimilarityOps.embeddingNearDups(t("embeddings"), "vec_id", "embedding", 0.99).count()
      case "ivf" =>
        val n = t("embeddings").count()
        val c = math.max(16, math.sqrt(n.toDouble).ceil.toInt)
        val t0 = System.nanoTime()
        val idx = SimilarityOps.buildIvfIndex(t("embeddings"), "vec_id", "embedding", c).materialize()
        val t1 = System.nanoTime()
        val r = SimilarityOps.ivfProbe(idx, t("embeddings"), "vec_id", "embedding", 1, 8).count()
        println(f"[optime]   ivf build=${(t1 - t0) / 1e9}%.2fs probe=${(System.nanoTime() - t1) / 1e9}%.2fs")
        idx.unpersist(); r
      case "pipe" =>
        graft.util.Scratch.withTempDir("optime_pipe") { outDir =>
          graft.pipeline.Pipeline.run(spark,
            graft.pipeline.DataGen.sequences(spark, 1000000L, 64), outDir).stats.rowsRouted
        }
      case "pipe0" => // A/B: file sizing disabled (one file per cache partition)
        graft.util.Scratch.withTempDir("optime_pipe0") { outDir =>
          graft.pipeline.Pipeline.run(spark,
            graft.pipeline.DataGen.sequences(spark, 1000000L, 64), outDir,
            graft.pipeline.Pipeline.Config(targetRowsPerFile = 0L)).stats.rowsRouted
        }
      case other => sys.error(s"unknown op: $other")
    }
    run() // warm
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); val n = run()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    println(f"[optime] $op best=${times.map(_._1).min}%.2fs rows=${times.head._2} all=${times.map(t => f"${t._1}%.2f").mkString(",")}")
    spark.stop()
  }
}
