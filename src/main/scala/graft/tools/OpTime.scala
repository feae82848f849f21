package graft.tools

import org.apache.spark.sql.functions._
import graft.ops._

/** Single-operator timer: `runMain graft.tools.OpTime <op> [sfDir]`.
  * Best-of-2 after a warm run — for iterating on one op without paying the
  * full Bench sweep. Cores come from SPARK_GRAFT_CPUS (as in Bench); the
  * `ivf`, `hier` and `pq` modes also print their two phases per run, with
  * Bench's index parameters. Whole-pipeline timing is perfbench's job. */
object OpTime {

  def main(args: Array[String]): Unit = {
    val op = args.headOption.getOrElse("ngram")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — ad-hoc conf override for A/Bs
    val b0 = graft.pipeline.GraftSession.builder(s"local[$cpus]", cpus, "optime")
    val b = sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(_.split(";").toSeq)
      .getOrElse(Nil).filter(_.contains("="))
      .foldLeft(b0) { (acc, kv) =>
        val Array(k, v) = kv.split("=", 2); acc.config(k, v)
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")
    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[optime]   $op $name=${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    // IVF centroids ~sqrt(n), hier coarse cells ~sqrt(centroids) (Bench)
    lazy val ivfCentroids =
      math.max(16, math.sqrt(t("embeddings").count().toDouble).ceil.toInt)
    def run(): Long = op match {
      case "ngram" =>
        DedupOps.ngramJaccardPairs(t("documents"), "doc_id", "text", "lang", 2, 55).count()
      case "decon" => // every 97th document is the eval set
        val docs = t("documents")
        TrainingOps.decontaminate(docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          "doc_id", "text", docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text", 2).count()
      case "clusters" =>
        DedupOps.nearDupClusters(t("documents"), "doc_id", "text").count()
      case "minhash" =>
        DedupOps.minhashNearDups(t("documents"), "doc_id", "text", 2, 8, 4, 60).count()
      case "spans" =>
        DedupOps.spanDedup(t("documents"), "doc_id", "text", 8).count()
      case "lsh" =>
        val bits = SimilarityOps.occupancyBits(t("embeddings").count())
        SimilarityOps.lshTopK(t("embeddings"), "vec_id", "embedding", 1, bits, 8).count()
      case "embdup" =>
        SimilarityOps.embeddingNearDups(t("embeddings"), "vec_id", "embedding", 0.99).count()
      case "ivf" =>
        val idx = phase("build")(SimilarityOps.buildIvfIndex(t("embeddings"), "vec_id",
          "embedding", ivfCentroids).materialize())
        try phase("probe")(SimilarityOps.ivfProbe(idx, t("embeddings"), "vec_id",
          "embedding", 1, 8).count())
        finally idx.unpersist()
      case "hier" =>
        val hc = math.max(4, math.sqrt(ivfCentroids.toDouble).ceil.toInt)
        val idx = phase("build")(SimilarityOps.buildHierIvfIndex(t("embeddings"), "vec_id",
          "embedding", hc, hc).materialize())
        try phase("probe")(SimilarityOps.hierIvfProbe(idx, t("embeddings"), "vec_id",
          "embedding", 1, 4, 8).count())
        finally idx.unpersist()
      case "pq" =>
        val e = t("embeddings")
        val (cb, codes) = phase("train+encode") {
          val cb = SimilarityOps.pqTrainCodebook(e, "vec_id", "embedding",
            m = 8, ksub = 64, iters = 2)
          val codes = SimilarityOps.pqEncode(e, "vec_id", "embedding", cb).persist()
          codes.count(); (cb, codes)
        }
        try phase("rerank")(SimilarityOps.pqRerankTopK(codes, e, e, "vec_id", "embedding",
          cb, k = 1, shortlist = 20).count())
        finally codes.unpersist()
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
