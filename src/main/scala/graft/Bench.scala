package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.ops._

/**
 * Benchmark harness. Prints ONE JSON line:
 *   {"metric":"routed_rows_per_sec","value":N,"unit":"rows/sec",
 *    "queries":{...per-query seconds...},"sf":...,
 *    "scaling":{"cores_lo":8,"rows_per_sec_lo":...,"cores_hi":32,
 *               "rows_per_sec_hi":...,"efficiency":...}}
 *
 * The headline metric is the north-rule target: routed rows/sec of the
 * flagship parse → filter → route → aggregate pipeline over the tokenized
 * sequences table at the SF of SPARK_GRAFT_SF_DIR. Scaling evidence (the
 * sandbox substitute for N vs 4N executors — BASELINE.md) runs the same
 * compute at local[N/4] and local[N] in fresh sessions and reports
 * efficiency = (thr_hi / thr_lo) / 4.
 */
object Bench {

  private def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(s"local[$cores]", cores, s"graft-bench-$cores")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Best of 2 — one steal-time spike during a single-shot measurement
    * otherwise reads as a 5-10x regression of that operator. */
  private def time2[A](f: => A): Double = (1 to 2).map(_ => time(f)).min

  /** The pipeline's compute core (no sink I/O): parse → filter → route →
    * per-sink aggregate; count() forces every row through codegen. */
  private def pipelineCompute(spark: SparkSession, n: Long, parts: Int): Long = {
    val seqs = DataGen.sequences(spark, n, parts)
    Pipeline.routedRecords(seqs, DataGen.routingRules)
      .groupBy("content_type", "operation").agg(count(lit(1)))
      .collect().map(_.getLong(2)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nRows = DataGen.rowsForSf(sfDir)

    // Pre-flight: fail NOW with an explicit message if the scratch volume is
    // low — not twenty stages in with a shuffle temp-file error (which is
    // exactly how round 3's driver bench died). ~2x the expected peak
    // scratch (sink outputs + shuffle spill + large-state bench) at sf0.1.
    graft.util.Scratch.requireFreeSpace(
      sys.env.getOrElse("SPARK_GRAFT_MIN_FREE_GB", "8").toLong * (1L << 30))

    val spark = session(cpus)

    // warm the JVM/codegen once at small scale
    pipelineCompute(spark, 10000L, cpus)

    // ---- headline: full pipeline with sink writes ----------------------
    // Best of 3 runs: the sandbox VM shows heavy hypervisor steal time, so
    // interference is additive noise and min(t) estimates true capability —
    // the headline is dominated by sink-write I/O, the component most
    // exposed to contention, so it gets one more sample than the per-op
    // timings (BASELINE.md documents the same binary spanning 6.6-58 s
    // across contention windows).
    var routed = 0L
    // each iteration's output dir is deleted right after its timed run (the
    // deletion is OUTSIDE the timer: the measured write pays full I/O cost)
    val tPipeline = (1 to 3).map { _ =>
      graft.util.Scratch.withTempDir("bench_pipe") { outDir =>
        time {
          routed = Pipeline.run(spark, DataGen.sequences(spark, nRows, cpus * 2),
            outDir).stats.rowsRouted
        }
      }
    }.min

    // ---- per-op timings over the sf tables ------------------------------
    def t(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")
    val queries = scala.collection.mutable.LinkedHashMap[String, Double]()
    queries("pipeline_full") = tPipeline
    queries("pipeline_compute") = time2(pipelineCompute(spark, nRows, cpus * 2))
    // attribution metric: what the headline pays for sink-write I/O on top
    // of the compute core — makes steal-time contention visible as ITS OWN
    // number instead of silently inflating the compute comparison
    queries("pipeline_sinks") = math.max(0.0,
      queries("pipeline_full") - queries("pipeline_compute"))
    queries("dedup_minhash_lsh") = time2 {
      DedupOps.minhashNearDups(t("documents"), "doc_id", "text", 2, 8, 4, 60).count()
    }
    queries("dedup_simhash") = time2 {
      DedupOps.simhashNearDups(t("documents"), "doc_id", "text", 3).count()
    }
    queries("ann_brute_top1") = time2 {
      val e = t("embeddings")
      SimilarityOps.bruteForceTopK(e, e, "vec_id", "embedding", 1).count()
    }
    // ANN index parameters scale with corpus size: LSH bits target ~32
    // vectors per bucket; IVF centroids ~sqrt(n) (standard sizing rules)
    val nEmb = t("embeddings").count()
    val lshBits = SimilarityOps.occupancyBits(nEmb)
    val ivfCentroids = math.max(16, math.sqrt(nEmb.toDouble).ceil.toInt)
    queries("ann_lsh_top1") = time2 {
      SimilarityOps.lshTopK(t("embeddings"), "vec_id", "embedding", 1, lshBits, 8).count()
    }
    // PQ: train+encode once (the persisted-codes-table contract), then the
    // ADC-shortlist + exact-re-rank probe — corpus scans touch 8 B codes,
    // raw vectors are fetched per shortlist candidate only
    locally {
      var pqCb: SimilarityOps.PqCodebook = null
      var pqCodes: org.apache.spark.sql.DataFrame = null
      queries("ann_pq_encode") = time {
        pqCb = SimilarityOps.pqTrainCodebook(t("embeddings"), "vec_id", "embedding",
          m = 8, ksub = 64, iters = 2)
        pqCodes = SimilarityOps.pqEncode(t("embeddings"), "vec_id", "embedding", pqCb)
          .persist()
        pqCodes.count()
      }
      queries("ann_pq_rerank_top1") = time2 {
        SimilarityOps.pqRerankTopK(pqCodes, t("embeddings"), t("embeddings"),
          "vec_id", "embedding", pqCb, k = 1, shortlist = 20).count()
      }
      // IVF-PQ: posting lists prune the ADC cross join to probed cells
      locally {
        val ivf = SimilarityOps.buildIvfIndex(t("embeddings"), "vec_id",
          "embedding", nCentroids = ivfCentroids, persist = true).materialize()
        queries("ann_ivfpq_probe") = time2 {
          SimilarityOps.pqIvfProbe(ivf, pqCodes, t("embeddings"), t("embeddings"),
            "vec_id", "embedding", pqCb, k = 1, nProbe = 4, shortlist = 20).count()
        }
        ivf.unpersist()
      }
      pqCodes.unpersist()
    }
    // IVF build and probe timed SEPARATELY: a real inverted-file index is
    // built once and amortized over every query batch — folding k-means
    // training into each probe (the old ann_ivf_top1) mismeasures both.
    // ann_ivf_top1 is kept as build+probe for round-over-round continuity.
    var ivfIndex: SimilarityOps.IvfIndex = null
    queries("ann_ivf_build") = time {
      ivfIndex = SimilarityOps.buildIvfIndex(t("embeddings"), "vec_id",
        "embedding", ivfCentroids).materialize()
    }
    queries("ann_ivf_probe") = time2 {
      SimilarityOps.ivfProbe(ivfIndex, t("embeddings"), "vec_id", "embedding",
        1, 8).count()
    }
    queries("ann_ivf_top1") = queries("ann_ivf_build") + queries("ann_ivf_probe")
    ivfIndex.unpersist()
    // hierarchical (two-level) IVF at ~the same total cell count: the
    // driver holds only ~sqrt(cells) coarse centroids — the quantizer
    // shape that survives a 10^9-vector corpus (flat centroids cap at the
    // ~100 MB broadcast contract)
    var hierIdx: SimilarityOps.HierIvfIndex = null
    val hierCoarse = math.max(4, math.sqrt(ivfCentroids.toDouble).ceil.toInt)
    queries("ann_hier_ivf_build") = time {
      hierIdx = SimilarityOps.buildHierIvfIndex(t("embeddings"), "vec_id",
        "embedding", hierCoarse, hierCoarse).materialize()
    }
    queries("ann_hier_ivf_probe") = time2 {
      SimilarityOps.hierIvfProbe(hierIdx, t("embeddings"), "vec_id", "embedding",
        1, 4, 8).count()
    }
    hierIdx.unpersist()
    queries("dedup_exact") = time2 {
      DedupOps.exactDedup(t("documents"), Seq("text"), "doc_id").count()
    }
    queries("dedup_clusters") = time2 {
      DedupOps.nearDupClusters(t("documents"), "doc_id", "text").count()
    }
    queries("sample_pack") = time2 {
      TrainingOps.packSequences(
        TrainingOps.stratifiedSample(t("documents"), "doc_id", "lang",
          Map("en" -> 500, "de" -> 250))
          .withColumn("n_tok", size(TextOps.words(col("text")))),
        "doc_id", "n_tok", "source", 512).count()
    }
    queries("dedup_ngram_jaccard") = time2 {
      DedupOps.ngramJaccardPairs(t("documents"), "doc_id", "text", "lang", 2, 55).count()
    }
    queries("dedup_spans") = time2 {
      DedupOps.spanDedup(t("documents"), "doc_id", "text", 8).count()
    }
    queries("dedup_spans_cdc") = time2 {
      DedupOps.spanDedupCdc(t("documents"), "doc_id", "text", 8).count()
    }
    // fingerprint variant: exchange keyed on a 16-byte xxhash64 pair
    // instead of chunk strings — the 10^11+-span configuration; at this SF
    // the key-size saving is noise, the metric documents it costs nothing
    queries("dedup_spans_fp") = time2 {
      DedupOps.spanDedup(t("documents"), "doc_id", "text", 8,
        fingerprintSpans = true).count()
    }
    // event-sequence ops over the events table: sessionize + as-of + funnel
    queries("events_ops") = time2 {
      val ev = t("events")
      graft.ops.EventOps.sessionize(ev, "user_id", "ts", 1800, "event_id").count()
      val rates = ev.filter(pmod(col("event_id"), lit(20)) === 0)
        .groupBy("event_type", "ts").agg(max("value").as("rate"))
        .withColumnRenamed("ts", "rts")
      graft.ops.EventOps.asofJoinBackward(
        ev.select("event_id", "event_type", "ts"), rates,
        "event_type", "ts", "rts", "rate").count()
      graft.ops.EventOps.funnel(ev, "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase")).count()
    }
    queries("bpe_train_encode") = time {
      val merges = graft.ops.BpeOps.bpeTrain(t("documents"), "text", nMerges = 200)
      graft.ops.BpeOps.tokenize(t("documents"), "text", merges)
        .agg(sum("n_bpe_tokens")).collect()
    }
    queries("text_analysis") = time2 {
      TextOps.qualityScore(t("documents"))
        .select(col("doc_id"), TextOps.langId(col("text")),
          TextOps.fingerprint(col("text")), col("n_words"))
        .count()
    }
    queries("text_decontaminate") = time2 {
      val docs = t("documents")
      TrainingOps.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0), "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text", 2).count()
    }
    queries("window_rank") = time2 {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t("orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).count()
    }
    queries("tpch_agg") = time2 {
      t("lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), count(lit(1))).count()
    }
    queries("tpch_join") = time2 {
      val c = t("customer"); val o = t("orders")
      o.join(c, c("c_custkey") === o("o_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1))).count()
    }

    // ---- dedup at a >10M-row state: the anti-join past any broadcast ----
    // State = 12M ids (past any broadcast), incoming = 4M full-width rows,
    // 25% already known.
    graft.util.Scratch.withTempDir("bench_state") { stateDir =>
      val stateN = 12000000L
      val inN = 4000000L
      // parquet-backed state — the real shape; a generated lineage would
      // re-derive 12M formatted strings on every evaluation and charge the
      // generator, not the operator
      spark.range(3000000L, 3000000L + stateN)
        .select(format_string("doc-%012d", col("id")).as("content_id"))
        .write.mode("overwrite").parquet(stateDir)
      def knownDf = spark.read.parquet(stateDir)
      def incoming = DataGen.sequences(spark, inN, cpus * 2)
      // untimed warm scan of the state parquet first, so the timing
      // measures the join, not a cold page cache
      knownDf.count()
      queries("dedup_large_state_plain") = time2 {
        StateStore.dedup(incoming, knownDf).count()
      }
    }

    // ---- byte-level sink throughput (loopback) --------------------------
    // The reference's real output path is network emission; time the
    // line-framed Graylog TCP transport against a loopback discard server
    // (accept + drain, no parsing) so the number is serialization + socket,
    // not receiver compute. Routed set persisted first: this measures the
    // transport, not the pipeline recompute.
    locally {
      val routedForTx = Pipeline.routedRecords(
        DataGen.sequences(spark, nRows, cpus * 2), DataGen.routingRules)
        .persist()
      routedForTx.count()
      val ss = new java.net.ServerSocket(0)
      val txPool = java.util.concurrent.Executors.newCachedThreadPool()
      @volatile var txStop = false
      txPool.submit(new Runnable {
        def run(): Unit = while (!txStop) {
          try {
            val s = ss.accept()
            txPool.submit(new Runnable {
              def run(): Unit = {
                val in = s.getInputStream
                val buf = new Array[Byte](1 << 16)
                while (in.read(buf) >= 0) {}
                s.close()
              }
            })
          } catch { case _: Exception => () }
        }
      })
      try queries("sink_graylog_tcp") = time {
        Transport.sendGraylogTcp(routedForTx, "127.0.0.1", ss.getLocalPort)
      } finally {
        txStop = true; ss.close(); txPool.shutdownNow(); routedForTx.unpersist()
      }
    }
    spark.stop()

    // ---- scaling probe: identical compute at N/4 and N cores -----------
    // Probe input is scaled up so per-task work dominates scheduling
    // overhead; 5 interleaved (lo,hi) pairs, min per level (additive noise).
    // Default N=2 vs 4N=8: both levels sit on physical cores — this VM
    // exposes 32 vCPUs over ~16 physical cores, so 8→32 crosses the
    // SMT boundary and cannot scale 4x by construction (BASELINE.md allows
    // local[2] vs local[8] explicitly). Override with SPARK_GRAFT_SCALE_HI.
    // sized so the hi-level run still takes seconds: the audit-kernel
    // optimizations made the compute ~650k rows/s/core-pair, and a probe
    // that finishes in ~2s at hi measures scheduler overhead, not scaling
    val probeRows = math.max(nRows, 16000000L)
    val hiProbe = sys.env.getOrElse("SPARK_GRAFT_SCALE_HI", "8").toInt
    val lo = math.max(1, hiProbe / 4)
    // INTERLEAVE the lo/hi measurements (lo,hi,lo,hi,...) so both levels
    // sample the same hypervisor-contention epochs — 5 consecutive lo runs
    // followed by 5 hi runs can land the two levels in different steal-time
    // regimes and report a spurious efficiency. min per level is still the
    // right estimator (interference is strictly additive).
    // A FIXED pair count, every pair reported: an earlier adaptive variant
    // stopped sampling once the estimate cleared the 0.8 bar — optional
    // stopping on good news upward-biases the number exactly at the
    // threshold it gates. Now all pairs always run; per-pair efficiencies
    // go into the JSON verbatim alongside the min-based estimate.
    var tLo = Double.MaxValue
    var tHi = Double.MaxValue
    // clamp ≥ 1: zero pairs would leave tLo/tHi at MaxValue → NaN
    // efficiencies (invalid JSON) and an empty-median crash
    val nPairs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_PAIRS", "5").toInt)
    val pairEffs = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to nPairs) {
      val sLo = session(lo)
      pipelineCompute(sLo, 10000L, lo) // warm
      val tLoPair = time(pipelineCompute(sLo, probeRows, lo * 2))
      tLo = math.min(tLo, tLoPair)
      sLo.stop()
      val sHi = session(hiProbe)
      pipelineCompute(sHi, 10000L, hiProbe) // warm
      val tHiPair = time(pipelineCompute(sHi, probeRows, hiProbe * 2))
      tHi = math.min(tHi, tHiPair)
      sHi.stop()
      pairEffs += (tLoPair / tHiPair) / (hiProbe.toDouble / lo)
    }
    val thrLo = probeRows / tLo
    val thrHi = probeRows / tHi
    // min-per-level estimator: under strictly additive interference the
    // fastest lo and fastest hi are each closest to true capability
    val eff = (thrHi / thrLo) / (hiProbe.toDouble / lo)
    val effsSorted = pairEffs.sorted
    val effMedian = effsSorted(effsSorted.size / 2)

    val rowsPerSec = routed / tPipeline
    val qs = queries.map { case (k, v) => s""""$k":${"%.3f".format(v)}""" }
      .mkString("{", ",", "}")
    val effsJson = pairEffs.map(e => "%.3f".format(e)).mkString("[", ",", "]")
    val json =
      s"""{"metric":"routed_rows_per_sec","value":${"%.1f".format(rowsPerSec)},""" +
      s""""unit":"rows/sec","queries":$qs,"sf":"$sfDir","rows":$nRows,""" +
      s""""routed":$routed,"scaling":{"cores_lo":$lo,"rows_per_sec_lo":${"%.1f".format(thrLo)},""" +
      s""""cores_hi":$hiProbe,"rows_per_sec_hi":${"%.1f".format(thrHi)},""" +
      s""""efficiency":${"%.3f".format(eff)},""" +
      s""""efficiency_median":${"%.3f".format(effMedian)},""" +
      s""""efficiencies":$effsJson}}"""
    // belt and braces for the driver's parser: the JSON line on stdout
    // (raw — build.sbt forces StdoutOutput so sbt doesn't prefix it) AND
    // a file copy at $SPARK_GRAFT_BENCH_OUT (default ./BENCH_LOCAL.json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Exception => System.err.println(s"[bench] file write failed: $e") }
    println(json)
  }
}
