package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TrainingOpsSpec extends SparkSuite {
  import spark.implicits._

  /** HOF reference formulation of quantizeInt8 (semantic spec). */
  private def quantizeInt8Ref(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x.cast("double"))))
    when(maxAbs > 0,
      transform(vec, x => floor(x.cast("double") * 127.0 / maxAbs).cast("int")))
      .otherwise(transform(vec, _ => lit(0)))
  }

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("stratifiedSample: deterministic, rate-respecting, scan-side") {
    val rates = Map("en" -> 500, "de" -> 0)
    val s1 = TrainingOps.stratifiedSample(docs, "doc_id", "lang", rates)
    val s2 = TrainingOps.stratifiedSample(docs, "doc_id", "lang", rates)
    // exact reproducibility (no RNG state) — SYMMETRIC check: one-sided
    // exceptAll cannot see a nondeterministic superset on the other side
    assert(s1.select("doc_id").exceptAll(s2.select("doc_id")).isEmpty &&
           s2.select("doc_id").exceptAll(s1.select("doc_id")).isEmpty)
    // rate 0 strata vanish; others keep roughly their per-mille
    assert(s1.filter(col("lang") === "de").count() === 0)
    val en = docs.filter(col("lang") === "en").count()
    val enKept = s1.filter(col("lang") === "en").count()
    assert(math.abs(enKept.toDouble / en - 0.5) < 0.15,
      s"en keep rate ${enKept.toDouble / en} far from 0.5")
    // default 1000 per mille: untouched strata keep everything
    val fr = docs.filter(col("lang") === "fr").count()
    assert(s1.filter(col("lang") === "fr").count() === fr)
    // the predicate is a plain filter — no exchange in the plan
    val plan = s1.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("sampleToTokenBudget: kept tokens track the budget; under-budget keeps all; deterministic") {
    val withTok = docs.withColumn("n_tok",
      size(graft.ops.TextOps.words(col("text"))).cast("long"))
    val total = withTok.agg(sum("n_tok")).as[Long].head()
    val budget = total / 5
    val kept = TrainingOps.sampleToTokenBudget(withTok, "doc_id", "n_tok", budget)
    val keptTok = kept.agg(sum("n_tok")).as[Long].head()
    assert(math.abs(keptTok - budget).toDouble / budget < 0.25,
      s"kept $keptTok tokens vs budget $budget")
    // deterministic (and partitioning-invariant, like every hash sample)
    val again = TrainingOps.sampleToTokenBudget(withTok.repartition(7),
      "doc_id", "n_tok", budget).select("doc_id").as[Long].collect().sorted
    assert(again.toSeq === kept.select("doc_id").as[Long].collect().sorted.toSeq)
    // a budget above the corpus keeps every row (rate caps at 1e6)
    assert(TrainingOps.sampleToTokenBudget(withTok, "doc_id", "n_tok",
      total * 2).count() === withTok.count())
  }

  test("shuffleShards: deterministic permutation, dense per-shard positions, partition-invariant") {
    val nShards = 4
    val out = TrainingOps.shuffleShards(docs, "doc_id", nShards)
      .select("doc_id", "shard", "pos")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    // every row present exactly once, shards in range
    assert(out.length === docs.count())
    assert(out.forall { case (_, s, _) => s >= 0 && s < nShards })
    // per-shard positions are a dense 0..k-1 ranking (a true permutation)
    for ((_, rows) <- out.groupBy(_._2))
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
    // shards are roughly balanced (hash-uniform)
    val sizes = out.groupBy(_._2).values.map(_.length)
    assert(sizes.max < 2 * sizes.min + 8, s"shard skew: $sizes")
    // deterministic and independent of input partitioning
    val re = TrainingOps.shuffleShards(docs.repartition(7), "doc_id", nShards)
      .select("doc_id", "shard", "pos")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(re.toSeq === out.toSeq)
    // NOT input order: the permutation must actually shuffle
    val inOrder = out.sortBy(r => (r._2, r._3)).map(_._1).toSeq
    assert(inOrder !== inOrder.sorted, "shard/pos order must not be doc_id order")
  }

  test("temperatureSample: sqrt-flattened quotas, deterministic, small domains over-represented") {
    // 800 'big' rows vs 50 'small' rows; target 200 at alpha=0.5:
    // w_big = floor(sqrt(800)*1000) = 28284, w_small = floor(sqrt(50)*1000) = 7071
    // quota_big = floor(200*28284/35355) = 159, quota_small = floor(200*7071/35355) = 39
    val df = ((0 until 800).map(i => (i.toLong, "big")) ++
      (1000 until 1050).map(i => (i.toLong, "small"))).toDF("id", "dom")
    val kept = TrainingOps.temperatureSample(df, "id", "dom", targetTotal = 200)
      .select("id", "dom").as[(Long, String)].collect()
    val keptBig = kept.count(_._2 == "big")
    val keptSmall = kept.count(_._2 == "small")
    // hash-threshold keep lands NEAR the quota (uniform hash), never over-
    // represents natural proportions: small gets ~20% of the sample vs its
    // 5.9% natural share
    assert(math.abs(keptBig - 159) < 40, s"big kept $keptBig vs quota 159")
    assert(math.abs(keptSmall - 39) < 15, s"small kept $keptSmall vs quota 39")
    assert(keptSmall.toDouble / (keptBig + keptSmall) > 0.12)
    // deterministic
    val again = TrainingOps.temperatureSample(df, "id", "dom", targetTotal = 200)
      .select("id", "dom").as[(Long, String)].collect()
    assert(again.sortBy(_._1).toSeq === kept.sortBy(_._1).toSeq)
    // alpha=1 reproduces (approximately) natural proportions
    val nat = TrainingOps.temperatureSample(df, "id", "dom", 200, alpha = 1.0)
      .select("dom").as[String].collect()
    assert(nat.count(_ == "small").toDouble / nat.length < 0.12,
      "alpha=1 must not flatten the mixture")
    // quota never exceeds the domain size: a tiny domain is kept whole
    val tiny = ((0 until 1000).map(i => (i.toLong, "big")) ++
      Seq((5000L, "one"))).toDF("id", "dom")
    val keptTiny = TrainingOps.temperatureSample(tiny, "id", "dom", 5000)
    assert(keptTiny.filter(col("dom") === "one").count() <= 1)
    // NULL domains are a real group (null-safe join): they sample like any
    // other domain instead of silently vanishing
    val withNull = ((0 until 200).map(i => (i.toLong, Some("big"))) ++
      (1000 until 1200).map(i => (i.toLong, None: Option[String])))
      .toDF("id", "dom")
    val keptNull = TrainingOps.temperatureSample(withNull, "id", "dom", 300)
      .filter(col("dom").isNull).count()
    assert(keptNull > 50, s"null-domain rows must survive sampling (kept $keptNull)")
  }

  test("decontaminate: planted eval overlap is flagged with exact distinct-ngram counts") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // contains eval bigrams
      (2L, "completely unrelated text about spark plans"),   // clean
      (3L, "quick brown paint dries fast and quick brown"),  // 1 distinct shared bigram
      (4L, "")                                               // empty doc, clean
    ).toDF("doc_id", "text")
    val evalSet = Seq("the quick brown fox").toDF("prompt")
    val got = TrainingOps.decontaminate(corpus, "doc_id", "text", evalSet, "prompt", 2)
      .as[(Long, Long)].collect().toMap
    // eval bigrams: {the quick, quick brown, brown fox} — doc 1 shares all
    // 3, doc 3 shares exactly {quick brown} once (distinct), docs 2/4 clean
    assert(got === Map(1L -> 3L, 3L -> 1L))
    // the clean corpus is the anti-join of the result
    val clean = corpus.join(
      TrainingOps.decontaminate(corpus, "doc_id", "text", evalSet, "prompt", 2)
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    assert(clean.select("doc_id").as[Long].collect().sorted === Array(2L, 4L))
    // scale shape: the eval shingles broadcast; the corpus side reaches the
    // join without an exchange (only the final per-doc count shuffles)
    val plan = TrainingOps.decontaminate(docs, "doc_id", "text",
        docs.limit(5), "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$plan")
  }

  test("packSequences: offsets and chunk ranges, straddling chunk boundaries") {
    val df = Seq(
      (1L, 3L, "g"), (2L, 5L, "g"), (3L, 2L, "g"), // shard g: offsets 0,3,8
      (10L, 6L, "h")                               // shard h independent
    ).toDF("doc_id", "n_tok", "source")
    val got = TrainingOps.packSequences(df, "doc_id", "n_tok", "source", capacity = 4)
      .select("doc_id", "offset", "chunk_first", "chunk_last")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 0L, 0L, 0L),   // tokens 0..2 → chunk 0
      (2L, 3L, 0L, 1L),   // tokens 3..7 straddle chunks 0 and 1
      (3L, 8L, 2L, 2L),   // tokens 8..9 → chunk 2
      (10L, 0L, 0L, 1L))) // shard h restarts at offset 0
  }

  test("connectedComponents: chains collapse to min id, singletons survive") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // chain
                    (20L, 21L))                                       // separate pair
      .toDF("id_a", "id_b")
    val nodes = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 20L, 21L, 99L)).toDF("id")
    val got = DedupOps.connectedComponents(pairs, nodes)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(got(_) === 1L), s"chain labels: $got")
    assert(got(20L) === 20L && got(21L) === 20L)
    assert(got(99L) === 99L, "isolated node keeps its own label")
    // the distributed pointer-jumping path (forced past the driver
    // union-find threshold) must agree exactly
    val distributed = DedupOps.connectedComponents(pairs, nodes,
        driverEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed === got)
  }

  test("connectedComponents: driver and distributed paths agree on a random graph") {
    val rnd = new scala.util.Random(424242)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("id_a", "id_b")
    val nodes = (0L until 150L).toDF("id")
    val viaDriver = DedupOps.connectedComponents(pairs, nodes)
      .as[(Long, Long)].collect().toMap
    val viaLoop = DedupOps.connectedComponents(pairs, nodes, driverEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver === viaLoop)
    // every label is the true min of its component: labels are idempotent
    assert(viaDriver.forall { case (_, l) => viaDriver(l) === l })
  }

  test("quantizeInt8: codegen kernel ≡ HOF reference; range and zero-vector edges") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val diff = TrainingOps.quantizeInt8(emb, "embedding")
      .withColumn("ref", quantizeInt8Ref(col("embedding")))
      .filter(col("q") =!= col("ref")).count()
    assert(diff === 0)
    // quantized values live in [-128, 127]; max|x| element maps to ±127
    val bad = TrainingOps.quantizeInt8(emb, "embedding")
      .filter(array_min(col("q")) < -128 || array_max(col("q")) > 127).count()
    assert(bad === 0)
    // zero vector → all zeros, no division blowup
    val z = Seq(Seq(0f, 0f, 0f), Seq(1f, -2f, 4f)).toDF("embedding")
    val got = TrainingOps.quantizeInt8(z, "embedding")
      .select("q").as[Seq[Int]].collect()
    assert(got(0) === Seq(0, 0, 0))
    assert(got(1) === Seq(31, -64, 127)) // floor(1*127/4)=31, floor(-2*127/4)=-64
  }

  test("vocabStats: counts and doc frequency on a hand fixture") {
    val df = Seq((1L, "a b a"), (2L, "a c"), (3L, "b b b")).toDF("doc_id", "text")
    val got = TrainingOps.vocabStats(df, "doc_id", "text", 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("b", 4L, 2L), ("a", 3L, 2L), ("c", 1L, 1L)))
  }

  test("nearDupClusters labels every doc; canonical = cluster minimum") {
    val clustered = DedupOps.nearDupClusters(docs, "doc_id", "text")
    assert(clustered.count() === docs.count())
    // cluster label is always <= member id and is itself a member
    assert(clustered.filter(col("cluster") > col("id")).count() === 0)
    val canon = clustered.filter(col("is_canonical"))
    assert(canon.filter(col("cluster") =!= col("id")).count() === 0)
    // pairs imply same cluster
    val pairs = DedupOps.minhashNearDups(docs, "doc_id", "text")
    val lab = clustered.select(col("id"), col("cluster"))
    val mismatch = pairs
      .join(lab.select(col("id").as("id_a"), col("cluster").as("ca")), Seq("id_a"))
      .join(lab.select(col("id").as("id_b"), col("cluster").as("cb")), Seq("id_b"))
      .filter(col("ca") =!= col("cb")).count()
    assert(mismatch === 0, "near-dup pair split across clusters")
  }
}
