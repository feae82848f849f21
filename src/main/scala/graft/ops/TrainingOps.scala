package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data assembly operators: the steps between "cleaned corpus" and
 * "tokens on the trainer" that a 100 TB pipeline runs after dedup/quality:
 *
 *  - stratified sampling (data mixing): deterministic per-stratum Bernoulli
 *    keep-decision from a portable hash of the id — no RNG state, so the
 *    sample is reproducible across engines/runs/partitionings and is a pure
 *    scan-side filter (zero shuffle, pushes down);
 *  - sequence packing (GPT-style concatenation): global token offsets per
 *    shard, mapping each doc to the training-chunk range it lands in.
 *
 * Both use the engine-wide affine-mod-P hash family, so DuckDB oracles
 * reproduce them exactly.
 */
object TrainingOps {

  val P: Long = 1000000007L

  /** Portable affine mix, same family as Parse/DedupOps. */
  private def mix(id: Column, s: Int): Column =
    pmod(pmod(id, lit(P)) * lit(2654435761L % P + 2L * s + 1L)
      + lit(1013904223L + 7919L * s), lit(P))

  /**
   * Deterministic stratified sample: keep a row iff
   * mix(id) mod 1000 < ratePerMille(stratum). Rates are a tiny driver-side
   * map (like the routing rules) folded into one codegen'd predicate —
   * data-mixing configs are per-source/per-language weights, a handful of
   * entries. Strata absent from the map keep `defaultPerMille`.
   *
   * This is how you mix 100 TB: the filter runs in the scan stage of every
   * file, no shuffle, no sort, no sampling pass — and re-running it (or
   * running it on a different cluster) selects the SAME rows.
   */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       ratesPerMille: Map[String, Int],
                       defaultPerMille: Int = 1000): DataFrame = {
    require((ratesPerMille.values ++ Seq(defaultPerMille)).forall(r => r >= 0 && r <= 1000))
    val rate = ratesPerMille.foldLeft(lit(defaultPerMille)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(pmod(mix(col(idCol), 23), lit(1000)) < rate)
  }

  /**
   * Deterministic global shuffle into fixed shards — the corpus-order
   * randomization every training run needs before epoch 0 (documents
   * arrive grouped by crawl/source/time; training on that order biases
   * early steps). shard = hash(id) mod nShards, pos = rank of the hash
   * order within the shard: a pseudo-random permutation that is fully
   * reproducible across engines/runs/partitionings (portable affine hash,
   * no RNG state). Output adds (shard, pos) to the input row.
   *
   * Scale shape: ONE exchange keyed on shard. The per-shard window is
   * bounded BY CONSTRUCTION: nShards is chosen so one shard ≈ one output
   * file (10^4-10^5 shards at 100 TB — the shard-writer contract), so the
   * task that ranks a shard holds one file's worth of (hash, id) scalars,
   * never the corpus. This is the one place a per-key window is the RIGHT
   * tool (contrast DedupOps.keepFirstAndReassemble, where key cardinality
   * is data-dependent and hot keys demand the map-side-combining plan).
   */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0)
    val w = Window.partitionBy("shard").orderBy(col("__h"), col(idCol))
    df.withColumn("__h", mix(col(idCol), 41))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__h")
  }

  /**
   * Temperature-flattened domain mixture (the GPT-3 / LLaMA / multilingual
   *-sampling recipe, alpha ∈ [0,1]): sampling quota per domain ∝ n_d^alpha
   * instead of n_d, so giant domains (CommonCrawl) stop drowning small
   * high-quality ones (Wikipedia) while relative order is preserved.
   * alpha=1 reproduces natural proportions, alpha=0 gives uniform quotas.
   *
   * quota_d = min(n_d, floor(targetTotal · w_d / Σw)) with INTEGER weights
   * w_d = floor(sqrt(n_d)·1000) at the default alpha=0.5 — sqrt is
   * IEEE-exactly-rounded and the sum is integer, so the quotas (and
   * therefore the kept set) are bit-reproducible in any engine; arbitrary
   * alpha uses pow(), whose last-ulp is library-dependent, so cross-engine
   * oracles pin alpha=0.5. Keep decision: hash(id) mod n_d < quota_d —
   * deterministic, approximately quota_d rows per domain (hash-uniform),
   * ZERO extra corpus scan beyond the per-domain count.
   *
   * Scale shape: one map-side-combining count per domain (tiny result),
   * quotas broadcast back, keep-filter runs in the scan stage. No
   * driver-side collect — the Σw total joins in as a broadcast 1-row
   * cross product.
   */
  def temperatureSample(df: DataFrame, idCol: String, domainCol: String,
                        targetTotal: Long, alpha: Double = 0.5): DataFrame = {
    require(targetTotal >= 0 && alpha >= 0.0 && alpha <= 1.0)
    val counts = df.groupBy(col(domainCol).as("__dom")).agg(count(lit(1)).as("__n"))
    val wExpr =
      if (alpha == 0.5) floor(sqrt(col("__n").cast("double")) * 1000.0).cast("long")
      else floor(pow(col("__n").cast("double"), lit(alpha)) * 1000.0).cast("long")
    val weights = counts.withColumn("__w", wExpr)
    val total = weights.agg(sum("__w").as("__tw"))
    val quotas = weights.crossJoin(broadcast(total))
      .withColumn("__quota", least(col("__n"),
        floor(lit(targetTotal).cast("double") * col("__w") / col("__tw")).cast("long")))
      .select(col("__dom"), col("__n"), col("__quota"))
    // null-safe join: a NULL domain is a real group (its count weighted
    // into Σw like any other) — a plain === would silently drop every
    // null-domain row while still deflating all other quotas
    df.join(broadcast(quotas), col(domainCol) <=> col("__dom"))
      .filter(pmod(mix(col(idCol), 57), col("__n")) < col("__quota"))
      .drop("__dom", "__n", "__quota")
  }

  /**
   * Deterministic sample sized to a TOKEN budget (how training runs are
   * actually provisioned — "give me ~2B tokens of this corpus", not a row
   * count): one map-side-combining token-total aggregate derives an
   * integer per-million keep rate, then the keep decision is the same
   * zero-shuffle scan filter as [[stratifiedSample]]. Expected kept
   * tokens ≈ budget (hash-uniform over documents, so the realized total
   * varies by the corpus' token-count dispersion); rate 1e6 keeps
   * everything when the corpus is under budget, and a POSITIVE budget
   * never floors to an empty sample — per-million granularity means the
   * smallest non-empty rate keeps ~1e-6 of the corpus, the documented
   * resolution floor. Integer rate arithmetic end-to-end —
   * bit-reproducible in the DuckDB oracle.
   */
  def sampleToTokenBudget(df: DataFrame, idCol: String, nTokCol: String,
                          tokenBudget: Long): DataFrame = {
    require(tokenBudget >= 0)
    val total = df.agg(sum(col(nTokCol)).cast("long").as("__tot"))
    val rawRate = floor(lit(tokenBudget) * lit(1000000.0) / col("__tot")).cast("long")
    val rated = df.crossJoin(broadcast(total))
      .withColumn("__rate",
        if (tokenBudget == 0L) lit(0L)
        else least(lit(1000000L), greatest(lit(1L), rawRate)))
    rated.filter(pmod(mix(col(idCol), 71), lit(1000000L)) < col("__rate"))
      .drop("__tot", "__rate")
  }

  /**
   * Corpus vocabulary statistics: the `topK` most frequent words with
   * document frequency — the standard pre-tokenizer corpus report. Shape:
   * explode → two-level aggregate (partial map-side combine per word) →
   * top-k. The explode multiplies rows ~100x but carries ONE short string
   * column; the aggregate collapses it back before the (tiny) top-k sort.
   */
  def vocabStats(df: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(TextOps.words(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("occurrences"),
           count_distinct(col("id")).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("word"))
      .limit(topK)

  /**
   * vocabStats with APPROXIMATE document frequency — the 100 TB variant.
   * Exact `count_distinct(id)` per word keeps every distinct (word, id)
   * pair alive through the aggregation: for frequent words that is a
   * per-word set the size of the corpus, and it is the one piece of
   * vocabStats whose state grows with data rather than with vocabulary.
   * `approx_count_distinct` (HyperLogLog++) replaces it with a fixed-size
   * sketch per word (~1.5 KB at rsd=0.02) that merges map-side, so the
   * aggregate is fully partial-combining again. Occurrences (the ranking
   * key) stay exact — only doc_freq is estimated, within ±rsd.
   */
  def vocabStatsApprox(df: DataFrame, idCol: String, textCol: String,
                       topK: Int, rsd: Double = 0.02): DataFrame =
    df.select(col(idCol).as("id"), explode(TextOps.words(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("occurrences"),
           approx_count_distinct(col("id"), rsd).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("word"))
      .limit(topK)

  /**
   * Symmetric int8 quantization of an embedding column — the storage/
   * serving compression step after embedding generation. Codegen'd kernel
   * (one pass for max|x|, one for the quantized values); the HOF reference
   * formulation is pinned in TrainingOpsSpec and reproduced by the DuckDB
   * oracle (pure IEEE-double arithmetic, mult before div).
   */
  def quantizeInt8(df: DataFrame, vecCol: String, outCol: String = "q"): DataFrame =
    df.withColumn(outCol, graft.functions.GraftFunctions.quantize_i8(col(vecCol)))

  /**
   * Test-set decontamination (the GPT-3 appendix-C approach): flag corpus
   * documents sharing any word n-gram with an evaluation set, so they can
   * be dropped before training — leaving eval prompts in the corpus
   * silently inflates benchmark scores. Returns (id, n_hits): every
   * contaminated doc with its count of DISTINCT overlapping n-grams
   * (shingle_hashes emits duplicate-free sets, so the count is exactly
   * |doc shingles ∩ eval shingles|). Docs with zero overlap are absent —
   * anti-join the result to get the clean corpus.
   *
   * Scale shape: the eval set is SMALL (thousands of prompts, not the
   * corpus), so its distinct shingles broadcast; the corpus side computes
   * shingles scan-side (codegen), probes the broadcast in-stage, and only
   * (id, count) partial aggregates ever reach an exchange. The corpus is
   * scanned once and never shuffled.
   */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    testSet: DataFrame, testTextCol: String, n: Int): DataFrame = {
    val testShingles = testSet.select(
        explode(graft.functions.GraftFunctions.shingle_hashes(col(testTextCol), n))
          .as("tok"))
      .distinct()
    // no scan floor: the round-6 A/B measured the floored variant
    // 0.61 → 0.77 s — shingling is cheap per row and the repartition buys
    // less than it costs (OPTIMIZATION_r06.md, training ops)
    corpus.select(col(idCol).as("id"),
        explode(graft.functions.GraftFunctions.shingle_hashes(col(textCol), n))
          .as("tok"))
      .join(broadcast(testShingles), Seq("tok"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /**
   * GPT-style sequence packing: documents are concatenated per shard (the
   * `shardCol` — source, language, whatever the trainer shards on) in
   * doc-id order, and chunked into fixed `capacity`-token training
   * sequences that may straddle document boundaries. Output per doc:
   *
   *   offset       global token offset of the doc within its shard
   *   chunk_first  index of the training chunk its first token lands in
   *   chunk_last   index of the chunk its last token lands in
   *
   * The cumulative sum is a window per shard — at 100 TB shards bound the
   * window's partition (never a global single-partition sort), and the
   * window input is just (shard, id, n_tokens): three scalar columns.
   */
  def packSequences(df: DataFrame, idCol: String, nTokCol: String,
                    shardCol: String, capacity: Int): DataFrame = {
    require(capacity > 0)
    val w = Window.partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("offset", coalesce(sum(col(nTokCol)).over(w), lit(0L)))
      .withColumn("chunk_first", floor(col("offset") / capacity))
      .withColumn("chunk_last",
        floor((col("offset") + col(nTokCol) - 1) / capacity))
  }
}
