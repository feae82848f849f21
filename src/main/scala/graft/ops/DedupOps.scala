package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, smallest-shuffle-first:
 *
 *  - exact:     one hash-shuffle on the content key
 *  - minhash:   shingle → k minhashes → band buckets → bucket-local join →
 *               exact Jaccard verify (never an all-pairs cross join)
 *  - simhash:   64-bit signature; near-dups via banded chunks + hamming verify
 *  - n-gram Jaccard: exact verified similarity for candidate pairs
 *  - embedding: cosine near-dup via hyperplane LSH buckets (SimilarityOps)
 *
 * All hashing is the portable TextOps.polyHash so results are independently
 * reproducible (DuckDB oracle). At 100 TB the shuffles are (a) the band
 * bucket exchange, keyed on (band, bandHash) and carrying ONLY ids + band
 * keys (never shingle arrays); (b) the pair dedup; (c) the per-surviving-pair
 * shingle fetch joins. Signatures are computed scan-side in codegen.
 */
object DedupOps {

  val P = TextOps.HashMod

  /** Deterministic affine hash family h_i(x) = (a_i * x + b_i) mod P. */
  private def affine(i: Int, h: Column): Column =
    pmod(h * lit(2654435761L % P + 2 * i + 1) + lit(1013904223L + 7919L * i), lit(P))

  /** Exact dedup: keep the first row (min orderCol) per content key.
    *
    * SKEW-SAFE plan: `groupBy(key).agg(min(struct(order, payload...)))` —
    * min over a struct is a DeclarativeAggregate with a PARTIAL phase, so
    * every map task collapses its local occurrences of a key to ONE row
    * before the exchange. A `row_number() over (partition by key)` window
    * would instead ship EVERY occurrence of a hot key (boilerplate chunk,
    * viral document — the exact inputs dedup exists for) into a single
    * sorted task: at 10^8 copies of one key that task is the job. Hot keys
    * here cost each mapper O(1) state and the exchange carries at most
    * (#partitions) rows per key, whatever the duplication factor.
    * (Physically it is a SortAggregate — struct buffers aren't hash-agg
    * mutable — but each mapper sorts only its OWN slice; the partial_min
    * before the exchange is what kills the skew. DedupOpsSpec asserts the
    * plan shape.)
    *
    * The struct min is ordered by (orderCol, remaining payload), a total
    * order — ties on orderCol break deterministically on payload instead
    * of partition arrival order, so the result is partitioning-invariant
    * (DedupOpsSpec) and identical to the window formulation whenever
    * orderCol is unique per key (the oracle construction). Payload columns
    * must be of orderable types (no maps); use a projection first if not.
    */
  def exactDedup(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains)
    require(payload.contains(orderCol),
      s"orderCol=$orderCol must be a non-key column of ${df.columns.mkString(",")}")
    // fail with a usable message instead of Min's analysis error: the
    // struct-min plan needs every payload column ORDERABLE (maps are not)
    payload.foreach { c =>
      val dt = df.schema(c).dataType
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt),
        s"exactDedup payload column '$c' has unorderable type ${dt.simpleString}: " +
        "project it away (or to an orderable encoding) before deduping — the " +
        "skew-safe min(struct) plan compares whole payload rows")
    }
    val ordered = struct((orderCol +: payload.filterNot(_ == orderCol)).map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(min(ordered).as("__first"))
      .select(df.columns.map(c =>
        if (keyCols.contains(c)) col(c) else col("__first").getField(c).as(c)): _*)
  }

  /** k-minhash signature column (array<long>) over word-`n`-gram shingles.
    * HOF formulation — kept as the semantic reference; the pipelines use
    * the fused codegen expression (FunctionsSpec pins equality). */
  def minhashSignature(text: Column, n: Int, k: Int): Column = {
    val hs = TextOps.shingleHashes(text, n)
    array((0 until k).map(i => array_min(transform(hs, h => affine(i, h)))): _*)
  }

  /** Explode a signature into (band_id, band_hash) rows: `bands` bands of
    * `rowsPer` minhashes each, band hash = polynomial fold of the slice. */
  def bandedSignature(sig: Column, bands: Int, rowsPer: Int): Column =
    array((0 until bands).map { b =>
      val bandHash = aggregate(
        slice(sig, b * rowsPer + 1, rowsPer), lit(0L),
        (acc, x) => pmod(acc * 31L + x, lit(P)))
      struct(lit(b).as("band"), bandHash.as("band_hash"))
    }: _*)

  /**
   * MinHash+LSH near-duplicate pairs with exact verification.
   *
   * Scale shape: signatures are computed in the scan stage; the shuffle is
   * keyed on (band, band_hash) — millions of small buckets, so the
   * bucket-local self-join is tiny everywhere (a hot bucket means actually-
   * identical content, which IS the output). Candidates are then verified
   * with exact Jaccard over the shingle-hash sets, so false positives from
   * banding never escape; recall is the standard 1-(1-s^r)^b curve.
   *
   * Returns (id_a, id_b, inter_size, union_size) with id_a < id_b,
   * inter/union as exact ints (jaccard = inter/union, left to the caller to
   * avoid float comparisons).
   */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2, k: Int = 8, bands: Int = 4,
                      minJaccardPct: Int = 60): DataFrame = {
    require(k % bands == 0,
      s"k=$k must divide into bands=$bands (trailing minhashes would be silently unused)")
    val rowsPer = k / bands
    // scan-parallelism floor (guide §2.5): the signature/shingle kernels
    // run in the scan stage; a single-row-group input would compute them
    // all on one core. No-op at scale (more splits than cores).
    val src = graft.util.Par.ensure(
      df.select(col(idCol).as("id"), col(textCol).as("text")))
    // Band exchange carries ONLY (id, band, band_hash) — at 100 TB the
    // shuffle payload is keys, not shingle sets (which are ~KB/row and
    // would ride the exchange ×bands copies). Column pruning keeps the
    // banding scan from materializing shingles at all. PlanSpec asserts
    // the exchange schema stays array-free.
    val banded = src
      .select(col("id"), explode(bandedSignature(
        graft.functions.GraftFunctions.minhash_sig(col("text"), n, k),
        bands, rowsPer)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.band_hash"))
    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      // a pair colliding in several bands must be verified once, not ×bands
      .dropDuplicates("id_a", "id_b")
    // fetch shingles once per SURVIVING pair: two hash joins back to the
    // (second, column-pruned) shingle scan — O(pairs + corpus) exchange
    // instead of O(corpus × bands × shingle bytes)
    val sh = src.select(col("id"),
      graft.functions.GraftFunctions.shingle_hashes(col("text"), n).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .transform(verifyJaccard(minJaccardPct))
      .select("id_a", "id_b", "inter_size", "union_size")
  }

  /** Exact-Jaccard verify over (sh_a, sh_b): the fused jaccard_counts
    * kernel (one set build + one probe per pair) unpacked into
    * inter_size/union_size — ≡ size(array_intersect)/size(array_union) on
    * the duplicate-free shingle arrays (FunctionsSpec pins equality). */
  private def verifyJaccard(minJaccardPct: Int)(df: DataFrame): DataFrame =
    df.withColumn("__jc",
        graft.functions.GraftFunctions.jaccard_counts(col("sh_a"), col("sh_b")))
      .withColumn("inter_size", shiftright(col("__jc"), 32).cast("int"))
      .withColumn("union_size", col("__jc").bitwiseAND(0xFFFFFFFFL).cast("int"))
      .filter(col("inter_size") * 100 >= col("union_size") * minJaccardPct)
      .drop("__jc")

  /**
   * 64-bit SimHash over word hashes: bit j of the signature is the sign of
   * Σ_words (bit j of xxhash64(word) ? +1 : -1). The 64 bit-vote
   * aggregations are unrolled at plan-build time (fixed small loop →
   * codegen'd; Spark lambdas can't drive shift amounts). Near-dup candidates
   * come from matching any of 4 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒
   * at least one chunk is equal).
   */
  def simhash(text: Column): Column = {
    val whs = transform(TextOps.words(text), w => xxhash64(w))
    (0 until 64).map { j =>
      val votes = aggregate(whs, lit(0L),
        (v, h) => v + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes >= 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups: chunk banding + hamming verification.
    *
    * The chunk count is DERIVED from `maxHamming` (pigeonhole: two
    * signatures at hamming distance h split into h+1 chunks must agree on
    * at least one chunk), so recall is 1.0 by construction for every
    * `maxHamming` — the old fixed-4-chunk variant silently missed pairs at
    * hamming 4-6 that differed in all four chunks. maxHamming=3 keeps the
    * classic 4×16-bit layout. Requires maxHamming in [0, 15] so chunks
    * keep ≥ 4 bits (beyond that, banding stops pruning anything). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, bits: Int = 64,
                      portable: Boolean = false): DataFrame = {
    require(bits >= 8 && bits <= 64)
    require(maxHamming >= 0 && maxHamming + 1 <= bits / 4,
      s"maxHamming=$maxHamming too large for $bits-bit signatures: chunks would be <4 bits and prune nothing")
    require(!portable || bits <= 30,
      s"portable simhash signatures only populate bits [0, 30) (values < P < 2^30) — " +
      s"bits=$bits would make every chunk above bit 30 constant 0, degenerating " +
      "its band join into a full cross join")
    val chunks = maxHamming + 1
    val width = (bits + chunks - 1) / chunks // ceil; last chunk may be narrower
    // portable=true uses the affine/poly-hash signature DuckDB reproduces
    // exactly (q_dedup_simhash_portable); default is the xxhash64 variant
    // scan-parallelism floor on the (id, text) projection, signature
    // kernel computed ABOVE it — a floor on the signature projection
    // itself would compute the kernel below the exchange, single-task
    val sigCol =
      if (portable) graft.functions.GraftFunctions.simhash_poly(col("__text"), bits)
      else graft.functions.GraftFunctions.simhash64(col("__text"))
    val sigd = graft.util.Par.ensure(
        df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), sigCol.as("sig"))
    val chunked = sigd.withColumn("chunk", explode(array((0 until chunks).map { c =>
      val lo = c * width
      val w = math.min(width, bits - lo)
      val cval =
        if (w >= 64) col("sig")
        else shiftright(col("sig"), lo).bitwiseAND((1L << w) - 1)
      struct(lit(c).as("cid"), cval.as("cval"))
    }: _*)))
      .select(col("id"), col("sig"), col("chunk.cid"), col("chunk.cval"))
    val a = chunked.select(col("cid"), col("cval"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("cid"), col("cval"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("cid", "cval"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .filter(hamming(col("sig_a"), col("sig_b")) <= maxHamming)
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
  }

  /**
   * Connected components over near-dup pairs → dedup CLUSTERS: every doc
   * gets the minimum reachable doc id as its cluster label (the canonical
   * survivor a training pipeline keeps). Docs in no pair are their own
   * cluster.
   *
   * Algorithm: iterative min-label propagation with pointer jumping
   * (label := label-of-label each round), the classic Spark CC shape —
   * converges in O(log diameter) rounds; near-dup clusters have tiny
   * diameters so 3-5 rounds typically suffice. Each round is two shuffles
   * over the (small) pair set, never over the corpus; `localCheckpoint`
   * truncates the growing lineage. Convergence is detected by a changed-
   * label count (one cheap action per round, standard for iterative graph
   * algorithms).
   */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
                          driverEdgeThreshold: Long = 500000L): DataFrame = {
    // HYBRID, the GraphFrames pattern: near-dup pair sets are tiny relative
    // to the corpus (they ARE the duplicates — a pair set anywhere near
    // corpus size means the dedup upstream already collapsed it), so below
    // the threshold a driver union-find labels the touched nodes in one
    // collect; untouched nodes label themselves via a left join. Each
    // distributed round costs 3 jobs over the cluster; the union-find is
    // microseconds. Above the threshold (or non-long ids), the distributed
    // O(log diameter) pointer-jumping loop below takes over unchanged.
    //
    // `pairs` is often an expensive lazy lineage (the whole minhash LSH
    // pipeline) — persist it around the gate so the threshold count and the
    // branch's own evaluation pay for it ONCE; both branches fully
    // materialize their derivations (collect / eager localCheckpoints)
    // before the unpersist.
    val pairsP = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val longIds = pairs.schema("id_a").dataType ==
        org.apache.spark.sql.types.LongType
      if (longIds && pairsP.count() <= driverEdgeThreshold)
        ccDriver(pairsP, nodes)
      else ccDistributed(pairsP, nodes)
    } finally { pairsP.unpersist(); () }
  }

  private val CcMaxIter = 20 // O(log diameter) rounds: ample for near-dup clusters

  private def ccDistributed(pairs: DataFrame, nodes: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    // defensive union of pair endpoints: an endpoint absent from `nodes`
    // would otherwise silently vanish from the labeling
    var labels = nodes.select(col("id"))
      .union(edges.select(col("src").as("id")))
      .distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < CcMaxIter) {
      // min over neighbor labels
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("dl").as("nbr"))
      val stepped = labels.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"), least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
      // pointer jump: label := label(label)
      val jumped = stepped.as("s")
        .join(stepped.select(col("id").as("label"), col("label").as("ll")).as("p"),
          Seq("label"), "left_outer")
        .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
        .localCheckpoint()
      changed = jumped.as("n")
        .join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .filter(col("label") =!= col("old")).count()
      labels = jumped
      iter += 1
    }
    labels
  }

  /** Driver union-find (path compression) over a collected small pair set;
    * min member id per component becomes every member's label. */
  private def ccDriver(pairs: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
    }
    val touched = parent.keys.toArray
    val minOfRoot = scala.collection.mutable.HashMap[Long, Long]()
    touched.foreach { m =>
      val r = find(m)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), m)
    }
    // RDD-backed, NOT a LocalRelation: toDF on a big Seq embeds every row
    // in the logical plan (slow driver-side encoding, bloated broadcast
    // payload); parallelize keeps the plan a reference to distributed data
    val labels = spark.createDataset(spark.sparkContext.parallelize(
        touched.map(m => (m, minOfRoot(find(m)))).toSeq,
        math.max(1, touched.length / 500000 + 1)))
      .toDF("id", "label")
    // defensive union of pair endpoints, same contract as the distributed
    // path: an endpoint absent from `nodes` still gets labeled.
    // The broadcast hint is bounded by TOUCHED-NODE count, not edge count
    // (ADVICE r3): at the 500k-edge gate the label table can reach ~1M rows
    // — two longs each, still comfortably broadcastable — but a caller who
    // raises driverEdgeThreshold could push it past sensible broadcast
    // sizes, so above 1M nodes the hint is dropped and the planner decides
    // (labels is RDD-backed; a shuffle join over it is correct, just
    // costlier).
    val labelsJ = if (touched.length <= 1000000) broadcast(labels) else labels
    nodes.select(col("id")).union(labels.select(col("id"))).distinct()
      .join(labelsJ, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** End-to-end near-dup clustering: minhash LSH pairs → connected
    * components over ALL docs (singletons keep their own id). Output:
    * (id, cluster, is_canonical). */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2, k: Int = 8, bands: Int = 4,
                      minJaccardPct: Int = 60): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, n, k, bands, minJaccardPct)
    val nodes = df.select(col(idCol).as("id"))
    connectedComponents(pairs, nodes)
      .select(col("id"), col("label").as("cluster"),
        (col("id") === col("label")).as("is_canonical"))
  }

  /** End-to-end near-dup corpus dedup — the materialized form of
    * nearDupClusters, i.e. what a training pipeline actually writes out:
    * only each cluster's canonical (minimum-id) doc survives; singletons
    * are their own cluster and always survive. Left-semi join keeps the
    * full original row without reshaping. */
  def dedupNearDups(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 2, k: Int = 8, bands: Int = 4,
                    minJaccardPct: Int = 60): DataFrame = {
    val canonical = nearDupClusters(df, idCol, textCol, n, k, bands, minJaccardPct)
      .filter(col("is_canonical")).select(col("id").as(idCol))
    df.join(canonical, Seq(idCol), "left_semi")
  }

  /**
   * C4-style SPAN dedup within a corpus (Raffel et al. 2020 §2.2 dedup
   * "three-sentence spans"; here fixed `chunkWords`-word windows because
   * this corpus carries no sentence delimiters — for prose, chunk on
   * sentence boundaries instead and the rest is identical): every repeated
   * chunk is dropped except its globally-FIRST occurrence (ordered by
   * (id, chunk index)), and each document is reassembled from its
   * surviving chunks. Documents whose every chunk was seen earlier
   * disappear entirely — they are pure duplicates. Output:
   * (id, n_kept, text_deduped).
   *
   * Scale shape: ONE shuffle of the corpus keyed on the chunk content (the
   * global first-occurrence decision is inherently corpus-wide — C4 pays
   * the same exchange), map-side-combined so hot chunks never concentrate
   * (see [[keepFirstAndReassemble]]), then a per-doc regroup. By default
   * chunks are grouped by their exact STRINGS — collision-free, and the
   * DuckDB oracle reproduces it; at 10^11+ chunks pass
   * `fingerprintSpans = true` to group on a 128-bit xxhash64 pair instead
   * (16-byte exchange keys, accepted ~2^-128 collision odds, reassembly
   * still carries the chunk text). Alignment caveat: fixed
   * windows only catch duplicates at the same intra-chunk offset —
   * content-delimited chunks (sentences) are alignment-free.
   */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                chunkWords: Int = 8, fingerprintSpans: Boolean = false): DataFrame = {
    require(chunkWords > 0)
    // one codegen kernel call per row (word_chunks ≡ TextOps.wordChunks,
    // FunctionsSpec-pinned): the HOF formulation both interprets its
    // lambda per element AND — without a projection barrier — re-splits
    // the whole text per chunk index (no CSE inside HOF lambdas).
    // NO scan-parallelism floor here: chunking is cheap per row and the
    // content-keyed exchange dominates — the round-6 interleaved A/B
    // measured the floored variant 0.59 → 0.93 s (repartitioning the text
    // bytes costs more than the single-task chunk scan it parallelizes).
    val chunked = df.select(col(idCol).as("id"),
      posexplode(graft.functions.GraftFunctions.word_chunks(col(textCol), chunkWords))
        .as(Seq("idx", "chunk")))
    keepFirstAndReassemble(chunked, fingerprintSpans)
  }

  /**
   * Shared tail of the span dedups: global first occurrence per chunk,
   * then per-doc reassembly.
   *
   * SKEW-SAFE first occurrence (same reasoning as [[exactDedup]]):
   * `groupBy(chunk).agg(min(struct(id, idx)))` has a PARTIAL phase, so a
   * chunk repeated 10^8 times across the corpus (boilerplate — the reason
   * span dedup exists) is collapsed to one row per map task BEFORE the
   * content-keyed exchange; the old `row_number() over (partition by
   * chunk)` window shipped every occurrence into one sorted task. The min
   * is over (id, idx) — a total order, because (id, idx) is unique — so
   * the kept occurrence is exactly the window's rank-1 row and the result
   * is partitioning-invariant.
   *
   * `fingerprint = false` groups on the chunk STRING: collision-free, and
   * the DuckDB oracle reproduces it. `fingerprint = true` groups on a
   * 128-bit chunk fingerprint (two independent xxhash64 views — distinct
   * seed-words, so a collision needs BOTH 64-bit hashes to collide:
   * p ≈ n²/2^129 over n distinct chunks, negligible below ~10^18) while
   * the chunk text rides the aggregate payload for reassembly. At 10^11+
   * spans this shrinks the exchange key from ~chunk bytes to 16 bytes;
   * DedupOpsSpec pins path equality.
   */
  private def keepFirstAndReassemble(chunked: DataFrame,
                                     fingerprint: Boolean): DataFrame = {
    val firsts =
      if (fingerprint)
        chunked.groupBy(
            xxhash64(col("chunk")).as("__fp1"),
            xxhash64(lit(0x9E3779B97F4A7C15L), col("chunk")).as("__fp2"))
          .agg(min(struct(col("id"), col("idx"), col("chunk"))).as("__f"))
          .select(col("__f.id").as("id"), col("__f.idx").as("idx"),
            col("__f.chunk").as("chunk"))
      else
        chunked.groupBy("chunk")
          .agg(min(struct(col("id"), col("idx"))).as("__f"))
          .select(col("__f.id").as("id"), col("__f.idx").as("idx"), col("chunk"))
    firsts
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk"))).as("text_deduped"))
  }

  /**
   * CONTENT-DEFINED span dedup — the alignment-free variant of
   * [[spanDedup]] (the rsync/FastCDC boundary idea applied to C4-style
   * corpus dedup): a chunk boundary opens before every word whose portable
   * hash ≡ 0 (mod avgChunkWords), so boundaries move WITH the content and
   * a passage duplicated at ANY offset chunks identically — fixed windows
   * only catch duplicates at the same intra-chunk alignment (spec
   * demonstrates the difference on a shifted passage). Expected chunk
   * length is avgChunkWords; the first/last chunk of a shifted duplicate
   * may still differ (they absorb surrounding context — inherent to CDC),
   * interior chunks dedup exactly.
   *
   * Same output contract as spanDedup: (id, n_kept, text_deduped), pure
   * duplicates vanish. Scale shape: IDENTICAL to spanDedup — chunking is
   * one codegen `cdc_chunks` kernel call per row (boundary rule fused into
   * the scan; FunctionsSpec pins it ≡ the explode + running-sum-window +
   * regroup formulation, which paid a tokens× row multiplication, a
   * per-doc window and a collect_list regroup — two exchanges — for what
   * is per-row arithmetic), then the skew-safe content-keyed global
   * first-occurrence exchange. The chunk-sequence index from posexplode
   * orders chunks exactly like the old min-word-pos idx (both are
   * monotone in document order), so results are unchanged.
   */
  def spanDedupCdc(df: DataFrame, idCol: String, textCol: String,
                   avgChunkWords: Int = 8, fingerprintSpans: Boolean = false): DataFrame = {
    require(avgChunkWords > 0)
    // no floor, same measured reasoning as spanDedup
    val chunked = df.select(col(idCol).as("id"),
      posexplode(graft.functions.GraftFunctions.cdc_chunks(col(textCol), avgChunkWords))
        .as(Seq("idx", "chunk")))
    keepFirstAndReassemble(chunked, fingerprintSpans)
  }

  /**
   * Exact n-gram Jaccard pairs within a blocking key (e.g. lang) — all
   * pairs reaching the threshold, found WITHOUT the quadratic in-block
   * self-join, via the two standard lossless set-similarity-join prunes:
   *
   *  - PREFIX FILTER (PPJoin family): under any global element order, two
   *    sets with |A∩B| ≥ ceil(t·|x|) must share an element within each
   *    set's first |x| - ceil(t·|x|) + 1 elements — if all shared elements
   *    sat in A's suffix of ceil(t·|A|) - 1 slots, there'd be too few of
   *    them. So candidates come from a join keyed on (block, prefix
   *    shingle): each doc explodes only its prefix (~(1-t) of its
   *    shingles), and a candidate must collide there. Disjoint-set pairs
   *    are never generated at all — at 100 TB the candidate count is
   *    driven by actual similarity, not block size².
   *  - The global order is DOCUMENT FREQUENCY ascending (ties by hash) —
   *    the PPJoin ordering. Any consistent order is lossless, but ordering
   *    by raw hash would put a globally-common shingle ("of the") into
   *    MOST prefixes whenever its one global hash happens to be small — a
   *    hot join key that goes quadratic in that shingle's frequency. With
   *    df-ascending order, frequent shingles sort last and rarely enter a
   *    prefix, so per-token fan-out is bounded by construction. Costs one
   *    token-level count + re-group per call (the documented PPJoin
   *    two-pass); the candidate shrinkage usually pays it back.
   *  - SIZE FILTER: J(A,B) ≥ t forces min(|A|,|B|)·100 ≥ t·max(|A|,|B|)
   *    (|A∩B| ≤ min, |A∪B| ≥ max), applied inside the candidate join.
   *
   * All prunes only drop pairs that CANNOT reach the threshold, so the
   * result is bit-identical to the all-pairs formulation (DedupOpsSpec
   * asserts equality incl. a seeded tiny-vocab stress; the DuckDB oracle
   * computes all-pairs independently). The candidate exchange carries
   * (blk, token, id, size) — scalars only; shingle arrays join back once
   * per surviving pair, as everywhere else. Every doc has a non-empty
   * prefix: shingleHashes emits at least one shingle for ANY text (short
   * texts get one padded shingle — Hashing.shingleHashes count =
   * max(words-n+1, 1)), so no doc can vanish from candidacy.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int, minJaccardPct: Int): DataFrame = {
    require(minJaccardPct >= 1 && minJaccardPct <= 100,
      s"minJaccardPct=$minJaccardPct: the prefix filter needs a positive threshold " +
      "(at 0 every pair qualifies vacuously — that's a cross join, not a similarity join)")
    // no scan floor: the interleaved A/B measured it 2.62 → 2.78+ s here —
    // shingling is cheap and the df-order/candidate exchanges dominate
    val src = df.select(col(blockCol).as("blk"), col(idCol).as("id"), col(textCol).as("text"))
    // SINGLE-SCAN CONTRACT: the (id, shingles) projection is materialized
    // once (eager localCheckpoint) — the df-ordering explode and the two
    // per-surviving-pair fetch joins below all read these blocks instead of
    // re-deriving the shingle scan three times through the lazy lineage
    // (three full corpus scans at 100 TB). localCheckpoint rather than
    // persist because the returned DataFrame is lazy: an unpersist inside
    // this function would race the caller's action, and a leaked persist
    // would pin executor memory. Blocks are freed by the ContextCleaner
    // once unreachable.
    val sized = src.select(col("blk"), col("id"),
        graft.functions.GraftFunctions.shingle_hashes(col("text"), n).as("sh"))
      .withColumn("ns", size(col("sh")))
      .localCheckpoint()
    // df-ascending re-order: explode to (id, tok) scalars, count df per
    // token, re-group each doc's shingles sorted by (df, tok)
    val exploded = sized.select(col("blk"), col("id"), col("ns"),
      explode(col("sh")).as("tok"))
    val dfTable = exploded.groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = exploded.join(dfTable, Seq("tok"))
      .groupBy("blk", "id", "ns")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col("blk"), col("id"), col("ns"),
        transform(col("st"), s => s.getField("tok")).as("shp"))
    // prefix length |x| - ceil(t·|x|) + 1 (ints: ceil(p·ns/100) = (p·ns+99) div 100)
    val ceilT = floor((col("ns") * minJaccardPct + 99) / lit(100.0)).cast("int")
    val pref = ordered
      .select(col("blk"), col("id"), col("ns"),
        explode(slice(col("shp"), lit(1), greatest(col("ns") - ceilT + 1, lit(0)))).as("tok"))
    val a = pref.select(col("blk"), col("tok"), col("id").as("id_a"), col("ns").as("ns_a"))
    val b = pref.select(col("blk"), col("tok"), col("id").as("id_b"), col("ns").as("ns_b"))
    val candidates = a.join(b, Seq("blk", "tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("ns_a"), col("ns_b")) * 100 >=
              greatest(col("ns_a"), col("ns_b")) * minJaccardPct)
      .select("blk", "id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val sh = sized.select(col("id"), col("sh"))
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .transform(verifyJaccard(minJaccardPct))
      .select("blk", "id_a", "id_b", "inter_size", "union_size")
  }
}
