package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (array<float>).
 *
 *  - Brute-force cosine top-k: the correctness baseline. Queries are
 *    broadcast; the scan side streams once through the corpus —
 *    BroadcastNestedLoopJoin, no shuffle of the big side; top-k via the
 *    map-side-combining `topk_ids` aggregate (scored pairs never ride an
 *    exchange — see rankTopK).
 *  - LSH-bucketed ANN (random hyperplanes): the scale path. Each vector gets
 *    a `bits`-bit sign signature from deterministic pseudo-random
 *    hyperplanes; candidates share a bucket, verified by exact cosine.
 *    At 100 TB the shuffle is keyed on the signature (2^bits buckets).
 *  - Embedding near-dup: same buckets, cosine >= threshold pairs.
 *
 * Dot products use zip_with + aggregate (codegen'd, no UDF). Double math
 * throughout — float inputs are upcast once.
 */
object SimilarityOps {

  /** Driver-side float extraction for collected vector rows — the vector
    * column may be array<float> OR array<double> (both are accepted by
    * every kernel here); getSeq[Float] on a double array would CCE. */
  private def vecFloats(r: org.apache.spark.sql.Row, i: Int): Array[Float] =
    r.getSeq[Any](i).iterator.map {
      case f: Float  => f
      case d: Double => d.toFloat
      case x         => x.asInstanceOf[Number].floatValue
    }.toArray

  /** Driver-side id extraction: any integral id column works (centroid ids
    * derive from row ids); a clear error for non-integral ids beats a
    * ClassCastException deep inside a k-means job. */
  private def idLong(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
    case l: Long  => l
    case n: Int   => n.toLong
    case s: Short => s.toLong
    case b: Byte  => b.toLong
    case other => throw new IllegalArgumentException(
      s"IVF requires an integral id column (centroid ids derive from it); got " +
      s"${if (other == null) "null" else other.getClass.getSimpleName}")
  }

  /** HOF formulations — the semantic reference (FunctionsSpec pins the
    * codegen expressions to these bit-for-bit). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd cosine — used by every hot path below. */
  private def cosineFast(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** Largest k the `topk_ids` aggregate serves in [[rankTopK]]. */
  private[graft] val MaxAggTopK = 64

  /**
   * Per-group top-k over scored candidate rows — the shared rank tail of
   * every probe here. For long ids (every corpus in this engine) it is the
   * map-side-combining `topk_ids` aggregate (guide §2.3 — each map task
   * collapses its slice of a group to ≤ k rows BEFORE the exchange, so the
   * shuffle carries O(groups·k) rows instead of every scored pair, and the
   * window's per-partition sort disappears; ordering semantics are pinned
   * to the window formulation in TopKAggSpec). Non-long ids keep the
   * window formulation.
   */
  private def rankTopK(scored: DataFrame, groupCol: String, keyCol: String,
                       idCol: String, k: Int, desc: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // the aggregate holds a k × 18 B buffer PER GROUP per task, up to 4096
    // groups (GraftSession's fallbackThreshold): k ≤ 64 bounds that at
    // ≈ 4.7 MB per task; a larger k takes the window, whose sort spills.
    // Non-(double, long) inputs degrade to the window, never to an error.
    if (k <= MaxAggTopK && scored.schema(idCol).dataType == LongType &&
        scored.schema(keyCol).dataType == DoubleType) {
      scored.groupBy(groupCol)
        .agg(graft.functions.GraftAggregates.topk_ids(
          col(keyCol), col(idCol), k, desc).as("__topk"))
        .select(col(groupCol), posexplode(col("__topk")).as(Seq("__pos", idCol)))
        .select(col(groupCol), col(idCol), (col("__pos") + 1).as("rank"))
    } else {
      val key = if (desc) col(keyCol).desc else col(keyCol).asc
      val w = Window.partitionBy(groupCol).orderBy(key, col(idCol))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(groupCol, idCol, "rank")
    }
  }

  /**
   * Exact top-k neighbors for each query vector (excluding self-matches by
   * id). Output: (query_id, neighbor_id, rank). Ties broken by neighbor id
   * so results are deterministic. The corpus side's scan parallelism is
   * floored (Par.ensure — the scoring happens IN the scan stage, and a
   * single-row-group input would otherwise score n² pairs on one core);
   * the rank is the map-side-combining top-k, not a window over all pairs.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = graft.util.Par.ensure(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineFast(col("qv"), col("cv")))
    rankTopK(scored, "query_id", "sim", "neighbor_id", k, desc = true)
  }

  /**
   * Deterministic pseudo-random hyperplane component for (plane i, dim d):
   * a fixed integer mix mapped to [-1, 1). No RNG state — reproducible
   * across engines and runs.
   */
  private def planeComponent(i: Int, d: Column): Column = {
    val mixed = pmod(d * lit(2654435761L + 40503L * i) + lit(97531L * i + 12345L),
      lit(1000003L))
    mixed.cast("double") / lit(500001.5) - lit(1.0)
  }

  /** `bits`-bit hyperplane sign signature. The plane loop is small and
    * fixed, so it is unrolled at plan-build time into `bits` codegen'd
    * projections (cleaner than a doubly-nested lambda aggregate).
    * Empty vectors are pinned to signature 0 explicitly: sequence(0, -1)
    * counts DOWN in Spark, so the unguarded zip_with would null-pad and
    * diverge from the kernel (which also defines empty → 0). */
  def lshSignatureUnrolled(vec: Column, bits: Int): Column = {
    val bitCols = (0 until bits).map { i =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x.cast("double") * planeComponent(i, d)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    when(size(vec) === 0, lit(0L)).otherwise(bitCols.reduce(_ + _))
  }

  /** Signature for table `tbl` — each table draws a disjoint plane set
    * (plane indices offset by tbl*bits). Codegen'd fused expression;
    * FunctionsSpec pins equality to lshSignatureUnrolled. */
  private def tableSignature(vec: Column, bits: Int, tbl: Int): Column =
    graft.functions.GraftFunctions.lsh_signature(vec, bits, tbl * bits)

  /**
   * ANN top-k through multi-table LSH buckets (standard recall amplifier:
   * L independent tables, candidate = collides in ANY table; recall
   * 1-(1-p^bits)^L). Exact cosine within buckets, per-query rank. The
   * shuffle is keyed on (table, signature) — tables*2^bits buckets — and
   * carries ONLY (tbl, sig, id): at 100 TB the embedding arrays would
   * otherwise ride the exchange ×2 sides ×`tables` copies. Surviving
   * candidate pairs fetch their two vectors back with two hash joins
   * against a column-pruned scan — O(pairs + corpus) exchange bytes,
   * the same shape as DedupOps.minhashNearDups (PlanSpec asserts the
   * band exchange stays array-free). Output matches bruteForceTopK's
   * shape; recall < 1 by design.
   *
   * `bits <= 0` (the default) derives the signature width from the corpus
   * size via [[occupancyBits]] — the same autoscale embeddingNearDups has.
   * The bucket-local self-join is quadratic in occupancy, so a FIXED bits
   * at growing n is a disguised near-cartesian: a naive caller at 10^9
   * vectors with bits=8 would get ~4M-row buckets and a 10^13-pair join.
   * Autoscale costs one count() of the corpus PER CALL — a probe service
   * invoking this per query batch should pass `knownCorpusSize` (measure
   * once, reuse) or explicit bits; SimilarityOpsSpec asserts the hint path runs zero
   * pre-action jobs.
   */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, bits: Int = 0, tables: Int = 4,
              knownCorpusSize: Long = -1L): DataFrame = {
    val src = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val b0 =
      if (bits > 0) bits
      else occupancyBits(if (knownCorpusSize >= 0L) knownCorpusSize else src.count())
    // scan-parallelism floor on the SIGNATURE side only: the ×tables
    // kernels run in the scan stage, before the band exchange restores
    // parallelism (no-op at scale). The per-pair vector-fetch joins below
    // keep the raw scan — they exchange on the join key anyway and their
    // scan stage computes nothing.
    val signed = graft.util.Par.ensure(src).select(col("id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), tableSignature(col("v"), b0, t).as("sig"))): _*))
        .as("ts"))
      .select(col("id"), col("ts.tbl"), col("ts.sig"))
    val a = signed.select(col("tbl"), col("sig"), col("id").as("query_id"))
    val b = signed.select(col("tbl"), col("sig"), col("id").as("neighbor_id"))
    val candidates = a.join(b, Seq("tbl", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      // a pair colliding in several tables must be verified once, not ×tables
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .join(src.select(col("id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(src.select(col("id").as("neighbor_id"), col("v").as("cv")), Seq("neighbor_id"))
      .withColumn("sim", cosineFast(col("qv"), col("cv")))
    rankTopK(scored, "query_id", "sim", "neighbor_id", k, desc = true)
  }

  private val KmeansIters = 2 // Lloyd rounds of the coarse k-means
  private val HomeLists = 2   // posting lists each vector is homed in
  private val RefineIters = 1 // Lloyd rounds of the hierarchical fine level

  /**
   * k-means centroids for the IVF coarse quantizer, trained FAISS-style on
   * a hash-selected sample (~64 points per centroid) rather than the full
   * corpus — at 10^12 vectors the training shuffles touch only the sample.
   *
   *  - init: `k` points chosen by hash order over the whole id space (a
   *    deterministic spread, not an id-prefix sample — prefixes correlate
   *    with insertion order and collapse recall);
   *  - [[KmeansIters]] Lloyd rounds: broadcast centroids → per-point
   *    argmax by cosine (narrow) → element-wise mean per cluster
   *    (posexplode + two-level aggregate, shuffled only over the sample);
   *  - clusters that lose all points drop out (k shrinks, never crashes).
   *
   * Returns (cid, cv). The result is broadcast by the callers, so size it
   * like any broadcast table: nCentroids × dim × 4B ≤ ~100 MB — beyond
   * that a hierarchical (two-level) quantizer is the right tool.
   */
  private[graft] def kmeansCentroids(vecs: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    val spark = vecs.sparkSession
    val n = vecs.count()
    val mod = 1000000L
    val target = math.min(n, 64L * k)
    val thresh = if (n == 0) mod else math.min(mod, mod * target / n + 1)
    // pin the (small, ≤64·k-row) sample: every Lloyd round re-scans it.
    // Par.ensure: each round's assignment kernel runs over the pinned
    // sample's partitioning — floored, but CAPPED by the sample size
    // (~512 rows per task) so a small-k training sample doesn't pay a
    // full-width exchange for a few hundred rows
    val train = graft.util.Par.ensure(
        vecs.filter(pmod(xxhash64(col("id"), lit(17)), lit(mod)) < thresh),
        math.max(1, (target / 512L).toInt))
      .localCheckpoint()
    // centroids live on the DRIVER between rounds (they are k × dim floats
    // — broadcast-sized by contract): each Lloyd round is then ONE job —
    // narrow per-row assignment via the nearest_centroids kernel +
    // per-(cluster, dim) mean — instead of the old join + per-id window +
    // two-level aggregate chain whose lineage had to be checkpointed per
    // round. Same math, same argmax tie-break (FunctionsSpec pins the
    // kernel to the join+window ranking bit-for-bit).
    var centArr: Array[(Long, Array[Float])] = train
      .orderBy(pmod(xxhash64(col("id"), lit(31)), lit(mod)), col("id"))
      .limit(k).select(col("id"), col("v")).collect()
      .map(r => (idLong(r, 0), vecFloats(r, 1)))
    for (_ <- 1 to KmeansIters if centArr.nonEmpty) {
      val means = train.select(
          // get() (null out-of-bounds) not element_at: a zero-norm vector
          // has no defined nearest centroid and must drop out, not throw
          get(graft.functions.GraftFunctions.nearest_centroids(
            col("v"), centArr.toSeq, 1), lit(0)).as("cid"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .filter(col("cid").isNotNull)
        .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
        .collect()
      // clusters that lose all points drop out (k shrinks, never crashes)
      centArr = means.groupBy(_.getLong(0)).map { case (cid, rows) =>
        val dim = rows.map(_.getInt(1)).max + 1
        val cv = new Array[Float](dim)
        rows.foreach(r => cv(r.getInt(1)) = r.getDouble(2).toFloat)
        (cid, cv)
      }.toArray.sortBy(_._1)
    }
    import spark.implicits._
    centArr.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<float>").as("cv"))
  }

  /**
   * A built IVF index: driver-side `centroids` (cid, vector — tiny and
   * broadcast-sized by the coarse-quantizer contract, nCentroids × dim ×
   * 4B ≤ ~100 MB) and the inverted file `homed` (cid, neighbor_id, cv2) —
   * the corpus laid out by centroid id (at 100 TB: a table bucketed/
   * partitioned on cid, so probes join against co-located posting lists
   * with no corpus shuffle). The inverted file is persisted: index build
   * is paid ONCE and amortized across every probe batch (the reference
   * pattern for any real ANN service — re-training k-means per query
   * batch buries probe latency in build cost). Call `unpersist()` when
   * done.
   */
  final case class IvfIndex(centroids: Array[(Long, Array[Float])],
                            homed: DataFrame) {
    /** Force materialization (so probe timings never pay build cost). */
    def materialize(): IvfIndex = { homed.count(); this }
    def unpersist(): Unit = homed.unpersist()
  }

  /**
   * Build the IVF index: k-means coarse quantizer + multi-assignment
   * ("spill", [[HomeLists]] nearest lists per vector — the index is that
   * many times bigger, but boundary neighbors stop being missed; FAISS
   * calls this replication).
   *
   * Assignment is ONE narrow codegen call per row (`nearest_centroids`,
   * centroids embedded in the generated code): the broadcast-join + per-id
   * window formulation it replaces materializes rows × centroids
   * intermediates and shuffles them through the window — at 10^12 rows ×
   * 10^4 centroids that intermediate dwarfs the corpus. FunctionsSpec pins
   * the kernel's ranking bit-identical to the join formulation.
   */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, persist: Boolean = true): IvfIndex = {
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val centArr = kmeansCentroids(vecs, nCentroids).collect()
      .map(r => (idLong(r, 0), vecFloats(r, 1)))
      .sortBy(_._1)
    // an empty corpus yields zero centroids — the index is simply empty,
    // never a construction-time crash
    val homed0 =
      if (centArr.isEmpty)
        vecs.filter(lit(false))
          .select(lit(0L).as("cid"), col("id").as("neighbor_id"), col("v").as("cv2"))
      else graft.util.Par.ensure(vecs).select(
        explode(graft.functions.GraftFunctions.nearest_centroids(
          col("v"), centArr.toSeq, HomeLists)).as("cid"),
        col("id").as("neighbor_id"), col("v").as("cv2"))
    val homed = if (persist) homed0.persist() else homed0
    IvfIndex(centArr, homed)
  }

  /**
   * Probe a built IVF index: each query picks its `nProbe` nearest
   * centroids scan-side (same narrow kernel as the build), visits those
   * posting lists, and exact-ranks only the vectors homed there. The only
   * exchange is the candidate join keyed on centroid id — the
   * inverted-file partition layout.
   */
  def ivfProbe(index: IvfIndex, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, nProbe: Int): DataFrame = {
    if (index.centroids.isEmpty)
      return queries.filter(lit(false)).select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(1).as("rank"))
    val probes = graft.util.Par.ensure(queries).select(
      explode(graft.functions.GraftFunctions.nearest_centroids(
        col(vecCol), index.centroids.toSeq, nProbe)).as("cid"),
      col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = probes.join(index.homed, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // score INSIDE the join stage, where both vectors are already
      // co-located — everything downstream is (ids, sim) scalars. Multi-
      // assignment surfaces a pair once per shared list with an identical
      // sim; collapsing via a map-side-combining max shuffles 24-byte rows,
      // where a dropDuplicates BEFORE scoring shuffled both embedding
      // vectors per candidate (~30x the bytes, measured ~2x probe latency)
      .withColumn("sim", cosineFast(col("qv"), col("cv2")))
      .groupBy("query_id", "neighbor_id").agg(max("sim").as("sim"))
    rankTopK(scored, "query_id", "sim", "neighbor_id", k, desc = true)
  }

  /**
   * Two-level (hierarchical) IVF index — lifts the flat quantizer's
   * broadcast ceiling. The flat contract caps driver-held centroids at
   * ~100 MB (nCentroids × dim × 4B); with 10^9+ vectors the standard
   * ~sqrt(n) sizing blows past it. Here the driver holds ONLY the
   * `nCoarse` level-1 centroids (sqrt-scale: ~nCoarse × dim floats), while
   * the nCoarse × nFinePerCell level-2 centroids live in a DISTRIBUTED
   * table keyed on the coarse cell id — they are never collected,
   * broadcast, or embedded in codegen. Assignment is coarse-kernel (narrow,
   * nCoarse comparisons) then a hash join on ccid against the fine table
   * (nFinePerCell comparisons inside the join projection): k total cells
   * at 2·sqrt(k) comparisons per row and a sqrt(k)-sized driver footprint.
   *
   *  - `coarse`: level-1 centroids, driver-held (same contract as IvfIndex)
   *  - `fine`:   (ccid, fcid, fv) — the level-2 quantizer, a DataFrame
   *  - `homed`:  (ccid, fcid, neighbor_id, cv2) — the inverted file, keyed
   *              on the FULL two-level cell id
   */
  final case class HierIvfIndex(coarse: Array[(Long, Array[Float])],
                                fine: DataFrame, homed: DataFrame) {
    /** Force materialization (so probe timings never pay build cost). */
    def materialize(): HierIvfIndex = { fine.count(); homed.count(); this }
    def unpersist(): Unit = { fine.unpersist(); homed.unpersist(); () }
  }

  /**
   * Build the two-level index. Level 1 is the flat k-means coarse
   * quantizer. Level 2 initializes each cell's sub-centroids from a
   * deterministic hash-spread of the cell's own points, then runs
   * [[RefineIters]] DISTRIBUTED Lloyd rounds: assignment is a join on ccid
   * over a hash-selected training sample (fan-out bounded at sample ×
   * nFinePerCell — never corpus × k), the mean update a per-(cell, dim)
   * aggregate. The one corpus-wide shuffle is the homed layout itself —
   * the inverted file's partitioning, which any IVF build pays.
   */
  def buildHierIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                        nCoarse: Int, nFinePerCell: Int,
                        persist: Boolean = true): HierIvfIndex = {
    require(nCoarse > 0 && nFinePerCell > 0)
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val coarse = kmeansCentroids(vecs, nCoarse).collect()
      .map(r => (idLong(r, 0), vecFloats(r, 1))).sortBy(_._1)
    if (coarse.isEmpty) {
      val empty = vecs.filter(lit(false))
      return HierIvfIndex(coarse,
        empty.select(lit(0L).as("ccid"), lit(0L).as("fcid"), col("v").as("fv")),
        empty.select(lit(0L).as("ccid"), lit(0L).as("fcid"),
          col("id").as("neighbor_id"), col("v").as("cv2")))
    }
    // fine training runs over a hash-spread sample (~64 points per fine
    // cell), like the coarse k-means — the full corpus never joins the
    // fine table until the homed layout at the end
    val mod = 1000000L
    val n = vecs.count()
    val target = math.min(n, 64L * nCoarse.toLong * nFinePerCell)
    val thresh = if (n == 0) mod else math.min(mod, mod * target / n + 1)
    // floor the hash-filtered sample FIRST (capped, see kmeans), assign
    // coarse cells ABOVE it — the kernel must run after the exchange
    val sample = graft.util.Par.ensure(
        vecs.filter(pmod(xxhash64(col("id"), lit(23)), lit(mod)) < thresh),
        math.max(1, (target / 512L).toInt))
      .select(col("id"), col("v"),
        get(graft.functions.GraftFunctions.nearest_centroids(
          col("v"), coarse.toSeq, 1), lit(0)).as("ccid"))
      .filter(col("ccid").isNotNull)
      .localCheckpoint()
    // init: up to nFinePerCell hash-ranked points per coarse cell ARE the
    // initial sub-centroids (k-means++-ish spread without extra passes)
    val wInit = Window.partitionBy("ccid")
      .orderBy(pmod(xxhash64(col("id"), lit(53)), lit(mod)), col("id"))
    var fine = sample.withColumn("__r", row_number().over(wInit))
      .filter(col("__r") <= nFinePerCell)
      .select(col("ccid"), (col("__r") - 1).cast("long").as("fcid"),
        col("v").cast("array<float>").as("fv"))
      .localCheckpoint()
    for (_ <- 1 to RefineIters) {
      val asg = sample.join(fine, Seq("ccid"))
        .withColumn("fsim", cosineFast(col("v").cast("array<float>"), col("fv")))
      val wBest = Window.partitionBy("ccid", "id")
        .orderBy(col("fsim").desc, col("fcid"))
      val best = asg.withColumn("__rn", row_number().over(wBest))
        .filter(col("__rn") === 1)
        .select(col("ccid"), col("fcid"), col("v"))
      // per-(cell, dim) means → re-assembled sub-centroid vectors; cells
      // that lose every point drop out (the probe just skips them)
      fine = best
        .select(col("ccid"), col("fcid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("ccid", "fcid", "pos").agg(avg("x").as("m"))
        .groupBy("ccid", "fcid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("ccid"), col("fcid"),
          transform(col("pm"), s => s.getField("m")).cast("array<float>").as("fv"))
        .localCheckpoint()
    }
    // Every coarse cell is GUARANTEED a fine list: the coarse centroid
    // itself joins the fine table as sub-centroid fcid = -1. Without it, a
    // cell whose points all missed the hash sample would have no fine rows,
    // and the inner joins below would silently drop every vector homed
    // there from the inverted file — unreachable neighbors, invisible
    // recall loss. With it, sparse cells degrade to one coarse-grained
    // list instead of vanishing. (nCoarse rows — a LocalRelation union.)
    val spark = corpus.sparkSession
    import spark.implicits._
    val coarseAsFine = coarse.toSeq
      .map { case (cid, cv) => (cid, -1L, cv.toSeq) }
      .toDF("ccid", "fcid", "fv")
      .select(col("ccid"), col("fcid"), col("fv").cast("array<float>").as("fv"))
    val fineAll = fine.unionByName(coarseAsFine)
    // inverted file keyed on the full (ccid, fcid) cell: HomeLists coarse homes
    // per vector (boundary replication, as in the flat build), nearest fine
    // list within each home
    val homedCoarse = graft.util.Par.ensure(vecs).select(
      explode(graft.functions.GraftFunctions.nearest_centroids(
        col("v"), coarse.toSeq, HomeLists)).as("ccid"),
      col("id").as("neighbor_id"), col("v").as("cv2"))
    val wHome = Window.partitionBy("ccid", "neighbor_id")
      .orderBy(col("hsim").desc, col("fcid"))
    val homed0 = homedCoarse.join(fineAll, Seq("ccid"))
      .withColumn("hsim", cosineFast(col("cv2").cast("array<float>"), col("fv")))
      .withColumn("__rn", row_number().over(wHome))
      .filter(col("__rn") === 1)
      .select("ccid", "fcid", "neighbor_id", "cv2")
    val homed = if (persist) homed0.persist() else homed0
    val fineOut = if (persist) fineAll.persist() else fineAll
    HierIvfIndex(coarse, fineOut, homed)
  }

  /**
   * Probe the two-level index: `nProbeCoarse` nearest coarse cells via the
   * driver-held kernel (narrow), then the `nProbeFine` best fine lists
   * among them via a join on ccid (the fine table is distributed — no
   * broadcast of the full quantizer anywhere), then exact cosine over the
   * visited posting lists. Output shape matches ivfProbe/bruteForceTopK.
   */
  def hierIvfProbe(index: HierIvfIndex, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nProbeCoarse: Int,
                   nProbeFine: Int): DataFrame = {
    if (index.coarse.isEmpty)
      return queries.filter(lit(false)).select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(1).as("rank"))
    val qprobes = graft.util.Par.ensure(queries).select(
      explode(graft.functions.GraftFunctions.nearest_centroids(
        col(vecCol), index.coarse.toSeq, nProbeCoarse)).as("ccid"),
      col(idCol).as("query_id"), col(vecCol).as("qv"))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("fsim").desc, col("ccid"), col("fcid"))
    val lists = qprobes.join(index.fine, Seq("ccid"))
      .withColumn("fsim", cosineFast(col("qv").cast("array<float>"), col("fv")))
      .withColumn("__rf", row_number().over(wf))
      .filter(col("__rf") <= nProbeFine)
      .select("query_id", "qv", "ccid", "fcid")
    val scored = lists.join(index.homed, Seq("ccid", "fcid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // score inside the join, dedup (ids, sim) scalars — same shape
      // rationale as ivfProbe
      .withColumn("sim", cosineFast(col("qv"), col("cv2")))
      .groupBy("query_id", "neighbor_id").agg(max("sim").as("sim"))
    rankTopK(scored, "query_id", "sim", "neighbor_id", k, desc = true)
  }

  /**
   * Product-quantization codebook: `m` subspaces × `ksub` centroids ×
   * `dsub = dim/m` dims, flat layout ((s·ksub)+c)·dsub+d. Driver-held and
   * embedded in the scan kernels — m·ksub·dsub floats (m=8, ksub=256,
   * d=64 → 64 KB), three orders of magnitude under the broadcast ceiling.
   */
  final case class PqCodebook(m: Int, ksub: Int, dsub: Int, flat: Array[Float]) {
    require(m > 0 && ksub > 0 && dsub > 0 && flat.length == m * ksub * dsub)
    def dim: Int = m * dsub
  }

  /**
   * Train a PQ codebook (Jégou et al. 2011: per-subspace k-means). THE
   * memory play for 10^9+-vector ANN: a 64-d float vector is 256 B, its
   * m=8 codes are 8 B — 32× less corpus to store, scan and shuffle, with
   * probes scoring via m table lookups per row (see [[pqAdcTopK]]).
   *
   *  - init: `ksub` vectors chosen by PORTABLE affine-hash order (the
   *    TrainingOps mix family), each sliced into its m subvectors — at
   *    `iters = 0` the codebook is therefore bit-reproducible by the
   *    DuckDB oracle (float-exact: sampled, not averaged);
   *  - `iters` Lloyd rounds (L2, per subspace) over a hash-selected
   *    ~64·ksub-vector sample, one job per round (assignment via the
   *    codegen pq_encode kernel + per-(sub, centroid, dim) mean);
   *    clusters that lose all points keep their previous centroid (PQ
   *    needs a FIXED ksub — codes index into the table).
   */
  def pqTrainCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int, ksub: Int, iters: Int = 1): PqCodebook = {
    require(m > 0 && ksub > 0 && iters >= 0)
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // portable affine mix, seed 67 (constants mirrored in the oracle SQL)
    val P = 1000000007L
    val mixed = pmod(pmod(col("id"), lit(P)) * lit(2654435761L % P + 2L * 67 + 1)
      + lit(1013904223L + 7919L * 67), lit(P))
    val init = vecs.orderBy(mixed, col("id")).limit(ksub)
      .select("v").collect().map(vecFloats(_, 0))
    require(init.nonEmpty, "pqTrainCodebook: empty corpus")
    val dim = init(0).length
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val dsub = dim / m
    val k0 = init.length // tiny corpora yield k0 < ksub; codes stay < k0
    val flat = new Array[Float](m * k0 * dsub)
    for (c <- 0 until k0; s <- 0 until m; d <- 0 until dsub)
      flat(((s * k0) + c) * dsub + d) = init(c)(s * dsub + d)
    var cb = PqCodebook(m, k0, dsub, flat)
    if (iters > 0) {
      val n = vecs.count()
      val mod = 1000000L
      val target = math.min(n, 64L * k0)
      val thresh = if (n == 0) mod else math.min(mod, mod * target / n + 1)
      val train = graft.util.Par.ensure(vecs
          .filter(pmod(xxhash64(col("id"), lit(19)), lit(mod)) < thresh),
          math.max(1, (target / 512L).toInt)) // sample-size-capped
        .localCheckpoint()
      for (_ <- 1 to iters) {
        val means = train
          .select(posexplode(graft.functions.GraftFunctions.pq_encode(
              col("v"), cb.flat, cb.m, cb.ksub, cb.dsub)).as(Seq("s", "c")),
            col("v"))
          .select(col("s"), col("c"),
            posexplode(slice(col("v"), col("s") * dsub + 1, lit(dsub))).as(Seq("d", "x")))
          .groupBy("s", "c", "d").agg(avg(col("x")).as("mean"))
          .collect()
        val next = cb.flat.clone() // empty clusters keep previous centroids
        means.foreach { r =>
          next(((r.getInt(0) * k0) + r.getInt(1)) * dsub + r.getInt(2)) =
            r.getDouble(3).toFloat
        }
        cb = PqCodebook(m, k0, dsub, next)
      }
    }
    cb
  }

  /** Encode a corpus to PQ codes: (id, codes array<int> of length m). One
    * codegen kernel call per row; dimension-mismatched vectors yield null
    * codes (poison, never a crash). This is the table a PQ ANN service
    * persists — 8-16 B/vector instead of the raw embeddings. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               cb: PqCodebook): DataFrame =
    graft.util.Par.ensure(corpus).select(col(idCol).as("id"),
      graft.functions.GraftFunctions.pq_encode(
        col(vecCol), cb.flat, cb.m, cb.ksub, cb.dsub).as("codes"))

  /**
   * ADC top-k over PQ codes (asymmetric distance: exact query vs quantized
   * corpus). Each query computes its (m·ksub)-entry LUT ONCE, scan-side
   * (codegen pq_lut); corpus rows then score with m array lookups
   * (pq_adc) — never a d-dim distance. Scale shape mirrors
   * [[bruteForceTopK]]'s broadcast contract but the streamed side carries
   * 8-16 B codes instead of 256 B vectors, and the rank window shuffles
   * (ids, dist) scalars only. Exact-rank the returned candidates against
   * raw vectors for a re-ranked pipeline (IVF-PQ style).
   */
  def pqAdcTopK(encoded: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, cb: PqCodebook, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      graft.functions.GraftFunctions.pq_lut(
        col(vecCol), cb.flat, cb.m, cb.ksub, cb.dsub).as("lut"))
    val scored = graft.util.Par.ensure(encoded).crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("id"))
      .withColumn("dist",
        graft.functions.GraftFunctions.pq_adc(col("codes"), col("lut"), cb.ksub))
      // poison rows (dimension-mismatched vectors → null codes/LUT → null
      // dist) must DROP here: ascending order is NULLS FIRST, so an
      // unfiltered null-dist row would outrank every real neighbor
      .filter(col("dist").isNotNull)
    rankTopK(scored, "query_id", "dist", "id", k, desc = false)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
  }

  /**
   * PQ shortlist + exact re-rank — how PQ is actually deployed (Jégou's
   * ADC is a SHORTLIST generator, not a ranker): ADC picks `shortlist`
   * candidates per query from the 8-16 B/row codes table, then ONLY those
   * candidates fetch their raw vectors (hash join keyed on id — the
   * per-surviving-pair pattern every near-dup operator here uses) for an
   * exact L2 re-rank. Whole-corpus scans touch codes; raw embeddings are
   * read for queries × shortlist rows only. Recall of the re-ranked top-k
   * equals the shortlist's hit rate (0.83 measured at m=8, ksub=64,
   * 2 Lloyd rounds, shortlist 20 on the sf0.001 corpus — spec-pinned
   * floor 0.7).
   */
  def pqRerankTopK(encoded: DataFrame, corpusVecs: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, cb: PqCodebook,
                   k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k)
    val cand = pqAdcTopK(encoded, queries, idCol, vecCol, cb, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cand, corpusVecs, queries, idCol, vecCol, k)
  }

  /**
   * IVF-PQ probe — the composition deployed at 10^9+ vectors (FAISS's
   * IVFADC): the IVF coarse quantizer prunes candidates to the probed
   * posting lists (sub-linear candidate generation — kills the ADC
   * cross join), PQ ADC scores those candidates from 8-16 B codes, and
   * only shortlist survivors fetch raw vectors for the exact re-rank.
   *
   * Exchange audit: probes ship (cid, query_id) scalars to the posting
   * lists; the candidate pair set is (query_id, neighbor_id) scalars;
   * codes join in at 8-16 B/row; per-query LUTs (m·ksub doubles) ride a
   * BROADCAST keyed on query_id, never the candidate exchange; raw
   * vectors appear only for queries × shortlist rows. Recall compounds
   * the IVF list hit rate with the PQ shortlist hit rate — spec-pinned.
   */
  def pqIvfProbe(index: IvfIndex, codes: DataFrame, corpusVecs: DataFrame,
                 queries: DataFrame, idCol: String, vecCol: String,
                 cb: PqCodebook, k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k)
    if (index.centroids.isEmpty)
      return queries.filter(lit(false)).select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(1).as("rank"))
    val pairs = graft.util.Par.ensure(queries).select(
        explode(graft.functions.GraftFunctions.nearest_centroids(
          col(vecCol), index.centroids.toSeq, nProbe)).as("cid"),
        col(idCol).as("query_id"))
      .join(index.homed.select(col("cid"), col("neighbor_id")), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // multi-assignment surfaces a pair once per shared list
      .dropDuplicates("query_id", "neighbor_id")
      .select("query_id", "neighbor_id")
    val luts = queries.select(col(idCol).as("query_id"),
      graft.functions.GraftFunctions.pq_lut(
        col(vecCol), cb.flat, cb.m, cb.ksub, cb.dsub).as("lut"))
    val scored = pairs
      .join(codes.select(col("id").as("neighbor_id"), col("codes")), Seq("neighbor_id"))
      .join(broadcast(luts), Seq("query_id"))
      .withColumn("dist",
        graft.functions.GraftFunctions.pq_adc(col("codes"), col("lut"), cb.ksub))
      .filter(col("dist").isNotNull) // poison rows: see pqAdcTopK
    val cand = rankTopK(scored, "query_id", "dist", "neighbor_id", shortlist,
        desc = false)
      .select("query_id", "neighbor_id")
    exactRerank(cand, corpusVecs, queries, idCol, vecCol, k)
  }

  /** Shared exact-L2 re-rank tail: fetch raw vectors per surviving
    * candidate (broadcast query side, hash join on neighbor id), rank. */
  private def exactRerank(cand: DataFrame, corpusVecs: DataFrame,
                          queries: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val nv = corpusVecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = cand
      .join(broadcast(qv), Seq("query_id"))
      .join(nv, Seq("neighbor_id"))
      .withColumn("d2", aggregate(
        zip_with(col("qv"), col("nv"),
          (a, b) => (a.cast("double") - b.cast("double")) *
                    (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => acc + x))
      .filter(col("d2").isNotNull) // length-mismatched zip_with → null
    rankTopK(scored, "query_id", "d2", "neighbor_id", k, desc = false)
  }

  private[graft] val TargetOccupancy = 32 // vectors per LSH bucket

  /** Signature width that targets [[TargetOccupancy]] vectors per bucket:
    * 2^bits ≈ n / target. The bucket-local self-join is quadratic in
    * occupancy, so a FIXED bits at growing n is a disguised near-cartesian
    * — this is the standard LSH sizing rule (Bench uses the same one). */
  def occupancyBits(n: Long): Int =
    math.max(4, (math.log(math.max(1L, n).toDouble / TargetOccupancy) /
      math.log(2)).ceil.toInt)

  /**
   * Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ threshold),
   * candidates from LSH buckets, verified by exact cosine.
   *
   * Scale shape (same as lshTopK / minhashNearDups): the bucket exchange
   * carries ONLY (sig, id); surviving candidate pairs hash-join their two
   * vectors back from a column-pruned scan. `bits <= 0` (the default)
   * derives the signature width from the corpus size so bucket occupancy —
   * and therefore the quadratic bucket-local join — stays bounded as the
   * corpus grows (costs one count() of the corpus per call; pass
   * `knownCorpusSize` to reuse a size measured once, as in lshTopK).
   */
  def embeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double, bits: Int = 0,
                        knownCorpusSize: Long = -1L): DataFrame = {
    val src = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val b0 =
      if (bits > 0) bits
      else occupancyBits(if (knownCorpusSize >= 0L) knownCorpusSize else src.count())
    // signature scan floored; the per-pair fetch joins keep the raw scan
    val signed = graft.util.Par.ensure(src).select(col("id"),
      graft.functions.GraftFunctions.lsh_signature(col("v"), b0).as("sig"))
    val a = signed.select(col("sig"), col("id").as("id_a"))
    val b = signed.select(col("sig"), col("id").as("id_b"))
    a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .join(src.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("sim", cosineFast(col("va"), col("vb")))
      .filter(col("sim") >= minCosine)
      .select("id_a", "id_b", "sim")
  }
}
