package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Hot-loop helpers invoked from generated code (one static call per row,
 * plain JVM loops inside — no per-element Catalyst interpretation).
 *
 * Semantics are bit-identical to the built-in higher-order-function
 * formulations in TextOps/DedupOps/SimilarityOps (pinned by
 * FunctionsSpec): the same polynomial fold over code points, the same
 * affine minhash family, the same left-fold double arithmetic for dot
 * products — so the DuckDB oracles keep matching.
 */
object Hashing {

  val P = 1000000007L

  /** Whitespace words of a string — identical to
    * split(trim(text), "\\s+"): Spark's trim strips ONLY the space
    * character (not \t/\n like Java's String.trim), so strip spaces
    * manually before the regex split. */
  private def wordsOf(s: UTF8String): Array[String] = {
    val str = s.toString
    var a = 0
    var b = str.length
    while (a < b && str.charAt(a) == ' ') a += 1
    while (b > a && str.charAt(b - 1) == ' ') b -= 1
    val t = str.substring(a, b)
    // limit -1: Spark's split keeps trailing empty strings, Java's default
    // (limit 0) drops them — e.g. "x\t" must yield ["x", ""] in both
    if (t.isEmpty) Array("") else t.split("\\s+", -1)
  }

  /** Rolling hash over Unicode code points: acc*31 + cp, mod P.
    * ≡ TextOps.polyHash (aggregate over split chars). */
  private def polyHashStr(str: String): Long = {
    var acc = 0L
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Distinct poly hashes of word n-gram shingles, first-occurrence order.
    * ≡ TextOps.shingleHashes. */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val ws = wordsOf(s)
    val count = math.max(ws.length - n + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long](count * 2)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n && i + j < ws.length) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      seen.add(polyHashStr(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Fixed-size word chunks — ≡ the HOF formulation TextOps.wordChunks
    * (transform over sequence + slice + concat_ws, which Spark interprets
    * per element; this kernel is one codegen call per row). Every text
    * yields at least one chunk (possibly "" for empty input), matching
    * wordsOf's at-least-one-word contract. */
  def wordChunks(s: UTF8String, chunkWords: Int): ArrayData = {
    val ws = wordsOf(s)
    val n = math.max((ws.length + chunkWords - 1) / chunkWords, 1)
    val out = new Array[AnyRef](n)
    var c = 0
    while (c < n) {
      val sb = new java.lang.StringBuilder()
      var j = c * chunkWords
      val end = math.min(j + chunkWords, ws.length)
      var first = true
      while (j < end) {
        if (!first) sb.append(' ')
        sb.append(ws(j))
        first = false
        j += 1
      }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Content-defined word chunks — ≡ the explode + running-sum-window +
    * regroup formulation spanDedupCdc used through round 4 (pinned in
    * FunctionsSpec): a chunk boundary opens BEFORE every word at position
    * > 0 whose polyHash ≡ 0 (mod avgChunkWords), chunks are their words
    * joined by single spaces. One codegen call per row replaces a
    * tokens× row explode plus two exchanges (per-doc window + regroup).
    * Every text yields ≥ 1 chunk ("" for empty input, matching wordsOf's
    * at-least-one-word contract); expected chunk length is avgChunkWords. */
  def cdcChunks(s: UTF8String, avgChunkWords: Int): ArrayData = {
    val ws = wordsOf(s)
    val out = new java.util.ArrayList[AnyRef](ws.length / math.max(avgChunkWords, 1) + 1)
    val sb = new java.lang.StringBuilder()
    var empty = true
    var i = 0
    while (i < ws.length) {
      if (i > 0 && polyHashStr(ws(i)) % avgChunkWords == 0) {
        out.add(UTF8String.fromString(sb.toString))
        sb.setLength(0)
        empty = true
      }
      if (!empty) sb.append(' ')
      sb.append(ws(i))
      empty = false
      i += 1
    }
    out.add(UTF8String.fromString(sb.toString))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Max over distinct word n-grams of (occurrences × char length) — the
    * Gopher top-n-gram repetition signal's numerator, one hash-count pass
    * per row. ≡ TextOps.topNgramScoreRef (HOF, O(distinct·total)); char
    * length counts CODE POINTS, matching Spark's length() and DuckDB's
    * length(). Texts with fewer than n words have NO n-gram, so they score
    * 0 — the whole-text padding other kernels use would mis-score every
    * short doc as 100% repetitive. */
  def topNgramScore(s: UTF8String, n: Int): Long = {
    val ws = wordsOf(s)
    if (ws.length < n) return 0L
    val count = ws.length - n + 1
    val counts = new java.util.HashMap[String, Integer](count * 2)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n && i + j < ws.length) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      counts.merge(sb.toString, 1, (a, b) => a + b)
      i += 1
    }
    var best = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getKey
      val score = e.getValue.toLong * g.codePointCount(0, g.length)
      if (score > best) best = score
    }
    best
  }

  // --- BPE encode (BpeOps) ------------------------------------------------

  // rank table memoized per merge-table STRING (newline-joined "a b"
  // pairs): the parse runs once per distinct table per executor, not per
  // row — addReferenceObj hands every row of a task the same instance
  private val bpeTables =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.HashMap[String, Integer]]()

  private def bpeRank(mergesSpec: String): java.util.HashMap[String, Integer] = {
    // bounded: a long-lived executor cycling through many merge tables
    // (per-slice retraining) must not accumulate them forever — evict ONE
    // arbitrary entry, never the whole map (a clear() would thrash every
    // hot table once the working set crosses the bound)
    if (bpeTables.size > 64 && !bpeTables.containsKey(mergesSpec)) {
      val it = bpeTables.keySet().iterator()
      if (it.hasNext) { it.next(); it.remove() }
    }
    bpeTables.computeIfAbsent(mergesSpec, spec => {
      val m = new java.util.HashMap[String, Integer]()
      if (spec.nonEmpty) {
        val arr = spec.split("\n", -1)
        var i = 0
        while (i < arr.length) { m.put(arr(i), i); i += 1 }
      }
      m
    })
  }

  /** Greedy ranked BPE encode of a text's words (merges as "a b" strings
    * in rank order): at each step the lowest-rank applicable pair merges,
    * leftmost first on rank ties — ≡ BpeOps.encodeWordRef, pinned in
    * FunctionsSpec. Symbols never contain whitespace (words come from the
    * \s+ split), so the space-joined pair key is unambiguous. */
  def bpeEncode(s: UTF8String, mergesSpec: String): ArrayData = {
    val rank = bpeRank(mergesSpec)
    val ws = wordsOf(s)
    val out = new java.util.ArrayList[AnyRef]()
    var wi = 0
    while (wi < ws.length) {
      val word = ws(wi)
      var syms = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        syms += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      var continue = syms.length > 1
      while (continue) {
        var bestRank = Int.MaxValue
        var bestAt = -1
        var j = 0
        while (j < syms.length - 1) {
          val r = rank.get(syms(j) + " " + syms(j + 1))
          if (r != null && r < bestRank) { bestRank = r; bestAt = j }
          j += 1
        }
        if (bestAt < 0) continue = false
        else {
          syms(bestAt) = syms(bestAt) + syms(bestAt + 1)
          syms.remove(bestAt + 1)
          continue = syms.length > 1
        }
      }
      var k = 0
      while (k < syms.length) { out.add(UTF8String.fromString(syms(k))); k += 1 }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  // --- product quantization (SimilarityOps.pq*) ---------------------------
  // Codebook layout: flat(((s * ksub) + c) * dsub + d) = dim d of centroid
  // c in subspace s. All distance arithmetic is double-accumulated in dim
  // order from float/double inputs — the DuckDB oracle folds the same
  // sequence, so codes and ADC distances are bit-reproducible.

  @inline private def elem(v: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** PQ codes (array<int>, length m): per subspace, the L2-argmin centroid,
    * ties to the LOWEST centroid index (strict < keeps the first).
    * Dimension-mismatched vectors yield null (poison row, never a crash). */
  def pqEncode(v: ArrayData, isFloat: Boolean, flat: Array[Float],
               m: Int, ksub: Int, dsub: Int): ArrayData = {
    if (v.numElements() != m * dsub) return null
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = ((s * ksub) + c) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) {
          val diff = elem(v, isFloat, s * dsub + d) - flat(base + d).toDouble
          acc += diff * diff
          d += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** ADC lookup table (array<double>, length m·ksub): squared L2 between
    * each query subvector and each centroid — computed ONCE per query row,
    * scan-side; probes then score a corpus row with m array reads. */
  def pqLut(q: ArrayData, isFloat: Boolean, flat: Array[Float],
            m: Int, ksub: Int, dsub: Int): ArrayData = {
    if (q.numElements() != m * dsub) return null
    val lut = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        val base = ((s * ksub) + c) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) {
          val diff = elem(q, isFloat, s * dsub + d) - flat(base + d).toDouble
          acc += diff * diff
          d += 1
        }
        lut(s * ksub + c) = acc
        c += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(lut)
  }

  /** Asymmetric-distance score: Σ_s lut(s·ksub + codes(s)) — m lookups per
    * corpus row, the PQ probe inner loop. */
  def pqAdc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += lut.getDouble(s * ksub + codes.getInt(s))
      s += 1
    }
    acc
  }

  /** Affine hash family — must match DedupOps.affine. */
  @inline private def affineA(i: Int): Long = 2654435761L % P + 2L * i + 1L
  @inline private def affineB(i: Int): Long = 1013904223L + 7919L * i

  /** k-minhash signature computed in one fused pass over the shingles.
    * ≡ DedupOps.minhashSignature. */
  def minhashSig(s: UTF8String, n: Int, k: Int): ArrayData = {
    val sh = shingleHashes(s, n)
    val mins = Array.fill(k)(Long.MaxValue)
    val m = sh.numElements()
    var i = 0
    while (i < m) {
      val h = sh.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h * affineA(j) + affineB(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** 64-bit simhash over xxhash64(word, seed=42) bit votes.
    * ≡ DedupOps.simhash (sign of per-bit vote sums). */
  def simhash64(s: UTF8String): Long = {
    val ws = wordsOf(s)
    val votes = new Array[Int](64)
    var i = 0
    while (i < ws.length) {
      val h = XxHash64Function.hash(UTF8String.fromString(ws(i)), StringType, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Portable-arithmetic simhash over affine-mixed poly-hashed words —
    * every step is integer arithmetic DuckDB reproduces exactly (unlike
    * the xxhash64 variant). Bit j of the result is the sign of
    * Σ_words (bit j of ((polyHash(w)*a+b) mod P) ? +1 : -1), bits
    * limited to [0, 30) since values are < P < 2^30. */
  def simhashPoly(s: UTF8String, bits: Int): Long = {
    val ws = wordsOf(s)
    val votes = new Array[Int](bits)
    var i = 0
    while (i < ws.length) {
      val h = (polyHashStr(ws(i)) * 654435748L + 1013904223L) % P
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Numeric suffix of a `doc-%012d` id, parsed directly from the UTF8
    * bytes (no substring allocation, no string-to-long cast) — ≡
    * substring(doc_id, 5, 12).cast(long) for well-formed ids. The parse
    * stage's field derivations reference this a dozen+ times per row after
    * predicate pushdown inlines them into the filter condition (short-
    * circuit evaluation forbids subexpression hoisting there), so each
    * occurrence must be nanoseconds: measured 3.5x end-to-end pipeline
    * speedup over the substring formulation. EXACTLY the substring-cast
    * semantics: the id region is bytes 4..15 (capped by the string's
    * length); if every byte there is a digit the number parses (the prefix
    * is not inspected — 'usr-0042' is id 42, as substring would give); any
    * non-digit inside the region, or an empty region, returns -1, which
    * AuditFieldExpr/AuditTsExpr turn into NULL (malformed rows are routed
    * to quarantine, never silently assigned buckets — a
    * stop-at-first-non-digit parse would have binned 'doc-7garbage123' as
    * id 7). */
  def docIdNum(s: UTF8String): Long = {
    val n = math.min(s.numBytes(), 16)
    var i = 4
    var acc = 0L
    var any = false
    while (i < n) {
      val b = s.getByte(i)
      if (b < '0' || b > '9') return -1L // non-digit inside the id region
      acc = acc * 10 + (b - '0'); any = true; i += 1
    }
    if (any) acc else -1L
  }

  // ---- audit-field kernels -------------------------------------------
  // The parse stage's derivations (Parse.deriveFields) are referenced a
  // dozen+ times inside the pushed-down filter condition; expressed as
  // Column arithmetic the generated filter method exceeds HotSpot's
  // 8K-bytecode JIT limit (DontCompileHugeMethods) and runs INTERPRETED —
  // measured 22s for a 4M-row filter that takes ~1s when each derivation
  // is one static call. Semantics are the portable affine family
  // mix_s(i) = ((i mod P)*A_s + B_s) mod P, bit-identical to Parse.mix
  // (pinned in FunctionsSpec) and to the DuckDB oracles.

  @inline private def affMix(id: Long, s: Int): Long = {
    val a = 2654435761L % P + 2L * s + 1L
    val b = 1013904223L + 7919L * s
    ((id % P) * a + b) % P
  }

  // Kernels take the PRE-PARSED doc index: the codegen'd AuditFieldExpr
  // parses the id once, null-gates on -1 (malformed ids surface as NULL →
  // quarantined, never silently binned — see docIdNum), then makes one
  // static call. There are deliberately no UTF8String overloads: a caller
  // that skipped the null gate would silently bin malformed ids.

  /** Content-type bucket 0..4 (50/20/15/10/5% skew) of a doc index. */
  def auditCtN(id: Long): Int = {
    val h = affMix(id, 1) % 100
    if (h < 50) 0 else if (h < 70) 1 else if (h < 85) 2 else if (h < 95) 3 else 4
  }

  /** Workload index 0..5. */
  def auditWlN(id: Long): Int = (affMix(id, 2) % 6).toInt

  /** Operation index 0..11. */
  def auditOpN(id: Long): Int = (affMix(id, 3) % 12).toInt

  /** Record type 0..63. */
  def auditRtN(id: Long): Int = (affMix(id, 4) % 64).toInt

  /** CreationTime epoch seconds (BaseEpoch + mix_5 mod span). */
  def auditTsN(id: Long, baseEpoch: Long, spanSeconds: Long): Long =
    baseEpoch + affMix(id, 5) % spanSeconds

  /** Policy: 0 = absent, 1 = Spoof, 2 = Phish (present only on bucket 0,
    * ~90% of its rows — mix_6 gate, mix_7 value). */
  def auditPolicyN(id: Long): Int = {
    if (affMix(id, 1) % 100 >= 50) 0 // not Audit.General
    else if (affMix(id, 6) % 10 == 0) 0 // absent
    else if (affMix(id, 7) % 4 == 0) 1
    else 2
  }

  /** Packed intersection/union counts of two DISTINCT long arrays:
    * (|a ∩ b| << 32) | |a ∪ b|. One hash-set build over the smaller array +
    * one probe pass over the larger — replaces the
    * size(array_intersect) + size(array_union) pair (two set builds, two
    * probes, two materialized arrays) in the Jaccard verify hot loop.
    * Inputs MUST be duplicate-free (shingle_hashes guarantees this);
    * FunctionsSpec pins equality to the array_intersect/array_union
    * formulation on such inputs. */
  def jaccardCounts(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    val (small, big, ns, nbig) = if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
    val set = new java.util.HashSet[java.lang.Long](ns * 2)
    var i = 0
    while (i < ns) { set.add(small.getLong(i)); i += 1 }
    var inter = 0
    var j = 0
    while (j < nbig) { if (set.contains(big.getLong(j))) inter += 1; j += 1 }
    (inter.toLong << 32) | (na.toLong + nb - inter)
  }

  /** Symmetric int8 quantization of a float/double vector:
    * q_i = floor(x_i * 127 / max|x|), all-zero vectors → zeros. Double
    * arithmetic with mult-before-div, so DuckDB's
    * floor(x::DOUBLE * 127 / m) reproduces it bit-for-bit (IEEE 754). */
  def quantizeI8(v: ArrayData, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    @inline def at(i: Int): Double =
      if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
    var maxAbs = 0.0
    var i = 0
    while (i < n) { val a = math.abs(at(i)); if (a > maxAbs) maxAbs = a; i += 1 }
    val out = new Array[Int](n)
    if (maxAbs > 0) {
      i = 0
      while (i < n) { out(i) = math.floor(at(i) * 127.0 / maxAbs).toInt; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Left-fold dot product in double — identical fold order (i = 0..n-1)
    * to aggregate(zip_with(...)), so results are bit-equal. Arrays are
    * float32 (`isFloat=true`) or float64 elements. */
  def dotF(a: ArrayData, b: ArrayData, isFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    }
    acc
  }

  /** Cosine similarity via three left-fold reductions (dot, |a|², |b|²). */
  def cosineF(a: ArrayData, b: ArrayData, isFloat: Boolean): Double =
    dotF(a, b, isFloat) / (math.sqrt(dotF(a, a, isFloat)) * math.sqrt(dotF(b, b, isFloat)))

  /**
   * Top-`n` centroid ids for a vector, by cosine descending with ties
   * broken by smaller cid — the IVF coarse-quantizer assignment as ONE
   * narrow per-row call over driver-collected centroids (row-major
   * `centsFlat`, `dim` floats per centroid). The broadcast-join + window
   * formulation materializes n_vectors × n_centroids rows and shuffles
   * them through a per-id window — at corpus scale that intermediate
   * dwarfs the data itself; this kernel is O(k·d) per row with zero
   * exchange. Cosine accumulation order matches [[cosineF]] exactly, so
   * rankings are bit-identical to the join formulation (pinned in
   * FunctionsSpec). Zero-norm inputs/centroids have undefined cosine
   * (NaN): they are skipped rather than ranked by NaN-sort quirks, so a
   * degenerate vector gets fewer (possibly zero) assignments.
   */
  def nearestCentroids(v: ArrayData, isFloat: Boolean, centsFlat: Array[Float],
                       dim: Int, cids: Array[Long], n: Int): ArrayData = {
    val k = cids.length
    val len = v.numElements()
    // |v|² once, same fold as dotF(v, v)
    var nv = 0.0
    var i = 0
    if (isFloat) while (i < len) { val x = v.getFloat(i).toDouble; nv += x * x; i += 1 }
    else while (i < len) { val x = v.getDouble(i); nv += x * x; i += 1 }
    val vNorm = math.sqrt(nv)
    val simTop = Array.fill(n)(Double.NegativeInfinity)
    val cidTop = Array.fill(n)(Long.MaxValue)
    var filled = 0
    var c = 0
    while (c < k) {
      val base = c * dim
      val m = math.min(len, dim)
      var dot = 0.0
      var nc = 0.0
      i = 0
      if (isFloat)
        while (i < m) { dot += v.getFloat(i).toDouble * centsFlat(base + i).toDouble; i += 1 }
      else
        while (i < m) { dot += v.getDouble(i) * centsFlat(base + i).toDouble; i += 1 }
      i = 0
      while (i < dim) { val x = centsFlat(base + i).toDouble; nc += x * x; i += 1 }
      val sim = dot / (vNorm * math.sqrt(nc))
      val cid = cids(c)
      // insertion into the running top-n (n is small; NaN fails every
      // comparison and is naturally skipped)
      var j = math.min(filled, n - 1)
      if (sim > simTop(j) || (sim == simTop(j) && cid < cidTop(j))) {
        if (filled < n) filled += 1
        while (j > 0 && (sim > simTop(j - 1) ||
               (sim == simTop(j - 1) && cid < cidTop(j - 1)))) {
          simTop(j) = simTop(j - 1); cidTop(j) = cidTop(j - 1); j -= 1
        }
        simTop(j) = sim; cidTop(j) = cid
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(cidTop, filled))
  }

  /** Fused token-array generation for the synthetic sequences table —
    * bit-identical to the HOF formulation in DataGen
    * (`transform(sequence(...), j -> pmod(xxhash64(id, j), V))`, which
    * chains xxhash64 as hashInt(j, hashLong(id, 42))). One hashLong per
    * row + one hashInt per token instead of interpreted lambdas. */
  def genTokens(id: Long, vocab: Int): ArrayData = {
    val hId = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
    val len = (16L + java.lang.Math.floorMod(hId, 241L)).toInt
    val out = new Array[Int](len)
    var j = 0
    while (j < len) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(j, hId)
      out(j) = java.lang.Math.floorMod(h, vocab.toLong).toInt
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Compact JSON encoding of an int array — identical bytes to
    * to_json(array<int>) ("[1,2,3]", no whitespace). */
  def intArrayJson(a: ArrayData): UTF8String = {
    val n = a.numElements()
    val sb = new java.lang.StringBuilder(n * 6 + 2)
    sb.append('[')
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      sb.append(a.getInt(i))
      i += 1
    }
    sb.append(']')
    UTF8String.fromString(sb.toString)
  }

  /** JSON-escape a string value into the builder (RFC 8259: quote,
    * backslash, and control chars; matches Jackson's default escaping used
    * by to_json). */
  private def appendJsonString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /**
   * Compact JSON object from an InternalRow — byte-identical to
   * to_json(struct(...)) for the supported field types (string, int, long,
   * boolean, double, array<int>); null fields are OMITTED, matching
   * Jackson/to_json default. Field names and order come from `names`
   * (comma-separated) and `kinds` (one char per field: s/i/l/b/d/A).
   */
  def rowJson(row: org.apache.spark.sql.catalyst.InternalRow,
              names: String, kinds: String): UTF8String = {
    val ns = names.split(',')
    val sb = new java.lang.StringBuilder(ns.length * 24)
    sb.append('{')
    var first = true
    var i = 0
    while (i < ns.length) {
      if (!row.isNullAt(i)) {
        if (!first) sb.append(',')
        first = false
        appendJsonString(sb, ns(i))
        sb.append(':')
        kinds.charAt(i) match {
          case 's' => appendJsonString(sb, row.getUTF8String(i).toString)
          case 'i' => sb.append(row.getInt(i))
          case 'l' => sb.append(row.getLong(i))
          case 'b' => sb.append(row.getBoolean(i))
          case 'd' =>
            val d = row.getDouble(i)
            // Jackson (to_json) quotes non-numeric numbers — a bare NaN
            // would also be invalid RFC 8259 JSON
            if (java.lang.Double.isNaN(d)) sb.append("\"NaN\"")
            else if (d == Double.PositiveInfinity) sb.append("\"Infinity\"")
            else if (d == Double.NegativeInfinity) sb.append("\"-Infinity\"")
            else sb.append(d)
          case 'A' =>
            val a = row.getArray(i)
            val n = a.numElements()
            sb.append('[')
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(',')
              sb.append(a.getInt(j))
              j += 1
            }
            sb.append(']')
        }
      }
      i += 1
    }
    sb.append('}')
    UTF8String.fromString(sb.toString)
  }

  /** Hyperplane sign signature, fused over all `bits` planes in one pass.
    * Plane component ≡ SimilarityOps.planeComponent: a deterministic integer
    * mix of (plane index, dimension) mapped to [-1, 1). Fold order per plane
    * is d = 0..n-1, matching the HOF aggregate(zip_with(...)). */
  def lshSignature(v: ArrayData, isFloat: Boolean, bits: Int, offset: Int): Long = {
    val n = v.numElements()
    // empty vector → signature 0 by definition (no signal, no bucket
    // preference): zero-dot projections would otherwise satisfy >= 0 and
    // set EVERY bit, diverging from the HOF reference formulation
    if (n == 0) return 0L
    val proj = new Array[Double](bits)
    var i = 0
    while (i < bits) {
      val p = offset + i
      val mulA = 2654435761L + 40503L * p
      val addB = 97531L * p + 12345L
      var acc = 0.0
      var d = 0
      while (d < n) {
        val mixed = (d * mulA + addB) % 1000003L
        val plane = mixed.toDouble / 500001.5 - 1.0
        val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
        acc += x * plane
        d += 1
      }
      proj(i) = acc
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (proj(j) >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}
