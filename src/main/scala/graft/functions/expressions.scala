package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/**
 * Custom Catalyst expressions for the hot loops that Spark's higher-order
 * functions (`transform`/`aggregate`/`zip_with`) evaluate interpretively.
 * Each generates a single static call into [[Hashing]] — whole-stage
 * codegen keeps the surrounding operators fused and the inner loop is
 * plain JVM code (measured ~20-100x over the HOF formulation; see
 * BASELINE.md). Semantics are identical to the HOF versions, pinned by
 * FunctionsSpec equality tests.
 */
/** Numeric suffix of a `doc-%012d` id — see Hashing.docIdNum. */
case class DocIdNumExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Hashing.docIdNum(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.docIdNum($c)")
  override protected def withNewChildInternal(c: Expression): DocIdNumExpr = copy(c)
}

/** One audit-field derivation as a single static call — kind ∈
  * {Ct, Wl, Op, Rt, Policy} (see Hashing audit kernels; keeping each
  * filter-inlined occurrence to one call keeps the generated filter method
  * under HotSpot's JIT bytecode limit). Malformed ids (docIdNum = -1)
  * yield NULL, so broken input is quarantined by routing filters rather
  * than deterministically binned. */
case class AuditFieldExpr(child: Expression, kind: String)
    extends UnaryExpression {
  require(AuditFieldExpr.Kinds.contains(kind), s"unknown audit field: $kind")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val id = Hashing.docIdNum(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    if (id < 0L) null
    else kind match {
      case "Ct" => Hashing.auditCtN(id)
      case "Wl" => Hashing.auditWlN(id)
      case "Op" => Hashing.auditOpN(id)
      case "Rt" => Hashing.auditRtN(id)
      case "Policy" => Hashing.auditPolicyN(id)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val idv = ctx.freshName("docIdNum")
      s"""
        long $idv = graft.functions.Hashing.docIdNum($c);
        if ($idv < 0L) { ${ev.isNull} = true; }
        else { ${ev.value} = graft.functions.Hashing.audit${kind}N($idv); }
      """
    })
  override protected def withNewChildInternal(c: Expression): AuditFieldExpr =
    copy(child = c)
}

object AuditFieldExpr {
  val Kinds = Set("Ct", "Wl", "Op", "Rt", "Policy")
}

/** CreationTime epoch seconds of a doc-%012d id; NULL for malformed ids
  * (same quarantine semantics as AuditFieldExpr). */
case class AuditTsExpr(child: Expression, baseEpoch: Long, spanSeconds: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val id = Hashing.docIdNum(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    if (id < 0L) null else Hashing.auditTsN(id, baseEpoch, spanSeconds)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val idv = ctx.freshName("docIdNum")
      s"""
        long $idv = graft.functions.Hashing.docIdNum($c);
        if ($idv < 0L) { ${ev.isNull} = true; }
        else { ${ev.value} = graft.functions.Hashing.auditTsN($idv, ${baseEpoch}L, ${spanSeconds}L); }
      """
    })
  override protected def withNewChildInternal(c: Expression): AuditTsExpr =
    copy(child = c)
}

case class ShingleHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Hashing.shingleHashes(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr =
    copy(child = c)
}

case class MinHashSigExpr(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Hashing.minhashSig(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.minhashSig($c, $n, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

case class SimHash64Expr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Hashing.simhash64(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(c)
}

/** Cosine similarity of two array<float> or two array<double> columns. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  private def isFloatArray: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects two array<float> or two array<double>, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    Hashing.cosineF(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloatArray)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Hashing.cosineF($a, $b, $isFloatArray)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Packed (|a∩b| << 32 | |a∪b|) over two DISTINCT array<long> columns —
  * the fused Jaccard-verify kernel (see Hashing.jaccardCounts). */
case class JaccardCountsExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects two array<long>, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    Hashing.jaccardCounts(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Hashing.jaccardCounts($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class SimHashPolyExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Hashing.simhashPoly(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.simhashPoly($c, $bits)")
  override protected def withNewChildInternal(c: Expression): SimHashPolyExpr =
    copy(child = c)
}

case class LshSignatureExpr(child: Expression, bits: Int, offset: Int)
    extends UnaryExpression with VectorInputCheck {
  override def dataType: DataType = LongType
  protected def vectorChild: Expression = child
  override def nullSafeEval(v: Any): Any =
    Hashing.lshSignature(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloatArray, bits, offset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Hashing.lshSignature($c, $isFloatArray, $bits, $offset)")
  override protected def withNewChildInternal(c: Expression): LshSignatureExpr =
    copy(child = c)
}

/** Symmetric int8 quantization q_i = floor(x_i·127/max|x|) — see
  * Hashing.quantizeI8. */
case class QuantizeI8Expr(child: Expression)
    extends UnaryExpression with VectorInputCheck {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  protected def vectorChild: Expression = child
  override def nullSafeEval(v: Any): Any =
    Hashing.quantizeI8(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloatArray)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Hashing.quantizeI8($c, $isFloatArray)")
  override protected def withNewChildInternal(c: Expression): QuantizeI8Expr =
    copy(child = c)
}

/** Per-row IVF coarse-quantizer assignment: top-`n` centroid ids by cosine
  * (desc, ties by smaller cid) over driver-collected centroids — replaces
  * the broadcast-join + per-id window formulation, which materializes
  * rows × centroids and shuffles it (see Hashing.nearestCentroids).
  * Centroids ride the codegen references, not the plan tree. */
case class NearestCentroidsExpr(child: Expression, centsFlat: Array[Float],
                                dim: Int, cids: Array[Long], n: Int)
    extends UnaryExpression with VectorInputCheck {
  require(dim > 0 && n > 0 && centsFlat.length == cids.length * dim)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def vectorChild: Expression = child
  override def nullSafeEval(v: Any): Any =
    Hashing.nearestCentroids(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloatArray, centsFlat, dim, cids, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centsFlat", centsFlat, "float[]")
    val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Hashing.nearestCentroids($c, $isFloatArray, $centsRef, $dim, $cidsRef, $n)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroidsExpr =
    copy(child = c)
}

/** Greedy ranked BPE encode (array<string> subword tokens), codegen'd —
  * merge table embedded like the IVF centroid matrix; pinned ≡
  * BpeOps.encodeWordRef in FunctionsSpec.
  *
  * The table rides as ONE newline-joined String ("a b\nc d\n...") — pair
  * symbols never contain whitespace (they come from the \s+ word split),
  * so the encoding is unambiguous; the kernel memoizes the parse per
  * table, so it costs once per executor, not per row. */
case class BpeEncodeExpr(child: Expression, mergesSpec: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Hashing.bpeEncode(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      mergesSpec)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", mergesSpec, "java.lang.String")
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.bpeEncode($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): BpeEncodeExpr =
    copy(child = c)
}

/** Shared float/double array-input type check for the vector expressions. */
trait VectorInputCheck { self: Expression =>
  protected def vectorChild: Expression
  protected def isFloatArray: Boolean = vectorChild.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = vectorChild.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects array<float> or array<double>, got ${other.simpleString}")
  }
}

/** PQ encode: vector → m L2-argmin centroid codes (array<int>). Codebook
  * rides the generated code like nearest_centroids' matrix. */
case class PqEncodeExpr(child: Expression, flat: Array[Float],
                        m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression with VectorInputCheck {
  require(m > 0 && ksub > 0 && dsub > 0 && flat.length == m * ksub * dsub)
  protected def vectorChild: Expression = child
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // dimension-mismatched NON-NULL input yields null (poison row): the
  // output is nullable regardless of the child's nullability — inheriting
  // it would let the optimizer drop the isNotNull poison filters downstream
  // AND breaks nullSafeCodeGen (assignment to a literal-false isNull)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Hashing.pqEncode(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloatArray, flat, m, ksub, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqFlat", flat, "float[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = graft.functions.Hashing.pqEncode($c, $isFloatArray, $ref, $m, $ksub, $dsub);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
    copy(child = c)
}

/** ADC lookup table for one query vector (array<double>, m·ksub). */
case class PqLutExpr(child: Expression, flat: Array[Float],
                     m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression with VectorInputCheck {
  require(m > 0 && ksub > 0 && dsub > 0 && flat.length == m * ksub * dsub)
  protected def vectorChild: Expression = child
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // nullable for the same poison-row reason as PqEncodeExpr
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Hashing.pqLut(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloatArray, flat, m, ksub, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqFlat", flat, "float[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = graft.functions.Hashing.pqLut($c, $isFloatArray, $ref, $m, $ksub, $dsub);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): PqLutExpr =
    copy(child = c)
}

/** ADC score: Σ lut[s·ksub + codes[s]] — the PQ probe inner loop as one
  * codegen call over two row columns. */
case class PqAdcExpr(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  require(ksub > 0)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(codes: Any, lut: Any): Any =
    Hashing.pqAdc(codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lut.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Hashing.pqAdc($a, $b, $ksub)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcExpr =
    copy(left = l, right = r)
}

/** Fixed-size word chunks of a text (array<string>), codegen'd — the scan
  * kernel behind DedupOps.spanDedup; pinned ≡ TextOps.wordChunks (the
  * interpreted HOF formulation) in FunctionsSpec. */
case class WordChunksExpr(child: Expression, chunkWords: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Hashing.wordChunks(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      chunkWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.wordChunks($c, $chunkWords)")
  override protected def withNewChildInternal(c: Expression): WordChunksExpr =
    copy(child = c)
}

/** Content-defined chunks of a text (array<string>), codegen'd — the scan
  * kernel behind DedupOps.spanDedupCdc; pinned ≡ the explode + window +
  * regroup reference formulation in FunctionsSpec. */
case class CdcChunksExpr(child: Expression, avgChunkWords: Int)
    extends UnaryExpression {
  // fail at construction, not as an executor-side ArithmeticException in
  // the kernel's `% avgChunkWords`
  require(avgChunkWords > 0, s"cdc_chunks needs avgChunkWords > 0, got $avgChunkWords")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Hashing.cdcChunks(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      avgChunkWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.cdcChunks($c, $avgChunkWords)")
  override protected def withNewChildInternal(c: Expression): CdcChunksExpr =
    copy(child = c)
}

/** Gopher top-n-gram repetition numerator (long), codegen'd — one
  * hash-count pass per row; pinned ≡ TextOps.topNgramScoreRef in
  * FunctionsSpec. */
case class TopNgramScoreExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"top_ngram_score needs n > 0, got $n")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Hashing.topNgramScore(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.topNgramScore($c, $n)")
  override protected def withNewChildInternal(c: Expression): TopNgramScoreExpr =
    copy(child = c)
}

case class GenTokensExpr(child: Expression, vocab: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Hashing.genTokens(v.asInstanceOf[Long], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.genTokens($c, $vocab)")
  override protected def withNewChildInternal(c: Expression): GenTokensExpr =
    copy(child = c)
}

case class IntArrayJsonExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    Hashing.intArrayJson(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.intArrayJson($c)")
  override protected def withNewChildInternal(c: Expression): IntArrayJsonExpr =
    copy(child = c)
}

/**
 * Codegen'd full-row JSON serialization, ≡ to_json(struct(fields))
 * byte-for-byte on the supported field types (string, int, long, boolean,
 * double, array<int>; null fields omitted). Falls back is the caller's job:
 * use `GraftFunctions.row_json` only when `supports(schema)`.
 */
case class RowJsonExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case st: StructType if RowJsonExpr.supports(st) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"row_json: unsupported schema ${other.simpleString} (use to_json)")
  }
  private lazy val fields = child.dataType.asInstanceOf[StructType].fields
  private lazy val names = fields.map(_.name).mkString(",")
  private lazy val kinds = fields.map(f => RowJsonExpr.kindOf(f.dataType)).mkString
  override def nullSafeEval(v: Any): Any =
    Hashing.rowJson(v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
      names, kinds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val namesRef = ctx.addReferenceObj("names", names, "java.lang.String")
    val kindsRef = ctx.addReferenceObj("kinds", kinds, "java.lang.String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Hashing.rowJson($c, $namesRef, $kindsRef)")
  }
  override protected def withNewChildInternal(c: Expression): RowJsonExpr =
    copy(child = c)
}

object RowJsonExpr {
  private def kindOf(dt: DataType): Char = dt match {
    case StringType => 's'
    case IntegerType => 'i'
    case LongType => 'l'
    case BooleanType => 'b'
    case DoubleType => 'd'
    case ArrayType(IntegerType, _) => 'A'
    case other => throw new IllegalArgumentException(s"unsupported: $other")
  }
  // a ',' in a field name would desynchronize the comma-joined names string
  // from the kinds/ordinals at eval time — such schemas take the to_json
  // fallback instead
  def supports(schema: StructType): Boolean =
    schema.fields.forall(f =>
      !f.name.contains(',') && scala.util.Try(kindOf(f.dataType)).isSuccess)
}

/** Column-API surface for the custom expressions. */
object GraftFunctions {
  private def c(e: Expression): Column = ColumnGlue.column(e)
  def doc_id_num(s: Column): Column = c(DocIdNumExpr(ColumnGlue.expression(s)))
  def audit_field(s: Column, kind: String): Column =
    c(AuditFieldExpr(ColumnGlue.expression(s), kind))
  def audit_ts(s: Column, baseEpoch: Long, spanSeconds: Long): Column =
    c(AuditTsExpr(ColumnGlue.expression(s), baseEpoch, spanSeconds))
  def shingle_hashes(s: Column, n: Int): Column = c(ShingleHashesExpr(ColumnGlue.expression(s), n))
  def word_chunks(s: Column, chunkWords: Int): Column = c(WordChunksExpr(ColumnGlue.expression(s), chunkWords))
  def cdc_chunks(s: Column, avgChunkWords: Int): Column = c(CdcChunksExpr(ColumnGlue.expression(s), avgChunkWords))
  def top_ngram_score(s: Column, n: Int): Column = c(TopNgramScoreExpr(ColumnGlue.expression(s), n))
  def minhash_sig(s: Column, n: Int, k: Int): Column = c(MinHashSigExpr(ColumnGlue.expression(s), n, k))
  def simhash64(s: Column): Column = c(SimHash64Expr(ColumnGlue.expression(s)))
  def simhash_poly(s: Column, bits: Int): Column =
    c(SimHashPolyExpr(ColumnGlue.expression(s), bits))
  def row_json(structCol: Column): Column =
    c(RowJsonExpr(ColumnGlue.expression(structCol)))
  def gen_tokens(id: Column, vocab: Int): Column =
    c(GenTokensExpr(ColumnGlue.expression(id), vocab))
  def int_array_json(a: Column): Column =
    c(IntArrayJsonExpr(ColumnGlue.expression(a)))
  def lsh_signature(v: Column, bits: Int, offset: Int = 0): Column =
    c(LshSignatureExpr(ColumnGlue.expression(v), bits, offset))
  def quantize_i8(v: Column): Column = c(QuantizeI8Expr(ColumnGlue.expression(v)))
  /** `cents` = (cid, centroid vector) pairs, driver-side (broadcast-sized
    * by the IVF contract). */
  def nearest_centroids(v: Column, cents: Seq[(Long, Array[Float])], n: Int): Column = {
    require(cents.nonEmpty)
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim), "centroid dims must agree")
    val flat = new Array[Float](cents.size * dim)
    cents.zipWithIndex.foreach { case ((_, cv), i) =>
      System.arraycopy(cv, 0, flat, i * dim, dim)
    }
    c(NearestCentroidsExpr(ColumnGlue.expression(v), flat, dim,
      cents.map(_._1).toArray, n))
  }
  def bpe_encode(s: Column, merges: Array[String]): Column =
    c(BpeEncodeExpr(ColumnGlue.expression(s), merges.mkString("\n")))
  def pq_encode(v: Column, flat: Array[Float], m: Int, ksub: Int, dsub: Int): Column =
    c(PqEncodeExpr(ColumnGlue.expression(v), flat, m, ksub, dsub))
  def pq_lut(v: Column, flat: Array[Float], m: Int, ksub: Int, dsub: Int): Column =
    c(PqLutExpr(ColumnGlue.expression(v), flat, m, ksub, dsub))
  def pq_adc(codes: Column, lut: Column, ksub: Int): Column =
    c(PqAdcExpr(ColumnGlue.expression(codes), ColumnGlue.expression(lut), ksub))
  def jaccard_counts(a: Column, b: Column): Column =
    c(JaccardCountsExpr(ColumnGlue.expression(a), ColumnGlue.expression(b)))
  def cosine_sim(a: Column, b: Column): Column = c(CosineSimExpr(ColumnGlue.expression(a), ColumnGlue.expression(b)))
}
