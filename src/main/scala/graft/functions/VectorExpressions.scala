package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the vector hot path.
  *
  * The DataFrame higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is evaluated
  * interpreted — one virtual call per element per lambda — which
  * dominates wall-clock in O(n²) similarity joins. This expression
  * generates a tight Java loop via doGenCode (participating in
  * whole-stage codegen), with an interpreted eval fallback of the SAME
  * operation order: products summed left-to-right in double precision,
  * so results stay bit-identical to the HOF form and to the DuckDB
  * oracle's mirrored list_reduce.
  *
  * Accepts array<float> and array<double> inputs (elements are
  * widened to double before multiply, matching `x.cast("double")` in
  * the HOF form).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // nullable even over non-null inputs: length-mismatched vectors
  // yield NULL (matching aggregate(zip_with(...))'s null-padding
  // semantics) instead of a silently truncated partial sum
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double>, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xi * yi
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // ev.isNull is a mutable local here because nullable == true
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $x.$lGet($i)) * ((double) $y.$rGet($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer sibling of [[DotProduct]] for the int8-quantized domain:
  * array<bigint> inputs, LONG accumulator, LongType output — the
  * products and sums are exact (no double round-trip), so integer
  * k-means distances computed as |a|² − 2·a·b + |b|² are bit-identical
  * to the interpreted `aggregate(zip_with((a−b)²))` form they replace
  * (same algebra, exact arithmetic; callers guarantee the int8 domain
  * where no overflow is possible). Length mismatch yields NULL, like
  * [[DotProduct]]. */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_long expects array<bigint>, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $x.getLong($i) * $y.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native product-quantization encoder: maps an int8-quantized vector
  * (array<bigint>, length subspaces·dsub) to its PQ code array —
  * per subspace, the argmin-by-exact-integer-L2 codebook entry, ties
  * to the smallest code. The codebook rides the expression as a
  * REFERENCE OBJECT (long[subspaces·ksub][dsub], row m·ksub+c), so
  * the whole encode is ONE codegen'd loop nest per row.
  *
  * This exists because the compositional form — 16 `least(struct(
  * dot_long(slice(q8,…)), …))` candidates per subspace — invites
  * CollapseProject to inline the quantize-HOF into every candidate:
  * 128 re-evaluations of a 3-pass lambda per row (measured ~8 s at
  * sf0.1 on x172 vs sub-second here). Same arithmetic, evaluated
  * once. NULL for a NULL input or a length mismatch. */
case class PqEncode(child: Expression, codebook: Array[Array[Long]],
                    ksub: Int) extends UnaryExpression {

  require(ksub >= 1 && codebook.nonEmpty && codebook.length % ksub == 0,
    "codebook must hold subspaces*ksub rows")
  private val subspaces = codebook.length / ksub
  private val dsub = codebook(0).length

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pq_encode expects array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val codes = PqEncode.encode(q, codebook, subspaces, ksub, dsub)
    if (codes == null) null
    else org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", codebook, "long[][]")
    nullSafeCodeGen(ctx, ev, q => {
      val codes = ctx.freshName("codes")
      s"""
         |int[] $codes = graft.functions.PqEncode.encode(
         |  $q, $cb, $subspaces, $ksub, $dsub);
         |if ($codes == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($codes);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object PqEncode {
  /** The shared eval/codegen kernel: exact-integer argmin per
    * subspace; null on length mismatch. */
  def encode(q: ArrayData, cb: Array[Array[Long]], subspaces: Int,
             ksub: Int, dsub: Int): Array[Int] = {
    if (q.numElements() != subspaces * dsub) return null
    val codes = new Array[Int](subspaces)
    var m = 0
    while (m < subspaces) {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < ksub) {
        val cv = cb(m * ksub + c)
        var d2 = 0L
        var d = 0
        while (d < dsub) {
          val diff = q.getLong(m * dsub + d) - cv(d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      codes(m) = best
      m += 1
    }
    codes
  }
}

object VectorExpressions {

  /** Codegen'd O(n) sliding-window minimum over array<bigint>
    * ([[SlidingMin]]); `w` must be a literal. */
  def sliding_min(a: Column, w: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_sliding_min", a,
      org.apache.spark.sql.functions.lit(w))

  /** Codegen'd dot product over array<float|double> columns (requires
    * a session with [[graft.GraftExtensions]]). */
  def dot_product(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)

  /** Codegen'd exact-integer dot product over array<bigint> columns
    * ([[DotProductLong]] — the int8-domain hot path). */
  def dot_long(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot_long", a, b)

  /** Codegen'd one-pass PQ encode ([[PqEncode]]); the codebook is
    * flattened row-major (m·ksub + c) and becomes a reference object
    * in the generated code. */
  def pq_encode(q8: Column, cbFlat: Seq[Seq[Long]], ksub: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_pq_encode", q8,
      org.apache.spark.sql.functions.typedLit(cbFlat),
      org.apache.spark.sql.functions.lit(ksub))

  /** Codegen'd O(n log n) merge-sort inversion count over
    * array<bigint> ([[InversionCount]]; nulls skipped). */
  def inversions(a: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_inversions", a)
}
