package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native sign-bit plane banding for cosine LSH
  * ([[graft.ext.Planes.bandBuckets]] / [[graft.ext.Planes.sketch]]):
  * per band b, bucket = Σ_j (1 << j)·[dot(vec, plane(b·bits+j)) > 0].
  *
  * The compositional form this replaces — `bands·bits` separate
  * [[DotProduct]] calls, each carrying its own `dim`-double literal
  * plane AND its own copy of the length-validation CASE WHEN — builds
  * a ~bands·bits·dim-literal expression tree per projection (the x15
  * dump measured ~4 KB of inlined plane literals each): every
  * optimizer rule walks it, codegen compiles it, and the validation
  * CASE re-evaluates per plane. Here the plane matrix rides the
  * expression as a REFERENCE OBJECT (like [[PqEncode]]'s codebook), so
  * the plan carries ONE node and the per-row work is one tight loop
  * nest.
  *
  * Bit-identical by construction: the same left-to-right double fold
  * per plane as [[DotProduct]] (same float→double widening), the same
  * NaN-aware `> 0` decision as Catalyst's GreaterThan
  * (SQLOrderingUtil.compareDoubles), and the same ascending-j exact
  * long bit sum. Same failure semantics as the `when(size(vec) = dim,
  * vec).otherwise(raise_error(...))` guard it replaces: a NULL vector
  * or a length mismatch throws at execution time with the same
  * message text (banding a wrong-length vector to bucket 0 would
  * silently collapse every LSH bucket into one — the quadratic blowup
  * the guard exists to catch). */
case class PlaneBands(child: Expression, planes: Array[Array[Double]],
                      bands: Int, bitsPerBand: Int, errWhere: String)
    extends UnaryExpression {

  require(bands >= 1 && bitsPerBand >= 1 &&
    planes.length == bands * bitsPerBand,
    s"need ${bands * bitsPerBand} planes, got ${planes.length}")

  private val dim = planes(0).length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // never null-producing: a null input RAISES (the raise_error parity)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_plane_bands expects array<float|double>, got " +
            other.catalogString)
    }

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) PlaneBands.fail(errWhere, "NULL", dim)
    val arr = v.asInstanceOf[ArrayData]
    ArrayData.toArrayData(
      PlaneBands.bandsOf(arr, planes, bands, bitsPerBand, elemIsFloat,
        errWhere))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("planes", planes, "double[][]")
    val c = child.genCode(ctx)
    val isF = if (elemIsFloat) "true" else "false"
    val javaT: String = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    val dimS = dim.toString
    val bandsS = bands.toString
    val bitsS = bitsPerBand.toString
    val code =
      code"""
        |${c.code}
        |if (${c.isNull}) {
        |  graft.functions.PlaneBands.fail("$errWhere", "NULL", $dimS);
        |}
        |$javaT ${ev.value} =
        |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        |    graft.functions.PlaneBands.bandsOf(
        |      ${c.value}, $pl, $bandsS, $bitsS, $isF, "$errWhere"));
       """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object PlaneBands {
  /** Shared eval/codegen kernel: validates length (throwing the
    * raise_error-parity message), then per band the exact
    * [[DotProduct]] fold + NaN-aware sign test + ascending-j bit sum. */
  def bandsOf(v: ArrayData, planes: Array[Array[Double]], bands: Int,
              bits: Int, isFloat: Boolean, errWhere: String): Array[Long] = {
    val dim = planes(0).length
    if (v.numElements() != dim) fail(errWhere, v.numElements().toString, dim)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val pl = planes(b * bits + j)
        var acc = 0.0
        var i = 0
        while (i < dim) {
          val xi = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          acc += xi * pl(i)
          i += 1
        }
        // Catalyst GreaterThan on doubles is NaN-aware (NaN > 0 is
        // true there, unlike Java's primitive >) — mirror it exactly
        if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(acc, 0.0) > 0)
          bucket += (1L << j)
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    out
  }

  /** The raise_error-parity failure — same message text as the CASE
    * WHEN guards this expression replaces ([[graft.ext.Planes]]). */
  def fail(errWhere: String, len: String, dim: Int): Nothing =
    if (errWhere == "sketch")
      throw new RuntimeException(
        s"Planes.sketch: vector length $len != plane dim $dim")
    else
      throw new RuntimeException(
        s"Planes.bandBuckets: vector length $len != banding dim $dim — " +
          "pass the actual embedding dim (the dim parameter) or fix " +
          "the vector column")

  /** Column builder: the plane matrix is a plan-time constant that
    * becomes a reference object (never a literal tree) — exactly
    * [[VectorExpressions.pq_encode]]'s shape. */
  def plane_bands(vec: Column, planes: Array[Array[Double]], bands: Int,
                  bitsPerBand: Int, errWhere: String): Column =
    org.apache.spark.sql.functions.call_function("graft_plane_bands", vec,
      org.apache.spark.sql.functions.typedLit(
        planes.map(_.toSeq).toSeq),
      org.apache.spark.sql.functions.lit(bands),
      org.apache.spark.sql.functions.lit(bitsPerBand),
      org.apache.spark.sql.functions.lit(errWhere))
}
