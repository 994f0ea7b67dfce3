package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Native symmetric int8 quantization
  * ([[graft.ext.Similarity.int8Quantize]]): one codegen'd primitive
  * loop per row computing struct(maxabs, q) with
  * q_i = clamp(⌊v_i · 127/maxabs + 0.5⌋, ±127).
  *
  * The compositional form this replaces —
  * `struct(array_max(transform(vec, abs)), when(maxabs = 0, zeros)
  * .otherwise(transform(vec, clamp(floor(v·scale + 0.5)))))` — runs
  * three interpreted higher-order-function passes per row
  * (CodegenFallback lambdas, one virtual call per element each) and
  * sits on the full-corpus scan of every int8 pipeline: banded
  * semantic dedup, the IVF/PQ encode paths, the persistent-index
  * builds and the int8 Gram family.
  *
  * Bit-identical to the HOF composition by construction, including
  * the edge semantics the old expression tree pinned:
  *  - maxabs is array_max's ordering (null elements skipped, NaN
  *    greatest — java.lang.Double.compare) over |v_i| with the same
  *    float→double widening as `v.cast("double")`;
  *  - scale = 127.0/maxabs then v·scale + 0.5 — the same two
  *    correctly-rounded IEEE754 ops in the same order;
  *  - ⌊·⌋ is Catalyst Floor-on-double parity: math.floor then a
  *    saturating double→long cast (NaN → 0, ±Inf → Long min/max
  *    before the ±127 clamp);
  *  - the ±127 clamp is greatest(-127, least(127, ·)) INCLUDING the
  *    null-skip of least/greatest: a null element (null product)
  *    quantizes to 127, and a null/absent maxabs (empty or all-null
  *    vector) sends EVERY element to 127 — exactly what the old
  *    when/otherwise tree computed;
  *  - maxabs = 0.0 maps every element (nulls included) to 0;
  *  - a NULL vector yields struct(null, null) (the struct itself is
  *    never null, CreateNamedStruct parity).
  */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("maxabs", DoubleType, nullable = true),
    StructField("q", ArrayType(LongType, containsNull = true),
      nullable = true)))

  // struct(...) is never null — a null input yields null FIELDS
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_int8_quantize expects array<float|double>, got " +
            other.catalogString)
    }

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: InternalRow): Any =
    Int8Quantize.quantize(
      child.eval(input).asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val isF = if (elemIsFloat) "true" else "false"
    val code =
      code"""
        |${c.code}
        |org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
        |  graft.functions.Int8Quantize.quantize(
        |    ${c.isNull} ? null : ${c.value}, $isF);
       """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object Int8Quantize {
  /** Shared eval/codegen kernel — see the bit-parity contract on the
    * case class. Returns the struct row (maxabs, q). */
  def quantize(v: ArrayData, isFloat: Boolean): InternalRow = {
    if (v == null)
      return new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](null, null))
    val n = v.numElements()
    // pass 1: array_max over |v_i| — null elements skipped, NaN
    // greatest (java.lang.Double.compare == SQLOrderingUtil on the
    // abs-value domain, where -0.0 cannot occur)
    var hasMax = false
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val d = math.abs(
          if (isFloat) v.getFloat(i).toDouble else v.getDouble(i))
        if (!hasMax || java.lang.Double.compare(d, maxabs) > 0) {
          maxabs = d; hasMax = true
        }
      }
      i += 1
    }
    // pass 2: the quantized vector
    val out = new Array[Long](n)
    if (!hasMax) {
      // null maxabs (empty or all-null vector): every element's
      // product is null, and least(127, null)/greatest(-127, 127)
      // null-skip to 127
      java.util.Arrays.fill(out, 127L)
    } else if (maxabs == 0.0) {
      // zero vector: the when-branch maps every element to 0
      // (out is already zero-filled)
    } else {
      val scale = 127.0 / maxabs
      var j = 0
      while (j < n) {
        if (v.isNullAt(j)) out(j) = 127L // null product → least/greatest skip
        else {
          val d = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
          // Floor-on-double parity: math.floor then the saturating
          // double→long cast (NaN → 0, ±Inf → Long min/max)
          val l = math.floor(d * scale + 0.5).toLong
          out(j) = if (l > 127L) 127L else if (l < -127L) -127L else l
        }
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (hasMax) maxabs else null,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(out)))
  }

  /** Column builder. */
  def int8_quantize(vec: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_int8_quantize", vec)
}
