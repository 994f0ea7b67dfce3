package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** PER-ROW MinHash signature over a shingle ARRAY — the stateless
  * form of [[MinHashAgg]] a STREAMING probe needs: Structured
  * Streaming cannot run a per-document aggregate statelessly, but a
  * scalar expression over the (already in-row) shingle set computes
  * the identical signature at scan speed. Bit-identical to
  * [[MinHashAgg]] over the exploded rows by construction — the same
  * hash family (base = xxhash64(shingle, 42) + C; slot i =
  * (base·(2i+1) + 40099·i) mod P), the same Long.MaxValue empty
  * buffer, and min is order-free — property-tested against the
  * aggregate. Null elements are skipped (the aggregate never sees
  * them as rows); a NULL array yields NULL; an EMPTY array yields the
  * MaxValue-filled signature, exactly the aggregate's untouched
  * buffer. */
case class MinHashArray(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"graft_minhash_array needs k >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash_array expects array<string>, got ${t.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    MinHashArray.signature(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.MinHashArray.signature($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashArray {

  // THE affine slot family shared by every MinHash surface:
  // slot i = (base·(2i+1) + STRIDE·i) mod P. MinHashAgg/MinHashArray
  // fold it in JVM arithmetic over an xxhash64 base; Column-level
  // users with a PORTABLE base (Dedup.corpusOverlapMatrix and its
  // md5-replaying oracle) must build the identical expression from
  // these constants rather than re-rolling them.
  private[graft] val P = 2147483647L
  private[graft] val STRIDE = 40099L
  private val C = 982451653L

  /** The k-slot fold; called from generated code. Identical
    * arithmetic to [[MinHashAgg.update]]. */
  def signature(shingles: ArrayData, k: Int): GenericArrayData = {
    val buf = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        val base = XxHash64Function.hash(
          shingles.getUTF8String(j), StringType, 42L) + C
        var i = 0
        while (i < k) {
          var h = (base * (2L * i + 1) + STRIDE * i) % P
          if (h < 0) h += P
          if (h < buf(i)) buf(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(buf)
  }

  def minhashArray(shingles: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash_array",
      shingles, org.apache.spark.sql.functions.lit(k))
}
