package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** COUNT of the distinct common elements of two string arrays —
  * exactly `size(array_intersect(a, b))` without materializing the
  * intersection: Spark's `ArrayIntersect` allocates a result array
  * and copies every matched string per row just so `size` can throw
  * it away, in the hottest loop of the dedup family (the exact
  * Jaccard / containment verification of every LSH/prefix candidate
  * pair — x02/x03/x46/x50/x76/x97 all pay it per candidate).
  *
  * One hash set over the smaller side, one probing pass over the
  * other, a long out; duplicate elements on the probing side are
  * counted once (a second set), so the count matches
  * `array_intersect`'s distinct semantics even on non-distinct
  * inputs. NULL array ⇒ NULL (same as the composed form); a NULL
  * ELEMENT counts once iff BOTH sides contain one — exactly
  * `ArrayIntersect`'s null semantics, so the equivalence holds for
  * arbitrary SQL through the global `graft_intersect_count`
  * registration, not just the `containsNull = false` shingle arrays
  * the dedup family feeds it (property-tested with null elements). */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_intersect_count expects two array<string>, got " +
            s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.IntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCount {

  /** Hash-probe count; called from generated code. */
  def count(a: ArrayData, b: ArrayData): Long = {
    // build the set over the SMALLER side, probe with the larger;
    // track probed matches in a second set so duplicates on the
    // probing side count once (array_intersect distinct semantics);
    // a shared null element counts once (ArrayIntersect treats null
    // as matching null — a boolean per side, never in the hash sets)
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var smallHasNull = false
    var i = 0
    val ns = small.numElements()
    while (i < ns) {
      if (small.isNullAt(i)) smallHasNull = true
      else set.add(small.getUTF8String(i))
      i += 1
    }
    var n = 0L
    var nullCounted = false
    if (!set.isEmpty || smallHasNull) {
      val seen = new java.util.HashSet[UTF8String](set.size * 2)
      val nl = large.numElements()
      var j = 0
      while (j < nl) {
        if (large.isNullAt(j)) {
          if (smallHasNull && !nullCounted) { n += 1; nullCounted = true }
        } else {
          val v = large.getUTF8String(j)
          if (set.contains(v) && seen.add(v)) n += 1
        }
        j += 1
      }
    }
    n
  }

  def intersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_intersect_count", a, b)
}
