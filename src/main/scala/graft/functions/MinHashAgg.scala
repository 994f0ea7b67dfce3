package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native MinHash signature aggregate (SURVEY.md §7.3's suggested
  * `TypedImperativeAggregate`).
  *
  * The DataFrame formulation (transform a k-element permutation array
  * per shingle row, posexplode, groupBy (doc, i), min) multiplies the
  * shuffle by k (k=128 → 160M rows at sf0.1) and was the single
  * hottest operator in the bench. This aggregate keeps the k-slot
  * buffer per group and folds each shingle in with k fused
  * multiply-mod updates — partial aggregation runs map-side, so the
  * shuffle carries one k-long signature per document instead of k
  * rows per shingle. At 100 TB that's the difference between a
  * signature build bounded by the scan and one bounded by a 128×
  * shuffle.
  *
  * Hash family (identical to the prior DataFrame form):
  * base = xxhash64(shingle, seed 42); slot i gets
  * ((base + 982451653) * (2i+1) + 40099*i) mod 2147483647, minimized
  * over shingles.
  */
case class MinHashAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(k >= 1, s"graft_minhash needs k >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // constants shared with MinHashArray (the canonical definition of
  // the affine slot family lives there)
  private val P = MinHashArray.P
  private val C = 982451653L

  override def createAggregationBuffer(): Array[Long] = Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val base = XxHash64Function.hash(v, child.dataType, 42L) + C
      var i = 0
      while (i < k) {
        var h = (base * (2L * i + 1) + MinHashArray.STRIDE * i) % P
        if (h < 0) h += P
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (other(i) < buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(k * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(k)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinHashAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_minhash"
}

object MinHashAgg {
  /** k-slot MinHash signature of a (grouped) string column. */
  def minhash(c: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_minhash", c, org.apache.spark.sql.functions.lit(k))
}
