package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** K-minimum-values set sketch (Bar-Yossef et al. 2002 / the Theta
  * sketch core) as a native mergeable aggregate: the k smallest
  * DISTINCT values of a long-valued hash coordinate.
  *
  * Distinct counting with `COUNT(DISTINCT key)` shuffles every
  * distinct key; HLL ([[graft.ext.Hll]]) fixes the scale problem but
  * its estimate is bucket-rounded and engine-specific. KMV is the
  * middle path with SET ALGEBRA: the summary is a deterministic
  * function of the key set (order statistics of md5 coordinates — no
  * arrival-order dependence, unlike SpaceSaving/compacting sketches),
  * so summaries union by re-aggregation (k smallest of the merged
  * summaries), intersect by inclusion-exclusion, and the x65 oracle
  * reproduces summary AND estimate bit-for-bit at every scale — not
  * just in an exact regime.
  *
  * Estimator: fewer than k kept values means the sketch saw the whole
  * set — the count is EXACT (= summary size). At capacity, the kth
  * minimum of n uniform draws on [0, 2^52) sits near k/n of the
  * range: est = (k−1)/θ with θ = h_k/2^52 (the unbiased KMV
  * estimator), relative error ~1/√(k−2).
  *
  * Buffer: a size-capped sorted set — update is O(log k) with an
  * early reject for values above the current kth minimum, so a hot
  * partition does log-k work only while its sketch is still filling.
  * Shuffles carry ≤ k longs per partial, never the key stream.
  */
case class KMinAgg(
    valueExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]]
  with ImplicitCastInputTypes {

  require(k >= 1, s"graft_kmin needs k >= 1, got $k")

  type Buf = mutable.TreeSet[Long]

  override def children: Seq[Expression] = Seq(valueExpr)
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Buf = mutable.TreeSet.empty

  private def offer(buf: Buf, v: Long): Unit =
    if (buf.size < k) buf += v
    else if (v < buf.last && !buf.contains(v)) {
      buf -= buf.last
      buf += v
    }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = valueExpr.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: Buf): Any =
    new GenericArrayData(buf.toArray[Long].map(v => v: Any))

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    (1 to n).foreach(_ => buf += in.readLong())
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): KMinAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KMinAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0))
  override def prettyName: String = "graft_kmin"
}

object KMinAgg {

  /** The k smallest distinct values of a group, ascending. */
  def kmin(value: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_kmin",
      value.cast("long"), org.apache.spark.sql.functions.lit(k))
}
