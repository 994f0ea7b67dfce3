package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded per-group top-k aggregate: keeps the k best (value, id)
  * pairs per group in a fixed-size buffer.
  *
  * The window formulation (`row_number().over(partitionBy(g).orderBy
  * (v.desc)) <= k`) shuffles and SORTS every row of every group; this
  * aggregate's partial (map-side) phase already reduces each partition
  * to ≤ k pairs per group, so the shuffle carries k pairs per group
  * per map task and nothing is ever globally sorted. At 100 TB,
  * "top 10 per key" stops being a sort of the corpus.
  *
  * Ordering: value descending, id ascending on ties — total and
  * deterministic. Null values are skipped; ids ride along as payload
  * (join wide payloads back by id — don't shuffle them through the
  * aggregate).
  */
case class TopKAgg(
    valueExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Buf] with ImplicitCastInputTypes {

  require(k >= 1, s"graft_topk needs k >= 1, got $k")

  import TopKAgg.Buf

  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  // analysis-time typing (with implicit casts): SQL calls like
  // graft_topk(decimal_col, int_col, 3) get casts inserted instead of
  // a runtime ClassCastException in update()
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): Buf = new Buf(k)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null)
      buf.offer(v.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    var i = 0
    while (i < other.n) { buf.offer(other.vs(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: Buf): Any = {
    val order = (0 until buf.n).sortBy(i => (-buf.vs(i), buf.ids(i)))
    new GenericArrayData(order.map { i =>
      new GenericInternalRow(Array[Any](buf.vs(i), buf.ids(i)))
    }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.vs(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buf(k)
    var i = 0
    while (i < n) { buf.offer(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))
  override def prettyName: String = "graft_topk"
}

object TopKAgg {

  /** Fixed-capacity top-k holder: linear-scan replace of the worst
    * slot (k is small by contract; O(k) beats heap constants). */
  final class Buf(k: Int) {
    val vs = new Array[Double](k)
    val ids = new Array[Long](k)
    var n = 0
    private def better(v1: Double, id1: Long, v2: Double, id2: Long): Boolean =
      v1 > v2 || (v1 == v2 && id1 < id2)
    def offer(v: Double, id: Long): Unit = {
      if (v.isNaN) return
      if (n < k) { vs(n) = v; ids(n) = id; n += 1 }
      else {
        var worst = 0
        var i = 1
        while (i < n) {
          if (better(vs(worst), ids(worst), vs(i), ids(i))) worst = i
          i += 1
        }
        if (better(v, id, vs(worst), ids(worst))) { vs(worst) = v; ids(worst) = id }
      }
    }
  }

  /** Top-k (value, id) pairs of a group, rank order. */
  def topk(value: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_topk",
      value.cast("double"), id.cast("long"),
      org.apache.spark.sql.functions.lit(k))
}
