package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native element-wise Long-vector SUM aggregate (`graft_vecsum`).
  *
  * The dense-linear-algebra reduction Spark lacks: Σ over rows of a
  * fixed-width long array, element-wise — the sufficient-statistic
  * step behind Gram/covariance matrices, centroid sums, and
  * histogram-vector merges. The DataFrame alternative (posexplode →
  * groupBy(position) → sum) multiplies the shuffle by the vector
  * width; this aggregate folds each row into one dims-long buffer,
  * partial aggregation runs map-side, and the shuffle carries ONE
  * vector per group — at 100 TB the difference between a scan-bound
  * reduction and a dims× row explosion.
  *
  * Null rows are skipped; null elements count as 0. Overflow wraps
  * (Long arithmetic) — quantize inputs (e.g. int8: |q_i·q_j| ≤ 127²,
  * safe for ~5·10¹⁴ rows per group) rather than feeding raw longs.
  */
case class VectorSumAgg(
    child: Expression,
    dims: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(dims >= 1, s"graft_vecsum needs dims >= 1, got $dims")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dims)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == dims,
        s"graft_vecsum: row has ${arr.numElements()} elements, expected $dims")
      var i = 0
      while (i < dims) {
        if (!arr.isNullAt(i)) buf(i) += arr.getLong(i)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dims) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(dims * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(dims)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_vecsum"
}

object VectorSumAgg {
  /** Element-wise sum of a long-array column (fixed width `dims`). */
  def vecSum(c: Column, dims: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_vecsum", c, org.apache.spark.sql.functions.lit(dims))

  /** Row-major outer-product sum of a long-vector column (width
    * `dims`, result width dims²): Σ over rows of q ⊗ q. */
  def vecOuterSum(c: Column, dims: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_vecoutersum", c, org.apache.spark.sql.functions.lit(dims))
}

/** Native Gram-matrix aggregate (`graft_vecoutersum`): Σ over rows of
  * the OUTER PRODUCT q ⊗ q of a fixed-width long vector, flattened
  * row-major into a dims²-long array — the sufficient statistic of
  * [[graft.ext.Similarity.int8Gram]].
  *
  * The pre-r13 composition `graft_vecsum(flatten(transform(q, qi =>
  * transform(q, qj => qi*qj))), dims²)` computed the same numbers but
  * paid, per input ROW, dims+1 interpreted higher-order-function
  * evaluations plus the materialization (and flatten-copy) of a
  * dims²-element array, only for the aggregate to fold it away —
  * `transform` is CodegenFallback, so at dims = 64 every row ran 4096
  * interpreted lambda calls and allocated 65 arrays. This aggregate
  * folds the vector straight into the dims² buffer with one primitive
  * loop nest per row; the shuffle still carries ONE buffer per map
  * partition.
  *
  * Exact semantic replica of the composition (pinned in R13OptSpec):
  * null rows are skipped; a null ELEMENT nulls every product it
  * touches, which `graft_vecsum` counted as 0 — here the row's null
  * positions simply don't contribute; a row whose width differs from
  * `dims` fails (the composition's flatten had width ≠ dims² and
  * graft_vecsum raised). Long arithmetic wraps on overflow exactly
  * like the composed form — same products, same addition order per
  * cell. */
case class VectorOuterSumAgg(
    child: Expression,
    dims: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  // the upper bound keeps dims² (and serialize's dims²·8 bytes) far
  // inside Int — a raw-SQL caller with dims ≥ 46341 would otherwise
  // hit NegativeArraySizeException from the silent int overflow
  require(dims >= 1 && dims <= 4096,
    s"graft_vecoutersum needs dims in [1, 4096], got $dims")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](dims * dims)

  // per-partition scratch, reused across update() calls — the whole
  // point of the aggregate is an allocation-free per-row loop
  @transient private lazy val q = new Array[Long](dims)
  @transient private lazy val isNull = new Array[Boolean](dims)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == dims,
        s"graft_vecoutersum: row has ${arr.numElements()} elements, expected $dims")
      var i = 0
      while (i < dims) {
        // write BOTH branches: the scratch mask is reused across rows
        isNull(i) = arr.isNullAt(i)
        if (!isNull(i)) q(i) = arr.getLong(i)
        i += 1
      }
      i = 0
      while (i < dims) {
        if (!isNull(i)) {
          val qi = q(i)
          val base = i * dims
          var j = 0
          while (j < dims) {
            if (!isNull(j)) buf(base + j) += qi * q(j)
            j += 1
          }
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    val n = dims * dims
    while (i < n) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(dims * dims * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(dims * dims)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): VectorOuterSumAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VectorOuterSumAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_vecoutersum"
}
