package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving summary buffer: bounded (item → est, err) slots plus a
  * lossiness flag. `lossy` records whether this summary has EVER
  * dropped information (an update-time eviction or a truncating
  * merge); until then every absent item provably has count 0 in the
  * summarized substream, after it an absent item may have any count up
  * to the summary's minimum estimate. The merge needs that distinction
  * to keep both the published bounds AND exactness in the
  * no-eviction regime. */
final class HHBuf {
  val m: mutable.LinkedHashMap[String, (Long, Long)] = mutable.LinkedHashMap.empty
  var lossy: Boolean = false
}

/** SpaceSaving heavy-hitters sketch (Metwally et al. 2005) as a native
  * mergeable aggregate — approximate frequent-item counts in a
  * fixed-size summary.
  *
  * Exact hot-token / hot-key discovery (`GROUP BY item`) shuffles the
  * full item stream; at 100 TB the vocabulary doesn't fit anywhere.
  * SpaceSaving keeps at most `cap` (item → count, error) slots per
  * partial: a seen item increments its slot; an unseen item beyond
  * capacity EVICTS the minimum-count slot, inheriting its count as
  * both estimate floor and recorded error. Guarantees (n = stream
  * length): true ≤ est ≤ true + err, err ≤ n/cap, and every item with
  * frequency > n/cap is present in the summary.
  *
  * Partials merge with the mergeable-summaries combine (Agarwal et
  * al. 2012): items present in both sum item-wise; an item present in
  * only one side additionally inherits the OTHER side's minimum
  * estimate (its count there is unknown but bounded by that minimum)
  * into both est and err — but only when that other side is `lossy`;
  * a summary that never evicted has seen its substream exactly, so
  * absence there means count 0. The result then truncates to the
  * `cap` largest, so the shuffle carries ≤ cap entries per map task,
  * never the item stream, and `true ≤ est ≤ true + err` survives any
  * merge tree.
  *
  * When `cap` ≥ the number of distinct items, no eviction or
  * truncation ever happens: every partial stays non-lossy, merges are
  * plain sums, counts are EXACT, errors zero, and the result is
  * deterministic under any partitioning — the x58 oracle pins that
  * regime against a plain GROUP BY. Beyond it, estimates depend on
  * arrival order (inherent to every frequent-items sketch); specs pin
  * the published bounds instead of exact values.
  *
  * Output: array of (item, est, err) structs, (est desc, item asc) —
  * a total order, so the exact regime is bit-deterministic.
  */
case class HeavyHittersAgg(
    itemExpr: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HHBuf]
  with ImplicitCastInputTypes {

  require(cap >= 1, s"graft_heavyhitters needs cap >= 1, got $cap")

  override def children: Seq[Expression] = Seq(itemExpr)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): HHBuf = new HHBuf

  private def offer(buf: HHBuf, item: String): Unit =
    buf.m.get(item) match {
      case Some((c, e)) => buf.m.update(item, (c + 1L, e))
      case None if buf.m.size < cap => buf.m.update(item, (1L, 0L))
      case None =>
        // evict the minimum-estimate slot; ties broken by item string
        // so eviction is a deterministic function of the buffer state
        val (mi, (mc, _)) = buf.m.minBy { case (k, (c, _)) => (c, k) }
        buf.m.remove(mi)
        buf.m.update(item, (mc + 1L, mc))
        buf.lossy = true
    }

  /** Largest possible count an ABSENT item may have in this summary's
    * substream: the minimum estimate once information has been lost,
    * zero while the summary is still exact. */
  private def absentFloor(buf: HHBuf): Long =
    if (buf.lossy && buf.m.nonEmpty) buf.m.valuesIterator.map(_._1).min else 0L

  override def update(buf: HHBuf, input: InternalRow): HHBuf = {
    val v = itemExpr.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: HHBuf, other: HHBuf): HHBuf = {
    val fThis = absentFloor(buf)
    val fOther = absentFloor(other)
    // snapshot this side's keys BEFORE other's items land, so "only in
    // buf" is decided against the pre-merge state
    val thisOnly =
      if (fOther > 0L) buf.m.keysIterator.filterNot(other.m.contains).toArray
      else Array.empty[String]
    other.m.foreach { case (item, (c, e)) =>
      buf.m.get(item) match {
        case Some((c0, e0)) => buf.m.update(item, (c0 + c, e0 + e))
        case None => buf.m.update(item, (c + fThis, e + fThis))
      }
    }
    thisOnly.foreach { item =>
      val (c, e) = buf.m(item)
      buf.m.update(item, (c + fOther, e + fOther))
    }
    buf.lossy = buf.lossy || other.lossy
    if (buf.m.size <= cap) buf
    else {
      val kept = buf.m.toSeq.sortBy { case (item, (c, _)) => (-c, item) }.take(cap)
      val out = createAggregationBuffer()
      kept.foreach { case (item, ce) => out.m.update(item, ce) }
      out.lossy = true
      out
    }
  }

  override def eval(buf: HHBuf): Any = {
    val order = buf.m.toSeq.sortBy { case (item, (c, _)) => (-c, item) }
    new GenericArrayData(order.map { case (item, (c, e)) =>
      new GenericInternalRow(
        Array[Any](UTF8String.fromString(item), c, e))
    }.toArray[Any])
  }

  override def serialize(buf: HHBuf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBoolean(buf.lossy)
    out.writeInt(buf.m.size)
    buf.m.foreach { case (item, (c, e)) =>
      // explicit length + raw UTF-8 bytes: writeUTF caps items at
      // 65535 bytes and the item is an arbitrary caller string
      val b = item.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
      out.writeLong(c); out.writeLong(e)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HHBuf = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    buf.lossy = in.readBoolean()
    val n = in.readInt()
    (1 to n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      val item = new String(b, java.nio.charset.StandardCharsets.UTF_8)
      val c = in.readLong(); val e = in.readLong()
      buf.m.update(item, (c, e))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(itemExpr = newChildren(0))
  override def prettyName: String = "graft_heavyhitters"
}

object HeavyHittersAgg {

  /** The (item, est, err) summary of a group, hottest first. */
  def heavyHitters(item: Column, cap: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_heavyhitters",
      item.cast("string"), org.apache.spark.sql.functions.lit(cap))
}
