package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mergeable quantile summary as a native aggregate — the rank-query
  * member of the sketch family ([[graft.ext.Hll]] cardinality,
  * [[HeavyHittersAgg]] frequency, [[MinHashAgg]] similarity).
  *
  * Exact quantiles (`ORDER BY` + rank pick, q26) sort the full value
  * stream; at 100 TB per-group sorts dominate the stage. This keeps a
  * bounded list of (value, weight) entries per partial instead:
  * values append with weight 1, equal values coalesce (an error-free
  * shrink), and when the list exceeds `2·cap` entries it COMPACTS the
  * KLL way (Karnin–Lang–Liberty FOCS'16): only entries of the SAME
  * weight class (⌊log₂ w⌋) pair up, lowest class first, adjacent in
  * value order, the kept side alternating per pair — the
  * level-segregation + parity discipline that keeps rank error
  * additive across levels instead of snowballing weight onto early
  * values (the classic naive-pairing failure). Merging concatenates
  * entry lists and re-compacts: shuffles carry ≤ 2·cap entries per
  * partial, never the value stream.
  *
  * Determinism contract: with ≤ `cap` DISTINCT values per group the
  * lossy pairing never fires — the summary is the exact weighted
  * value histogram, identical under any partitioning and engine,
  * which is the regime the x63 oracle pins (rank formula mirrored in
  * SQL, cap sized above the group cardinality). Beyond it, each
  * pairing at weight class l shifts any rank by ≤ 2^l, estimates
  * become arrival-order dependent (as with every compacting sketch),
  * and specs pin empirical rank error on adversarial orderings
  * (sorted / reversed / shuffled) rather than claiming the
  * randomized-KLL constant for this deterministic variant.
  *
  * Output: array<struct<v double, w bigint>> sorted by value —
  * compose rank queries with [[QuantileSketchAgg.quantileAt]], or
  * union shard summaries and merge again (mergeable-summaries
  * algebra, same as the HLL/SpaceSaving paths).
  */
case class QuantileSketchAgg(
    valueExpr: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketchAgg.QSBuf]
  with ImplicitCastInputTypes {

  import QuantileSketchAgg.QSBuf

  require(cap >= 2, s"graft_quantile_sketch needs cap >= 2, got $cap")

  override def children: Seq[Expression] = Seq(valueExpr)
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("w", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): QSBuf = new QSBuf

  private def weightClass(w: Long): Int =
    63 - java.lang.Long.numberOfLeadingZeros(w)

  /** Sort + coalesce equal values (error-free); then, if allowed and
    * needed, pair within the lowest over-populated weight class until
    * the buffer fits `cap` (or only singleton classes remain — at
    * most 64 entries, below any sane cap). */
  private def compact(buf: QSBuf, lossyAllowed: Boolean): QSBuf = {
    var entries = {
      val sorted = buf.entries.sortBy(_._1)
      val combined = new ArrayBuffer[(Double, Long)]
      sorted.foreach { case (v, w) =>
        if (combined.nonEmpty && combined.last._1 == v)
          combined(combined.size - 1) = (v, combined.last._2 + w)
        else combined += ((v, w))
      }
      combined
    }
    var exhausted = false
    while (lossyAllowed && entries.size > cap && !exhausted) {
      val lv = entries.iterator.map(e => weightClass(e._2))
        .toSeq.groupBy(identity).view.mapValues(_.size)
        .filter(_._2 >= 2).keys.minOption
      lv match {
        case None => exhausted = true
        case Some(cls) =>
          val out = new ArrayBuffer[(Double, Long)]
          var pending: (Double, Long) = null
          entries.foreach { e =>
            if (weightClass(e._2) == cls) {
              if (pending == null) pending = e
              else {
                val kept = if (buf.flip) e else pending
                out += ((kept._1, pending._2 + e._2))
                buf.flip = !buf.flip
                pending = null
              }
            } else out += e
          }
          if (pending != null) out += pending
          entries = out.sortBy(_._1)
      }
    }
    buf.entries.clear()
    buf.entries ++= entries
    buf
  }

  override def update(buf: QSBuf, input: InternalRow): QSBuf = {
    val v = valueExpr.eval(input)
    if (v == null) buf
    else {
      buf.entries += ((v.asInstanceOf[Double], 1L))
      if (buf.entries.size > 2 * cap) compact(buf, lossyAllowed = true)
      else buf
    }
  }

  override def merge(buf: QSBuf, other: QSBuf): QSBuf = {
    buf.entries ++= other.entries
    buf.flip ^= other.flip
    if (buf.entries.size > 2 * cap) compact(buf, lossyAllowed = true) else buf
  }

  override def eval(buf: QSBuf): Any = {
    val fin = compact(buf, lossyAllowed = true)
    new GenericArrayData(fin.entries.map { case (v, w) =>
      new GenericInternalRow(Array[Any](v, w))
    }.toArray[Any])
  }

  override def serialize(buf: QSBuf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBoolean(buf.flip)
    out.writeInt(buf.entries.size)
    buf.entries.foreach { case (v, w) =>
      out.writeDouble(v); out.writeLong(w)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): QSBuf = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val buf = new QSBuf
    buf.flip = in.readBoolean()
    val n = in.readInt()
    (1 to n).foreach { _ => buf.entries += ((in.readDouble(), in.readLong())) }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0))
  override def prettyName: String = "graft_quantile_sketch"
}

object QuantileSketchAgg {

  /** Entry list plus the compactor's alternating-parity bit (the
    * deterministic stand-in for KLL's coin flip). */
  final class QSBuf {
    val entries: ArrayBuffer[(Double, Long)] = ArrayBuffer.empty
    var flip: Boolean = false
  }

  /** The (value, weight) summary of a group, values ascending. */
  def sketch(value: Column, cap: Int): Column =
    call_function("graft_quantile_sketch", value.cast("double"), lit(cap))

  /** Rank query over a summary: the smallest value whose cumulative
    * weight reaches `ceil(q · W)` (1-based rank, W = total weight).
    * Pure in-row fold — no shuffle, and the `ceil` arithmetic is one
    * IEEE multiply + ceil, identical in any engine that mirrors the
    * formula (the x63 oracle spells it out in SQL rather than
    * trusting an engine's quantile function to share rank
    * semantics). */
  def quantileAt(summary: Column, q: Double): Column = {
    require(q > 0.0 && q <= 1.0, s"quantile must be in (0, 1], got $q")
    val total = aggregate(summary, lit(0L), (acc, e) => acc + e.getField("w"))
    val rank = greatest(lit(1L), ceil(lit(q) * total).cast("long"))
    // the rank threshold rides in the fold's SEED (evaluated once per
    // row): referencing `rank` inside the lambda instead would inline
    // the total-weight fold into every step — quadratic in summary
    // size, which at a 30k-entry exact-regime summary is minutes, not
    // milliseconds
    aggregate(summary,
      struct(lit(0L).as("cum"), lit(null).cast("double").as("ans"),
        rank.as("rank")),
      (acc, e) => {
        val cum2 = acc.getField("cum") + e.getField("w")
        struct(cum2.as("cum"),
          when(acc.getField("ans").isNull && cum2 >= acc.getField("rank"),
            e.getField("v"))
            .otherwise(acc.getField("ans")).as("ans"),
          acc.getField("rank").as("rank"))
      }).getField("ans")
  }
}
