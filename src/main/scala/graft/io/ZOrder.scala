package graft.io

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) key for multi-dimensional data skipping.
  *
  * A table range-partitioned and sorted by the interleaved-bit key of
  * two filter columns clusters BOTH dimensions at once: each output
  * file covers a small set of quad-tree cells, so its parquet
  * row-group min/max stats are tight on x AND y, and a point or box
  * predicate on either column prunes most files at scan time. This is
  * the layout move (pay one shuffle at write) that makes selective
  * scans on a 100 TB table touch gigabytes instead.
  *
  * The key uses the LOW `bits` of each column — a layout key, not a
  * value-preserving encoding; pre-scale monotonic columns into range
  * (e.g. days-since-epoch, bucketed ids) for best clustering.
  */
object ZOrder {

  /** Interleaved-bit Morton key of two non-negative integral columns
    * (x in even bits, y in odd bits; `bits` low bits of each). Pure
    * bit arithmetic — codegen'd, reproducible in any engine. */
  def zValue(xc: Column, yc: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val x = xc.cast("long")
    val y = yc.cast("long")
    val terms = (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_.bitwiseOR(_))
  }

  /** The same Morton key as ANSI-ish SQL over integer bit operators —
    * used by the DuckDB oracle so the layout key is verified
    * bit-for-bit across engines. */
  def zValueSql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($x >> $i) & 1) << ${2 * i})",
          s"((($y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")
}
