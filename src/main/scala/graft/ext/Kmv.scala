package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.KMinAgg

/** KMV distinct-count sketching over md5 hash coordinates — the
  * engine-portable companion to [[Hll]]: summaries, estimates, and
  * set-algebra merges are all deterministic functions of the key SET
  * (order statistics, no arrival-order dependence), so the x65 oracle
  * pins them bit-for-bit at every scale, estimate included.
  */
object Kmv {

  /** 2^52 — the hash range; a 52-bit integer is exact in a Double, so
    * θ = h/2⁵² and the (k−1)/θ estimate are single correctly-rounded
    * IEEE divisions, identical in any engine. */
  val HashRange: Double = 4503599627370496.0

  /** Uniform 52-bit coordinate: the first 13 hex chars of
    * md5(salt‖key). Engine-portable (the DuckDB oracle re-derives it
    * with a nibble fold over the same digest). */
  def hash52(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string")).cast("binary")),
      1, 13), 16, 10).cast("long")

  /** Aggregate column: KMV summary (k smallest distinct coordinates,
    * ascending) of `key` under `salt`. */
  def summary(key: Column, k: Int, salt: String): Column =
    KMinAgg.kmin(hash52(key, salt), k)

  /** Distinct-intersection estimate from two summaries — the
    * join-cardinality probe a planner wants BEFORE committing to a
    * shuffle strategy: two tiny sketch rows answer "how many keys
    * match" without scanning either table again. Beth-style KMV set
    * algebra (Beyer et al., SIGMOD'07): K smallest of the merged
    * union give θ; the fraction of those present in BOTH inputs
    * scales the union estimate. Exact (not estimated) whenever the
    * union never filled the sketch — then both summaries hold every
    * hash. Deterministic: order statistics of md5 coordinates, no
    * arrival-order term anywhere. */
  def intersectEstimate(a: Column, b: Column, k: Int): Column = {
    val merged = slice(array_sort(array_distinct(concat(a, b))), 1, k)
    val kk = size(merged)
    val theta = element_at(merged, kk).cast("double") / lit(HashRange)
    val inBoth = size(array_intersect(merged, array_intersect(a, b)))
    when(kk < k, inBoth.cast("double"))
      .otherwise(inBoth.cast("double") / kk.cast("double") *
        (lit((k - 1).toDouble) / theta))
  }
}
