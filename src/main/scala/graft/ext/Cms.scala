package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan, J.Alg 2005): a d×w
  * integer matrix answering point frequency queries with one-sided
  * error (estimate ≥ true count; ≤ true + 2N/w with prob 1−2⁻ᵈ per
  * the classic bound) in O(d·w) space — the frequency companion to
  * the engine's other mergeable summaries ([[Hll]] cardinality,
  * [[graft.functions.QuantileSketchAgg]] quantiles,
  * [[graft.functions.HeavyHittersAgg]] top items). Where SpaceSaving
  * tracks only the top-k, a CMS answers "how often did THIS key
  * occur" for any key after one pass — the shape needed for
  * token-frequency lookups, join-key histograms, and guardrail
  * checks over a 100 TB corpus that cannot be re-scanned per probe.
  *
  * Hashing is the engine's standard md5 coordinate discipline
  * ([[Sampling.hashBucket256]]): depth row r buckets key k at
  * (16-bit big-endian slice of md5("cms‹r›:" ‖ k)) mod width —
  * deterministic, engine-portable, and mirrored nibble-for-nibble by
  * the DuckDB oracle (x107). Width ≤ 65536 (one 16-bit slice).
  *
  * Scale shape: ONE corpus scan exploding d (row, bucket) pairs per
  * input row, then one map-combined count — partial aggregation
  * collapses every partition to ≤ d·w cells before the exchange, so
  * the shuffle is O(partitions · d · w) regardless of corpus size.
  * Sketches over shards union by cell-wise SUM on (row, bucket) —
  * the mergeability that makes the sketch a streaming/incremental
  * citizen (same contract as [[Hll.unionSketches]]).
  */
object Cms {

  /** Depth-row `r` bucket of `key` in [0, width): 16 bits of
    * md5("cms‹r›:" ‖ key), mod width. */
  def bucket(key: Column, row: Int, width: Int): Column = {
    require(width > 0 && width <= 65536, "width must be in 1..65536")
    pmod(conv(substring(
        md5(concat(lit(s"cms$row:"), key.cast("string")).cast("binary")),
        1, 4), 16, 10).cast("long"), lit(width.toLong)).cast("int")
  }

  /** Build the sketch: (row, bucket, cnt) cells, absent cells = 0.
    * One scan, one map-combined aggregation. */
  def sketch(df: DataFrame, key: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8, "depth must be in 1..8")
    df.select(posexplode(array((0 until depth).map(r =>
        bucket(col(key), r, width)): _*)).as(Seq("row", "bucket")))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `probes` (a frame carrying `key`): the
    * CMS estimate min over depth rows, 0 for never-seen buckets.
    * The probe side fans out d rows per key then joins the ≤ d·w-cell
    * sketch — broadcast-sized by construction. */
  def estimate(sk: DataFrame, probes: DataFrame, key: String,
               depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8, "depth must be in 1..8")
    probes
      .select(col(key), posexplode(array((0 until depth).map(r =>
        bucket(col(key), r, width)): _*)).as(Seq("row", "bucket")))
      .join(broadcast(sk), Seq("row", "bucket"), "left")
      .groupBy(key)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
