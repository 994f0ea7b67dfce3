package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches (Apache DataSketches HLL, built
  * into Spark 4 as `hll_sketch_agg` / `hll_union_agg`).
  *
  * The 100 TB pattern this enables: materialize one small sketch row
  * per (group, shard) — e.g. per day, per ingest batch — then answer
  * "distinct users over ANY shard combination" by unioning sketches,
  * never re-scanning the raw data. HLL register merge is max-based, so
  * the union is order-independent and a shard's sketch is computed
  * exactly once, ever. Estimates are approximate (~1.6%/√(2^lgK));
  * the MERGE itself is lossless: union-of-shard-sketches is the same
  * sketch the whole corpus would produce.
  */
object Hll {

  /** One sketch per group × shard: the write-side aggregation
    * (map-combined — the shuffle carries sketches, not values). */
  def sketchBy(df: DataFrame, groups: Seq[String], shard: String,
               value: String, lgK: Int = 12): DataFrame =
    df.groupBy((groups :+ shard).map(col): _*)
      .agg(hll_sketch_agg(col(value), lit(lgK)).as("sketch"))

  /** Read side: union each group's shard sketches, estimate distinct.
    * Runs over the tiny sketch table, not the corpus. */
  def estimateAcrossShards(sketches: DataFrame, groups: Seq[String]): DataFrame =
    sketches.groupBy(groups.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .as("approx_distinct"))
}
