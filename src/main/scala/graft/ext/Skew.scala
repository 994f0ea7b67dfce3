package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation primitives (scale toolbox; SURVEY.md §2.b notes and
  * the 100 TB design brief).
  *
  * AQE's skew-join handles most runtime skew; these are the explicit
  * forms for when the skew is known up front (a hot key that would
  * overwhelm even a split partition) or when AQE is unavailable
  * (e.g. inside a cached stage boundary).
  *
  * Salts are DETERMINISTIC — derived by hashing stable row columns,
  * never rand() — so results are reproducible run-to-run and safe
  * under task retries (a rand() salt recomputed on retry can silently
  * drop or duplicate rows).
  */
object Skew {

  /** Deterministic salt in [0, n) from stable columns. */
  def salt(n: Int, cols: Column*): Column = {
    require(n >= 1, s"salt fan-out must be >= 1, got $n")
    pmod(xxhash64(cols: _*), lit(n.toLong)).cast("int")
  }

  /** Key-distribution profile for a prospective join/agg key: the
    * top-k heaviest keys with exact counts, each key's corpus share in
    * parts-per-million, and the salt fan-out that would level it
    * (ceil(count·parts/total): how many reducers this key needs so its
    * share of one equals the average partition). All integer
    * arithmetic — reproducible anywhere. Run this BEFORE shipping a
    * 100 TB join; feed the result into [[saltedJoin]]
    * or trust AQE when the profile is flat. One map-combined agg plus
    * a single-row broadcast of the total. */
  def keyProfile(df: DataFrame, key: String, topK: Int,
                 parts: Int): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.join(broadcast(total))
      .select(col(key), col("cnt"),
        expr("cnt * 1000000 div total").as("share_ppm"),
        expr(s"(cnt * $parts + total - 1) div total").as("salts"))
      .orderBy(col("cnt").desc, col(key))
      .limit(topK)
  }

  /** Skew-safe equi-join of a big (skewed) frame against a small-ish
    * frame: the big side gets a deterministic salt from its OTHER
    * columns; the small side is replicated once per salt value. The
    * join key becomes (key, salt), splitting each hot key's row group
    * across `salts` reducers. Result set is identical to the unsalted
    * join. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, bigSaltCols: Seq[String]): DataFrame = {
    // salts < 1 would make sequence(0, salts-1) count DOWNWARD and
    // silently replicate with negative salts — fail loudly instead
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val saltedBig = big.withColumn("_salt",
      salt(salts, bigSaltCols.map(col): _*))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
