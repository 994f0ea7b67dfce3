package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Layout

/** Gold-layer metrics (SURVEY.md §7.2's flagship business query; the
  * reference computes its gold "index metrics" outside the repo —
  * README.md:20-24 — so this is the in-engine equivalent).
  *
  * Reads the silver topic tables and aggregates business measures.
  * All money sums go through DECIMAL(18,2) for reproducibility under
  * any partitioning.
  */
object Gold {

  /** lease_info's country (AL15) beside lease_features' principal
    * (AL56), joined on the asset topic primaries both tables carry;
    * with `parts`, both reads are pruned to those partitions. */
  private def principalRows(spark: SparkSession, lakeRoot: String,
                            parts: Option[Seq[String]]): DataFrame = {
    def topic(name: String) = {
      val df = spark.read.parquet(s"$lakeRoot/silver/assets/$name")
      parts.fold(df)(ps => df.filter(col("part").isin(ps: _*)))
    }
    val (leaseInfo, feats) = (topic("lease_info"), topic("lease_features"))
    val keys = Layout.tape("assets").primaries(leaseInfo.columns.toSeq)
      .filter(c => leaseInfo.columns.contains(c) && feats.columns.contains(c))
    leaseInfo.select((keys.map(col) :+ col("AL15")): _*)
      .join(feats.select((keys.map(col) :+ col("AL56")): _*), keys)
  }

  /** Current principal outstanding (AL56) per country (AL15), from the
    * silver lease_info (AL15) and lease_features (AL56) topic tables,
    * joined on the shared primaries. */
  def principalByCountry(spark: SparkSession, lakeRoot: String): DataFrame =
    principalRows(spark, lakeRoot, None)
      .groupBy(col("AL15").as("country"))
      .agg(
        sum(col("AL56").cast("decimal(18,2)")).cast("double")
          .as("principal_outstanding"),
        count(lit(1)).as("n_leases"))
      .orderBy(col("country").asc_nulls_first)

  /** Incremental maintenance of the principal-by-country metric:
    * a PARTIAL rollup table partitioned by `part` holds per-(part,
    * country) sums; re-ingesting a deal partition refreshes only that
    * partition's slice (partition-pruned silver read + atomic
    * partition publish via [[graft.io.Lake.writePartitioned]] —
    * partition-scoped regardless of session confs), and the serving
    * read is a cheap combine of partials (sum of sums — associative,
    * DECIMAL-exact). A requested partition that refreshes to ZERO rows
    * has its rollup slice deleted rather than left stale. At 100 TB
    * this turns a full-corpus re-aggregation into work proportional
    * to the changed partitions. */
  def refreshPrincipalRollup(spark: SparkSession, lakeRoot: String,
                             rollupRoot: String,
                             parts: Seq[String]): Unit = {
    val partials = principalRows(spark, lakeRoot, Some(parts))
      .groupBy(col("part"), col("AL15").as("country"))
      .agg(sum(col("AL56").cast("decimal(18,2)")).cast("decimal(28,2)")
          .as("principal_partial"),
        count(lit(1)).as("n_leases"))
    val refreshed = partials.localCheckpoint()
    graft.io.Lake.writePartitioned(refreshed, rollupRoot)
    // a requested part that yields no rows means "this slice is now
    // empty" — drop it, don't leave the pre-refresh partial serving
    val nonEmpty = refreshed.select("part").distinct()
      .collect().map(_.getString(0)).toSet
    graft.io.Lake.vacuum(spark, rollupRoot,
      keep = p => nonEmpty.contains(p) || !parts.contains(p))
  }

  /** Serving read over the partial rollup: combine is exact because
    * the partials are DECIMAL and sum is associative. */
  def principalByCountryFromRollup(spark: SparkSession,
                                   rollupRoot: String): DataFrame =
    spark.read.parquet(rollupRoot)
      .groupBy(col("country"))
      .agg(sum(col("principal_partial")).cast("double")
          .as("principal_outstanding"),
        sum(col("n_leases")).as("n_leases"))
      .orderBy(col("country").asc_nulls_first)

  /** Deal-level portfolio summary from deal_info_table. */
  def dealSummary(spark: SparkSession, lakeRoot: String): DataFrame =
    spark.read.parquet(s"$lakeRoot/silver/deal_details/deal_info_table")
      .groupBy(col("CountryCodeOfSecuritisedAsset").as("country"))
      .agg(
        sum(col("CurrentPoolBalance").cast("decimal(18,2)")).cast("double")
          .as("pool_balance"),
        sum(col("NumberOfActiveAssets")).as("active_assets"),
        count(lit(1)).as("n_deals"))
      .orderBy(col("country").asc_nulls_first)
}
