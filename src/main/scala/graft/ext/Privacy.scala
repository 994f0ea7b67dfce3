package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Privacy auditing for training corpora: k-anonymity and
  * l-diversity (Sweeney, IJUFKS 2002; Machanavajjhala et al., ICDE
  * 2006) over declared quasi-identifier columns — the re-identification
  * risk check a dataset release runs BEFORE the [[Redact]] pass is
  * declared sufficient. Redaction strips direct identifiers; these
  * audits catch the indirect ones: a (zip, birth-year, segment)
  * combination shared by fewer than k rows re-identifies its members
  * by linkage even with names gone, and a k-anonymous group whose
  * sensitive values are all identical still leaks the sensitive
  * attribute (the homogeneity attack l-diversity measures).
  *
  * Both audits are pure aggregations: one map-combined groupBy over
  * the quasi-identifier tuple (plus one count-distinct for
  * l-diversity) — scan speed at 100 TB, no joins, no windows, and the
  * group count is bounded by the QI-combination cardinality, not the
  * row count. Exact integer outputs, DuckDB-mirrorable (x111).
  */
object Privacy {

  /** Per-QI-combination row counts with the k-anonymity verdict:
    * (qis..., n_rows, risky) where risky ⇔ 0 < n_rows < k. Suppress
    * or generalize risky groups before release; the aggregate
    * `SUM(n_rows) WHERE risky` is the re-identifiable row count. */
  def kAnonymity(df: DataFrame, qis: Seq[String], k: Long): DataFrame = {
    require(qis.nonEmpty, "at least one quasi-identifier column")
    require(k >= 2, "k < 2 makes every group anonymous")
    df.groupBy(qis.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("risky", col("n_rows") < k)
  }

  /** Distinct-l-diversity per QI group: (qis..., n_rows, n_sensitive,
    * diverse) where diverse ⇔ n_sensitive ≥ l. Groups that are
    * k-anonymous but not diverse leak `sensitive` outright (every
    * member shares the value). Exact count-distinct — for a
    * sketched version at extreme group counts, swap in
    * [[Hll]]/[[Kmv]] per group. */
  def lDiversity(df: DataFrame, qis: Seq[String], sensitive: String,
                 l: Long): DataFrame = {
    require(qis.nonEmpty, "at least one quasi-identifier column")
    require(l >= 2, "l < 2 makes every group diverse")
    df.groupBy(qis.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitive)).as("n_sensitive"))
      .withColumn("diverse", col("n_sensitive") >= l)
  }
}
