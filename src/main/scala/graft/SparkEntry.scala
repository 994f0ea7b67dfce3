package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{queries => q}

/** How much work the 22 sized extension queries do. The correctness
  * gate runs [[Sizing.Gate]]; Bench, PhaseProfile and `Audit time` run
  * [[Harness.benchSizing]].
  *
  * @param panelCap > 0 caps each sparse %97 ANN query panel to its
  *   `panelCap` smallest ids; 0 keeps the full panel. The capped panel
  *   keeps sf-ramp bench points measuring the CORPUS term instead of a
  *   corpus×panel conflation (r8 verdict: x172/x178/x181's panel grows
  *   21 → 206 across the sf0.1 → sf1 decade, turning their decade
  *   ratios into panel-growth artifacts). Deterministic (TakeOrdered on
  *   the id) and recall-neutral: every surviving query still runs
  *   against the full corpus.
  * @param truthSampleBits > 0 runs the banding/recall audits on a
  *   deterministic 1/2^bits sub-corpus (sampled-truth mode, same plan
  *   shape); 0 audits the exhaustive truth.
  */
final case class Sizing(panelCap: Int, truthSampleBits: Int) {
  def capPanel(panel: DataFrame, id: String): DataFrame =
    if (panelCap > 0) panel.orderBy(col(id)).limit(panelCap) else panel
}

object Sizing {
  /** Full panels and exhaustive truth: what the oracle compares. */
  val Gate: Sizing = Sizing(0, 0)
}

/** Driver contract — see SURVEY.md §7.
  *
  * Query registry aggregated from the per-category query objects under
  * [[graft.queries]]. Every entry pairs its Spark query with the DuckDB
  * SQL in [[oracleSql]] that its result is hash-compared against.
  */
object SparkEntry {

  type Fn = (SparkSession, String) => DataFrame

  private def registry(sizing: Sizing): Seq[(String, (Fn, String))] =
    q.Relational.all ++ q.PipelineQ.all ++ q.ExtQ.all(sizing)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, at the gate
    * sizing. */
  def queries: Map[String, Fn] = queriesAt(Sizing.Gate)

  /** The same names as [[queries]], with the sized queries at `sizing`. */
  def queriesAt(sizing: Sizing): Map[String, Fn] =
    registry(sizing).map { case (n, (fn, _)) => n -> fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry(Sizing.Gate).map { case (n, (_, sql)) => n -> sql }.toMap
}
