package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.t
import graft.io.CleanCsv
import graft.quality.Rules
import graft.quality.Rules._
import graft.scd2.Scd2
import graft.silver.Silver
import graft.schema.Registries._

/** Pipeline-operator semantics (SURVEY.md §2.a) exercised over the
  * driver's synthetic tables with DuckDB oracles — each query runs the
  * REAL library operator (CleanCsv.cleanCell, Rules.errorFor,
  * Scd2.mergeOnKeys, Silver.castExpr, Rules.multiFormatDate…) against
  * values synthesized from testdata columns, with the oracle spelling
  * out the same semantics in ANSI SQL.
  */
object PipelineQ {

  type Fn = (SparkSession, String) => DataFrame

  /** #5 cell cleaning: empty / ND-codes / No-Collateral → null,
    * else lower(trim). */
  private val p01: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val cell = when($"l_linenumber" % 4 === 0, lit(""))
        .when($"l_linenumber" % 4 === 1, concat(lit("ND"), $"l_returnflag"))
        .when($"l_linenumber" % 4 === 2, lit("No Collateral"))
        .otherwise(concat(lit("  "), upper($"l_returnflag"), lit("  ")))
      t(s, d, "lineitem")
        .withColumn("cleaned", CleanCsv.cleanCell(cell))
        .groupBy($"cleaned")
        .agg(count(lit(1)).as("n"))
        .orderBy($"cleaned".asc_nulls_first)
    },
    """SELECT cleaned, COUNT(*) AS n FROM (
      |  SELECT CASE WHEN trim(cell) = '' OR starts_with(cell, 'ND')
      |                   OR cell = 'No Collateral' THEN NULL
      |              ELSE lower(trim(cell)) END AS cleaned
      |  FROM (SELECT CASE WHEN l_linenumber % 4 = 0 THEN ''
      |                    WHEN l_linenumber % 4 = 1 THEN 'ND' || l_returnflag
      |                    WHEN l_linenumber % 4 = 2 THEN 'No Collateral'
      |                    ELSE '  ' || upper(l_returnflag) || '  ' END AS cell
      |        FROM lineitem))
      |GROUP BY cleaned ORDER BY cleaned ASC NULLS FIRST""".stripMargin)

  /** #6 SCD2 bookkeeping: keys-only md5 checksum + part derivation. */
  private val p02: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .select(
          $"o_orderkey",
          md5(concat($"o_orderkey", $"o_orderstatus").cast("binary"))
            .as("checksum"),
          regexp_replace(
            concat($"o_orderstatus", lit("_"),
              to_date($"o_orderdate").cast("string")), "-", "").as("part"),
          lit(1).cast("int").as("iscurrent"))
        .orderBy($"o_orderkey")
    },
    """SELECT o_orderkey,
      |  md5(CAST(o_orderkey AS VARCHAR) || o_orderstatus) AS checksum,
      |  regexp_replace(o_orderstatus || '_' ||
      |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '-', '', 'g') AS part,
      |  CAST(1 AS INTEGER) AS iscurrent
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** #12 current-version scan: latest version per key wins, bookkeeping
    * dropped (versions simulated from the events stream). */
  private val p03: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts".desc, $"event_id".desc)
      t(s, d, "events")
        .withColumn("iscurrent", when(row_number().over(w) === 1, 1).otherwise(0))
        .filter($"iscurrent" === 1)
        .select($"user_id", $"event_type", $"value")
        .orderBy($"user_id", $"event_type")
    },
    """SELECT user_id, event_type, value
      |FROM (SELECT user_id, event_type, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |          ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin)

  /** #9 SCD2 merge (the repaired operator): old snapshot = a customer's
    * last 1995 order, new snapshot = last 1996 order; checksum over
    * (custkey, orderstatus) so a status change expires the old version. */
  private val p04: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      def snap(y: Int): DataFrame = {
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey".desc)
        t(s, d, "orders").filter(year($"o_orderdate") === y)
          .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select(
            $"o_custkey".as("k"),
            md5(concat($"o_custkey", $"o_orderstatus").cast("binary")).as("checksum"),
            $"o_orderstatus".as("status"),
            lit(1).cast("int").as("iscurrent"),
            lit(null).cast("timestamp").as("valid_to"))
      }
      Scd2.mergeOnKeys(snap(1995), snap(1996), Seq("k"))
        .select($"k", $"iscurrent", $"checksum", $"status")
        .orderBy($"k", $"iscurrent", $"checksum")
    },
    """WITH old AS (
      |  SELECT o_custkey AS k,
      |         md5(CAST(o_custkey AS VARCHAR) || o_orderstatus) AS checksum,
      |         o_orderstatus AS status
      |  FROM orders WHERE year(o_orderdate) = 1995
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) = 1),
      |new AS (
      |  SELECT o_custkey AS k,
      |         md5(CAST(o_custkey AS VARCHAR) || o_orderstatus) AS checksum,
      |         o_orderstatus AS status
      |  FROM orders WHERE year(o_orderdate) = 1996
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) = 1)
      |SELECT k, iscurrent, checksum, status FROM (
      |  -- old survives (unchanged match or no match)
      |  SELECT o.k, 1 AS iscurrent, o.checksum, o.status
      |  FROM old o LEFT JOIN new n ON o.k = n.k
      |  WHERE n.k IS NULL OR o.checksum = n.checksum
      |  UNION ALL
      |  -- old expired by a changed new version
      |  SELECT o.k, 0 AS iscurrent, o.checksum, o.status
      |  FROM old o JOIN new n ON o.k = n.k
      |  WHERE o.checksum <> n.checksum
      |  UNION ALL
      |  -- new inserted (unmatched or changed)
      |  SELECT n.k, 1 AS iscurrent, n.checksum, n.status
      |  FROM new n LEFT JOIN old o ON n.k = o.k
      |  WHERE o.k IS NULL OR o.checksum <> n.checksum
      |) ORDER BY k, iscurrent, checksum""".stripMargin)

  /** #13/#14 validation profile: number-coerce, bounded datetime and
    * enum rules over stringified lineitem columns; failed-rule columns
    * reported per row class.
    *
    * The repartition decouples the CPU-heavy per-row rule evaluation
    * (~2 µs/row for the 3-format datetime parse) from the SCAN's
    * split granularity: a 12 MB single file yields 3 input tasks
    * under the default maxPartitionBytes, which serializes the parse
    * on a 32-core box (measured: 6 M rows in 27 natural splits beat
    * 600 k rows in 3). On a real cluster the file count provides this
    * parallelism; the explicit exchange states the intent. */
  private val p05: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val base = t(s, d, "lineitem").select(
          $"l_returnflag".as("flag_s"),
          $"l_quantity".cast("string").as("qty_s"),
          to_date($"l_shipdate").cast("string").as("ship_s"))
        .repartition(s.sessionState.conf.numShufflePartitions)
      val schema = Map(
        "flag_s" -> ColumnRule(TString, allowed = Some(Seq("A", "N"))),
        "qty_s" -> ColumnRule(TNumber, coerce = true),
        "ship_s" -> ColumnRule(TDatetime, coerce = true,
          minDate = Some("1994-01-01"), maxDate = Some("1998-06-30")))
      val failedCols = concat_ws(",",
        schema.toSeq.sortBy(_._1).map { case (n, r) =>
          when(Rules.errorFor(n, r).isNotNull, lit(n)) }: _*)
      base.withColumn("failed_cols", failedCols)
        .withColumn("valid", $"failed_cols" === "")
        .groupBy($"valid", $"failed_cols")
        .agg(count(lit(1)).as("n"))
        .orderBy($"valid", $"failed_cols")
    },
    """SELECT valid, failed_cols, COUNT(*) AS n FROM (
      |  SELECT concat_ws(',',
      |    CASE WHEN flag_s NOT IN ('A', 'N') THEN 'flag_s' END,
      |    CASE WHEN TRY_CAST(qty_s AS DOUBLE) IS NULL THEN 'qty_s' END,
      |    CASE WHEN TRY_CAST(ship_s AS DATE) IS NULL
      |              OR TRY_CAST(ship_s AS DATE) < DATE '1994-01-01'
      |              OR TRY_CAST(ship_s AS DATE) > DATE '1998-06-30'
      |         THEN 'ship_s' END) AS failed_cols,
      |    (concat_ws(',',
      |    CASE WHEN flag_s NOT IN ('A', 'N') THEN 'flag_s' END,
      |    CASE WHEN TRY_CAST(qty_s AS DOUBLE) IS NULL THEN 'qty_s' END,
      |    CASE WHEN TRY_CAST(ship_s AS DATE) IS NULL
      |              OR TRY_CAST(ship_s AS DATE) < DATE '1994-01-01'
      |              OR TRY_CAST(ship_s AS DATE) > DATE '1998-06-30'
      |         THEN 'ship_s' END) = '') AS valid
      |  FROM (SELECT l_returnflag AS flag_s,
      |               CAST(l_quantity AS VARCHAR) AS qty_s,
      |               CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_s
      |        FROM lineitem))
      |GROUP BY valid, failed_cols ORDER BY valid, failed_cols""".stripMargin)

  /** #15 cast normalization: y/n→bool (null→false quirk), decimal-
    * pinned 2-dp rounding, int cast, default date parse. */
  private val p06: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val base = t(s, d, "events").select(
        $"event_id",
        when($"event_type" === "click", lit("y"))
          .when($"event_type" === "view", lit("n"))
          .otherwise(lit(null).cast("string")).as("b_s"),
        // decimal-domain multiply + explicit HALF_UP round: a double
        // product like 68.5*1.337 = 91.5845 sits exactly on the 3-dp
        // boundary, where Spark's double→decimal cast (exact binary,
        // 91.58449…) and DuckDB's (shortest string, "91.5845") round
        // apart; value itself is ≤2 dp so ITS cast is boundary-free
        round($"value".cast("decimal(18,3)") * lit(1.337).cast("decimal(4,3)"), 3)
          .cast("decimal(18,3)").cast("string").as("d_s"),
        substring($"props", 8, 2).as("i_s"),
        date_format($"ts", "yyyy-MM-dd").as("dt_s"))
      base.select(
        $"event_id",
        Silver.castExpr($"b_s", DBool).as("b"),
        round($"d_s".cast("decimal(18,3)"), 2).cast("double").as("dv"),
        Silver.castExpr($"i_s", DInt).as("i"),
        Silver.castExpr($"dt_s", DDate).as("dt"))
        .orderBy($"event_id")
    },
    """SELECT event_id,
      |  CASE WHEN b_s = 'y' THEN true ELSE false END AS b,
      |  CAST(ROUND(CAST(d_s AS DECIMAL(18,3)), 2) AS DOUBLE) AS dv,
      |  TRY_CAST(i_s AS INTEGER) AS i,
      |  CAST(dt_s AS DATE) AS dt
      |FROM (SELECT event_id,
      |        CASE WHEN event_type = 'click' THEN 'y'
      |             WHEN event_type = 'view' THEN 'n' END AS b_s,
      |        CAST(CAST(ROUND(CAST(value AS DECIMAL(18,3))
      |               * CAST(1.337 AS DECIMAL(4,3)), 3) AS DECIMAL(18,3))
      |             AS VARCHAR) AS d_s,
      |        substr(props, 8, 2) AS i_s,
      |        strftime(ts, '%Y-%m-%d') AS dt_s
      |      FROM events)
      |ORDER BY event_id""".stripMargin)

  /** #16 null-topic row drop: na.drop("all", subset). */
  private val p07: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select($"event_id",
          when($"value" > 10.0, $"value").as("a"),
          when($"event_type" === "click", lit(1)).as("b"))
        .na.drop("all", Seq("a", "b"))
        .orderBy($"event_id")
    },
    """SELECT event_id, a, b FROM (
      |  SELECT event_id,
      |    CASE WHEN value > 10.0 THEN value END AS a,
      |    CASE WHEN event_type = 'click' THEN 1 END AS b
      |  FROM events)
      |WHERE NOT (a IS NULL AND b IS NULL) ORDER BY event_id""".stripMargin)

  /** #14's 3-granularity date parser over mixed-granularity strings. */
  private val p08: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ds = when($"o_orderkey" % 3 === 0, date_format($"o_orderdate", "yyyy"))
        .when($"o_orderkey" % 3 === 1, date_format($"o_orderdate", "yyyy-MM"))
        .otherwise(date_format($"o_orderdate", "yyyy-MM-dd"))
      t(s, d, "orders")
        .withColumn("parsed", Rules.multiFormatDate(ds))
        .groupBy($"parsed")
        .agg(count(lit(1)).as("n"))
        .orderBy($"parsed")
    },
    """SELECT parsed, COUNT(*) AS n FROM (
      |  SELECT CASE
      |    WHEN length(ds) - length(replace(ds, '-', '')) = 2
      |      THEN CAST(strptime(ds, '%Y-%m-%d') AS DATE)
      |    WHEN length(ds) - length(replace(ds, '-', '')) = 1
      |      THEN CAST(strptime(ds, '%Y-%m') AS DATE)
      |    ELSE CAST(strptime(ds, '%Y') AS DATE) END AS parsed
      |  FROM (SELECT CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y')
      |                    WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m')
      |                    ELSE strftime(o_orderdate, '%Y-%m-%d') END AS ds
      |        FROM orders))
      |GROUP BY parsed ORDER BY parsed""".stripMargin)

  val all: Seq[(String, (Fn, Option[String]))] = Seq(
    "p01_cell_clean" -> (p01._1, Some(p01._2)),
    "p02_scd2_bookkeeping" -> (p02._1, Some(p02._2)),
    "p03_current_version_scan" -> (p03._1, Some(p03._2)),
    "p04_scd2_merge" -> (p04._1, Some(p04._2)),
    "p05_validation_profile" -> (p05._1, Some(p05._2)),
    "p06_cast_normalize" -> (p06._1, Some(p06._2)),
    "p07_null_topic_drop" -> (p07._1, Some(p07._2)),
    "p08_multiformat_date" -> (p08._1, Some(p08._2)),
  )
}
