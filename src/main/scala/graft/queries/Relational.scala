package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.{t, dec, dsum}

/** Relational query surface (SURVEY.md §2.b): scans, filters, joins,
  * aggregations, windows, sorts/top-k, set ops, scalar/date/array
  * functions, rollup/cube — each paired with an ANSI-SQL oracle that
  * DuckDB runs over the same parquet tables.
  *
  * Determinism rules (driver hash-compares values):
  *  - every SUM/AVG over doubles goes through DECIMAL(18,2) (see
  *    [[graft.tables]]);
  *  - every output has a total ORDER BY (Catalyst's EliminateSorts
  *    drops it under Bench's count(), so it costs nothing there);
  *  - DuckDB-side casts pin BIGINT-vs-INT and TIMESTAMP precision
  *    differences.
  */
object Relational {

  type Fn = (SparkSession, String) => DataFrame

  /** TPC-H Q1-shaped pricing summary: groupBy + sum/avg/count. */
  private val q01: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(dec($"l_extendedprice") * dec(lit(1.0) - $"l_discount"))
            .cast("double").as("sum_disc_price"),
          (sum(dec($"l_quantity")).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** Selective filter + narrow projection (parquet pushdown path). */
  private val q02: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_quantity" > 49.0 &&
          $"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
          $"l_discount" <= 0.02)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity > 49.0 AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_discount <= 0.02
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** TPC-H Q5-shaped star join: revenue per nation in one region. */
  private val q03: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(su, $"l_suppkey" === $"s_suppkey" &&
          $"c_nationkey" === $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(sum(dec($"l_extendedprice") * dec(lit(1.0) - $"l_discount"))
          .cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    },
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin)

  /** Broadcast dimension join: revenue by part brand. */
  private val q04: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(dsum($"l_extendedprice").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"p_brand")
    },
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin)

  /** Left-semi join (EXISTS): customers having a big order, per segment. */
  private val q05: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val big = t(s, d, "orders").filter($"o_totalprice" > 300000.0)
      t(s, d, "customer")
        .join(big, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_mktsegment")
    },
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  /** Left-anti join (NOT EXISTS): customers without orders, per nation. */
  private val q06: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(t(s, d, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_nationkey")
    },
    """SELECT c_nationkey, COUNT(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)

  /** Ranking window: each customer's single most expensive order. */
  private val q07: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey")
    },
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders) WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin)

  /** Running-total window: cumulative revenue per supplier over time. */
  private val q08: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      // the synthetic data contains duplicate (orderkey, linenumber)
      // rows, so the summed column itself joins the window order: rows
      // tied on EVERY order key then have equal addends, making the
      // running-sum multiset engine-independent
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .withColumn("running_rev",
          sum(dec($"l_extendedprice")).over(w).cast("double"))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"running_rev")
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
    },
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_rev
      |FROM lineitem
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)

  /** lag/lead window: mean inter-event value delta per event type. */
  private val q09: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, d, "events")
        .withColumn("delta", dec($"value") - dec(lag($"value", 1).over(w)))
        .groupBy($"event_type")
        .agg((sum($"delta").cast("double") / count($"delta")).as("avg_delta"),
          count($"delta").as("n_deltas"))
        .orderBy($"event_type")
    },
    """SELECT event_type,
      |  CAST(SUM(delta) AS DOUBLE) / COUNT(delta) AS avg_delta,
      |  COUNT(delta) AS n_deltas
      |FROM (SELECT event_type,
      |        CAST(value AS DECIMAL(18,2)) - CAST(LAG(value, 1) OVER (
      |          PARTITION BY user_id ORDER BY ts, event_id) AS DECIMAL(18,2))
      |          AS delta
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Top-k: 20 most expensive orders (TakeOrderedAndProject). */
  private val q10: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(20)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)

  /** Set ops: (1995 ∩ 1996 buyers) ∪ (1997 buyers ∖ 1995 buyers). */
  private val q11: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      def buyers(y: Int): DataFrame = t(s, d, "orders")
        .filter(year($"o_orderdate") === y).select($"o_custkey")
      buyers(1995).intersect(buyers(1996))
        .union(buyers(1997).except(buyers(1995)))
        .distinct()
        .orderBy($"o_custkey")
    },
    """SELECT o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |  UNION
      |  (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
      |   EXCEPT
      |   SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
      |) ORDER BY o_custkey""".stripMargin)

  /** Distinct projection (dropDuplicates on a column subset). */
  private val q12: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .select($"l_returnflag", $"l_linestatus")
        .dropDuplicates()
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    """SELECT DISTINCT l_returnflag, l_linestatus
      |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** ROLLUP hierarchy totals. */
  private val q13: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)

  /** CUBE over order status × priority. */
  private val q14: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    },
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** Scalar string functions: md5 / concat / substr / case / regex. */
  private val q15: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "supplier")
        .select(
          $"s_suppkey",
          md5($"s_name".cast("binary")).as("name_md5"),
          concat($"s_name", lit("|"), upper($"s_name")).as("tagged"),
          substring($"s_name", 1, 8).as("prefix8"),
          length($"s_name").as("name_len"),
          regexp_replace($"s_name", "[0-9]+", "N").as("name_norm"),
          trim(lower($"s_name")).as("name_clean"))
        .orderBy($"s_suppkey")
    },
    """SELECT s_suppkey,
      |  md5(s_name) AS name_md5,
      |  s_name || '|' || upper(s_name) AS tagged,
      |  substr(s_name, 1, 8) AS prefix8,
      |  CAST(length(s_name) AS INTEGER) AS name_len,
      |  regexp_replace(s_name, '[0-9]+', 'N', 'g') AS name_norm,
      |  trim(lower(s_name)) AS name_clean
      |FROM supplier ORDER BY s_suppkey""".stripMargin)

  /** Date/time functions: extract fields, cast, day arithmetic. */
  private val q16: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .filter($"o_orderstatus" === "F")
        .select(
          $"o_orderkey",
          year($"o_orderdate").as("o_year"),
          month($"o_orderdate").as("o_month"),
          dayofmonth($"o_orderdate").as("o_day"),
          quarter($"o_orderdate").as("o_quarter"),
          to_date($"o_orderdate").as("o_date"),
          date_add(to_date($"o_orderdate"), 30).as("due_date"),
          datediff(to_date(lit("2000-01-01")), to_date($"o_orderdate"))
            .as("days_to_y2k"))
        .orderBy($"o_orderkey")
    },
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
      |  CAST(day(o_orderdate) AS INTEGER) AS o_day,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
      |  CAST(o_orderdate AS DATE) AS o_date,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INTEGER) AS days_to_y2k
      |FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin)

  /** Tumbling 1-hour event-time window (batch form of the streaming agg). */
  private val q17: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select(graft.tables.ntz($"w.start").as("hour_ts"), $"event_type", $"n", $"sum_value")
        .orderBy($"hour_ts", $"event_type")
    },
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin)

  /** Array functions: split + explode token counts. */
  private val q18: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "part")
        .select(explode(split($"p_name", " ")).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("n"))
        .orderBy($"token")
    },
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
      |GROUP BY token ORDER BY token""".stripMargin)

  /** Distinct-count + min/max aggregates. */
  private val q19: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          count_distinct($"o_custkey").as("n_custs"),
          min($"o_totalprice").as("min_price"),
          max($"o_totalprice").as("max_price"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    },
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_custs,
      |  MIN(o_totalprice) AS min_price,
      |  MAX(o_totalprice) AS max_price,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** HyperLogLog approximate distinct, gated SELF-VERIFYINGLY: the
    * estimate itself is engine-specific (no cross-engine oracle), so
    * the query emits the EXACT distinct counts plus within-5% booleans
    * comparing the HLL estimate against them, and the oracle asserts
    * the same exact counts with the booleans as literal TRUE — an
    * estimate drifting outside 5% flips a boolean and hash-fails the
    * row (round-3 verdict item 2). The sketch runs at rsd 1% so the
    * 5% gate is far outside its deterministic error envelope; the
    * exact counts double as the verification baseline (at scale the
    * sketch is the product, the exact side is the gate's cost). */
  private val q20: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .agg(
          countDistinct($"l_partkey").as("n_parts_exact"),
          countDistinct($"l_orderkey").as("n_orders_exact"),
          approx_count_distinct($"l_partkey", rsd = 0.01).as("ap"),
          approx_count_distinct($"l_orderkey", rsd = 0.01).as("ao"))
        .select($"n_parts_exact", $"n_orders_exact",
          (abs($"ap" - $"n_parts_exact") * 20 <= $"n_parts_exact")
            .as("parts_within_5pct"),
          (abs($"ao" - $"n_orders_exact") * 20 <= $"n_orders_exact")
            .as("orders_within_5pct"))
    },
    """SELECT COUNT(DISTINCT l_partkey)::BIGINT AS n_parts_exact,
      |  COUNT(DISTINCT l_orderkey)::BIGINT AS n_orders_exact,
      |  TRUE AS parts_within_5pct, TRUE AS orders_within_5pct
      |FROM lineitem""".stripMargin)

  /** JSON extraction from the events props column. */
  private val q21: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select($"event_id",
          get_json_object($"props", "$.k").as("k_str"),
          get_json_object($"props", "$.k").cast("int").as("k_int"),
          get_json_object($"props", "$.missing").as("k_missing"))
        .filter($"k_int" > 50)
        .orderBy($"event_id")
    },
    """SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_str,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
      |  json_extract_string(props, '$.missing') AS k_missing
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
      |ORDER BY event_id""".stripMargin)

  /** LIKE / regexp predicates and extraction. */
  private val q22: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "part")
        .filter($"p_name".like("%red%") || $"p_name".rlike("^blue"))
        .select($"p_partkey", $"p_name",
          regexp_extract($"p_name", "([a-z]+)$", 1).as("last_word"))
        .orderBy($"p_partkey")
    },
    """SELECT p_partkey, p_name,
      |  coalesce(regexp_extract(p_name, '([a-z]+)$', 1), '') AS last_word
      |FROM part
      |WHERE p_name LIKE '%red%' OR regexp_matches(p_name, '^blue')
      |ORDER BY p_partkey""".stripMargin)

  /** Conditional scalar functions: coalesce/nullif/greatest/least. */
  private val q23: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .select($"c_custkey",
          coalesce(nullif($"c_mktsegment", lit("BUILDING")), lit("OTHER"))
            .as("segment_norm"),
          greatest($"c_acctbal", lit(0.0)).as("bal_floor"),
          least($"c_nationkey", lit(10)).as("nation_cap"),
          when($"c_acctbal" < 0, "overdrawn")
            .when($"c_acctbal" < 1000, "low").otherwise("high").as("bal_band"))
        .orderBy($"c_custkey")
    },
    """SELECT c_custkey,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_norm,
      |  greatest(c_acctbal, 0.0) AS bal_floor,
      |  least(c_nationkey, 10)::INT AS nation_cap,
      |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
      |       WHEN c_acctbal < 1000 THEN 'low' ELSE 'high' END AS bal_band
      |FROM customer ORDER BY c_custkey""".stripMargin)

  /** Correlated-subquery shape (TPC-H Q17 style): lineitems whose
    * quantity is below 20% of their part's average quantity. */
  private val q24: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      val avgQty = li.groupBy($"l_partkey".as("pk"))
        .agg((sum(dec($"l_quantity")).cast("double") / count(lit(1)))
          .as("avg_qty"))
      li.join(broadcast(avgQty), $"l_partkey" === $"pk")
        .filter($"l_quantity" < $"avg_qty" * 0.2)
        .groupBy($"l_partkey")
        .agg(dsum($"l_extendedprice").as("below_avg_revenue"),
          count(lit(1)).as("n"))
        .orderBy($"l_partkey")
    },
    """SELECT l_partkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS below_avg_revenue,
      |  COUNT(*) AS n
      |FROM lineitem l1
      |WHERE l_quantity < 0.2 * (
      |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)

  /** Pivot: returnflag counts spread across linestatus columns. */
  private val q25: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnRenamed("F", "n_f").withColumnRenamed("O", "n_o")
        .orderBy($"l_returnflag")
    },
    """SELECT l_returnflag,
      |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
      |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Exact interpolated percentiles (median / p90). Both engines use
    * the (n-1)*p linear-interpolation definition over exact input
    * doubles, so values agree bit-for-bit. */
  private val q26: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy($"o_orderstatus")
        .agg(
          percentile($"o_totalprice", lit(0.5)).as("median_price"),
          percentile($"o_totalprice", lit(0.9)).as("p90_price"))
        .orderBy($"o_orderstatus")
    },
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.5) AS median_price,
      |  quantile_cont(o_totalprice, 0.9) AS p90_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  /** Ordered string aggregation. */
  private val q27: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "nation")
        .groupBy($"n_regionkey")
        .agg(concat_ws(",", sort_array(collect_list($"n_name")))
          .as("nations"))
        .orderBy($"n_regionkey")
    },
    """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)

  /** Window frames beyond rows: RANGE frame over event-time seconds
    * (trailing 1-hour activity), plus ntile and first_value. */
  private val q28: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .withColumn("epoch_s", unix_timestamp($"ts"))
      val wRange = Window.partitionBy($"user_id").orderBy($"epoch_s")
        .rangeBetween(-3600, Window.currentRow)
      val wUser = Window.partitionBy($"user_id").orderBy($"epoch_s", $"event_id")
      ev.select(
          $"event_id", $"user_id",
          count(lit(1)).over(wRange).as("n_last_hour"),
          ntile(4).over(wUser).as("quartile"),
          first($"event_type").over(wUser).as("first_type"))
        .orderBy($"event_id")
    },
    """SELECT event_id, user_id,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_s
      |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour,
      |  CAST(NTILE(4) OVER (PARTITION BY user_id ORDER BY epoch_s, event_id)
      |    AS INTEGER) AS quartile,
      |  FIRST_VALUE(event_type) OVER (PARTITION BY user_id
      |    ORDER BY epoch_s, event_id) AS first_type
      |-- floor, not cast: Spark's unix_timestamp truncates sub-second
      |-- parts while DuckDB's BIGINT cast rounds them
      |FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events)
      |ORDER BY event_id""".stripMargin)

  /** GROUPING SETS directly (rollup/cube are q13/q14): chosen subsets
    * with grouping() flags to disambiguate the null rows. */
  private val q29: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupingSets(
          Seq(Seq($"o_orderstatus", $"o_orderpriority"),
            Seq($"o_orderstatus"), Seq()),
          $"o_orderstatus", $"o_orderpriority")
        .agg(
          grouping($"o_orderstatus").cast("int").as("g_status"),
          grouping($"o_orderpriority").cast("int").as("g_prio"),
          count(lit(1)).as("n"),
          dsum($"o_totalprice").as("total"))
        .orderBy($"g_status", $"g_prio", $"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    },
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), ())
      |ORDER BY g_status, g_prio, o_orderstatus ASC NULLS FIRST,
      |  o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** Distribution window functions: percent_rank / cume_dist over
    * supplier account balances per nation. */
  private val q30: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"s_nationkey")
        .orderBy($"s_acctbal", $"s_suppkey")
      t(s, d, "supplier").select(
          $"s_suppkey", $"s_nationkey",
          (floor(percent_rank().over(w) * 1e6 + 0.5) / 1e6).as("pr6"),
          (floor(cume_dist().over(w) * 1e6 + 0.5) / 1e6).as("cd6"))
        .orderBy($"s_suppkey")
    },
    """SELECT s_suppkey, s_nationkey,
      |  floor(PERCENT_RANK() OVER (PARTITION BY s_nationkey
      |    ORDER BY s_acctbal, s_suppkey) * 1e6 + 0.5) / 1e6 AS pr6,
      |  floor(CUME_DIST() OVER (PARTITION BY s_nationkey
      |    ORDER BY s_acctbal, s_suppkey) * 1e6 + 0.5) / 1e6 AS cd6
      |FROM supplier ORDER BY s_suppkey""".stripMargin)

  /** Keep-latest-per-key windowed dedup — the "current record" pattern
    * every ETL runs (row_number over (key, recency) = 1). */
  private val q31: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts".desc, $"event_id".desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type", $"event_id",
          graft.tables.ntz($"ts").as("ts"), $"value")
        .orderBy($"user_id", $"event_type")
    },
    """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)

  /** Textual-SQL surface: the SAME SQL string runs through
    * spark.sql(...) and the DuckDB oracle (TPC-H Q6 shape, decimal-
    * pinned). Demonstrates the engine answers ANSI SQL text, not just
    * the DataFrame API. */
  private val q32Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  private val q32: (Fn, String) = (
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(q32Sql)
    },
    q32Sql)

  /** Three-valued-logic corner coverage: null-safe equality (<=> vs
    * IS NOT DISTINCT FROM), null-propagating comparison, COALESCE,
    * NULLIF, and a nullable boolean OR — over planted-null columns. */
  private val q33: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val b = t(s, d, "customer").select($"c_custkey",
        when($"c_custkey" % 3 === 0, $"c_name").as("s"),
        when($"c_custkey" % 5 === 0, lit(null).cast("double"))
          .otherwise($"c_acctbal").as("v"))
      val b2 = b.withColumn("v2", when($"c_custkey" % 2 === 0, $"v"))
      b2.select($"c_custkey",
          ($"v" <=> $"v2").as("nullsafe_eq"),
          ($"v" === $"v2").isNull.as("plain_eq_is_null"),
          coalesce($"v", lit(-1)).as("v_coal"),
          nullif(($"c_custkey" % 3).cast("int"), lit(0)).as("nz"),
          ($"v" > 100 || $"s".isNull).as("tri"))
        .orderBy($"c_custkey")
    },
    """WITH b AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 3 = 0 THEN c_name END AS s,
      |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS v
      |  FROM customer),
      |b2 AS (SELECT *, CASE WHEN c_custkey % 2 = 0 THEN v END AS v2 FROM b)
      |SELECT c_custkey,
      |  (v IS NOT DISTINCT FROM v2) AS nullsafe_eq,
      |  ((v = v2) IS NULL) AS plain_eq_is_null,
      |  COALESCE(v, -1) AS v_coal,
      |  NULLIF(CAST(c_custkey % 3 AS INT), 0) AS nz,
      |  (v > 100 OR s IS NULL) AS tri
      |FROM b2 ORDER BY c_custkey""".stripMargin)

  /** Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL):
    * multiplicity must survive — counts per key prove it. */
  private val q34: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      def yr(y: Int) = li.filter(year($"l_shipdate") === y).select($"l_partkey")
      yr(1995).intersectAll(yr(1996)).withColumn("op", lit("both"))
        .unionAll(yr(1995).exceptAll(yr(1996)).withColumn("op", lit("only95")))
        .groupBy($"l_partkey", $"op").agg(count(lit(1)).as("n"))
        .orderBy($"l_partkey", $"op")
    },
    """WITH y95 AS (SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1995),
      |y96 AS (SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996),
      |bag AS (
      |  SELECT l_partkey, 'both' AS op FROM
      |    (SELECT * FROM y95 INTERSECT ALL SELECT * FROM y96)
      |  UNION ALL
      |  SELECT l_partkey, 'only95' AS op FROM
      |    (SELECT * FROM y95 EXCEPT ALL SELECT * FROM y96))
      |SELECT l_partkey, op, COUNT(*)::BIGINT AS n FROM bag
      |GROUP BY l_partkey, op ORDER BY l_partkey, op""".stripMargin)

  val all: Seq[(String, (Fn, String))] = Seq(
    "q01_agg_pricing_summary" -> q01,
    "q02_filter_pushdown" -> q02,
    "q03_join_revenue_by_nation" -> q03,
    "q04_broadcast_join_brand" -> q04,
    "q05_semi_join_exists" -> q05,
    "q06_anti_join_not_exists" -> q06,
    "q07_window_top_order_per_cust" -> q07,
    "q08_window_running_revenue" -> q08,
    "q09_window_lag_event_delta" -> q09,
    "q10_topk_orders" -> q10,
    "q11_setops_buyers" -> q11,
    "q12_distinct_flags" -> q12,
    "q13_rollup_qty" -> q13,
    "q14_cube_orders" -> q14,
    "q15_scalar_string_funcs" -> q15,
    "q16_date_funcs" -> q16,
    "q17_events_hourly_window" -> q17,
    "q18_array_token_counts" -> q18,
    "q19_agg_distinct_minmax" -> q19,
    "q20_approx_count_distinct" -> q20,
    "q21_json_extract" -> q21,
    "q22_like_regexp" -> q22,
    "q23_conditional_funcs" -> q23,
    "q24_correlated_subquery" -> q24,
    "q25_pivot" -> q25,
    "q26_percentiles" -> q26,
    "q27_string_agg" -> q27,
    "q28_window_frames" -> q28,
    "q29_grouping_sets" -> q29,
    "q30_window_distribution" -> q30,
    "q31_keep_latest" -> q31,
    "q32_sql_text" -> q32,
    "q33_null_semantics" -> q33,
    "q34_setops_bag" -> q34,
  )
}
