package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import graft.TestSpark

class TemporalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOfJoin: prior match, inclusive tie, and no-prior-row null") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),  // prior click at 09:00
      (2L, 10L, ts("2024-01-01 09:00:00")),  // tie: click AT 09:00 matches
      (3L, 20L, ts("2024-01-01 08:00:00")),  // user 20 has later clicks only
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 09:00:00"), 5.0),
      (101L, 10L, ts("2024-01-01 08:00:00"), 3.0),
      (102L, 20L, ts("2024-01-01 09:30:00"), 7.0),
    ).toDF("event_id", "user_id", "ts", "value")

    val out = Temporal.asOfJoin(left, right, "user_id", "ts", "event_id",
        Seq("event_id", "value"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("asof_event_id")).map(_.longValue)).toMap
    assert(out(1L).contains(100L))   // most recent prior
    assert(out(2L).contains(100L))   // equal-ts inclusive
    assert(out(3L).isEmpty)          // nothing at or before → null
  }

  test("funnel: strict ordering, equal-ts exclusion, partial depths") {
    val ev = Seq(
      // A: clean view→click→purchase chain
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:01:00"), "click"),
      (1L, ts("2024-01-01 10:02:00"), "purchase"),
      // B: click BEFORE the first view and one AT the view instant —
      // neither counts (strict >); the later click does; no purchase
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 09:30:00"), "view"),
      (2L, ts("2024-01-01 09:30:00"), "click"),
      (2L, ts("2024-01-01 11:00:00"), "click"),
      // C: purchase only — never enters the funnel
      (3L, ts("2024-01-01 08:00:00"), "purchase"),
      // D: duplicate views — min wins, depth 1
      (4L, ts("2024-01-01 07:00:00"), "view"),
      (4L, ts("2024-01-01 06:00:00"), "view"),
    ).toDF("user_id", "ts", "event_type")
    val got = Temporal.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.get(2), r.get(3), r.get(4)))).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L)._1 == 3L)
    assert(got(2L)._1 == 2L &&
      got(2L)._3.toString.startsWith("2024-01-01T11:00"))
    assert(got(4L)._1 == 1L &&
      got(4L)._2.toString.startsWith("2024-01-01T06:00"))
  }

  test("funnel windowSec: deadline anchored at t1 cuts late stages") {
    val ev = Seq(
      // A converts fully inside a 1h window
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:20:00"), "click"),
      (1L, ts("2024-01-01 10:59:00"), "purchase"),
      // B clicks inside but purchases after the deadline → depth 2
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 10:30:00"), "click"),
      (2L, ts("2024-01-01 11:30:00"), "purchase"),
      // C's click is exactly AT the deadline (inclusive) → counts
      (3L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 11:00:00"), "click"),
      // D: a second view would have allowed the click, but the anchor
      // is the FIRST view — click is outside its window → depth 1
      (4L, ts("2024-01-01 08:00:00"), "view"),
      (4L, ts("2024-01-01 10:00:00"), "view"),
      (4L, ts("2024-01-01 10:30:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Temporal.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSec = Some(3600L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // unbounded funnel on the same input reaches deeper for B and D
    val unbounded = Temporal.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unbounded(2L) == 3L && unbounded(4L) == 2L)
  }

  test("sessionPaths: gap boundary inclusive, paths capped at maxSteps") {
    val ev = Seq(
      // user 1, session 1: four events — path truncates to first 3
      (1L, ts("2024-01-01 10:00:00"), "a", 1L),
      (1L, ts("2024-01-01 10:10:00"), "b", 2L),
      (1L, ts("2024-01-01 10:20:00"), "c", 3L),
      (1L, ts("2024-01-01 10:25:00"), "d", 4L),
      // user 1, session 2 (70 min after previous event)
      (1L, ts("2024-01-01 11:35:00"), "a", 5L),
      (1L, ts("2024-01-01 11:40:00"), "b", 6L),
      (2L, ts("2024-01-01 10:00:00"), "a", 7L),
      (2L, ts("2024-01-01 10:10:00"), "b", 8L),
      // user 3: exactly the 30-min gap apart — SAME session (diff <= gap)
      (3L, ts("2024-01-01 10:00:00"), "x", 9L),
      (3L, ts("2024-01-01 10:30:00"), "x", 10L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val got = Temporal.sessionPaths(ev, "user_id", "ts", "event_type",
        "event_id", gap = "30 minutes", maxSteps = 3, topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a>b", 2L), ("a>b>c", 1L), ("x>x", 1L)))
  }

  test("trailingWindow: microsecond-exact frame edge, equal-ts peers share") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0, 1L),
      (1L, ts("2024-01-01 10:30:00"), 2.0, 2L),
      // exactly 1h after the first event — inclusive, frame holds all 3
      (1L, ts("2024-01-01 11:00:00"), 4.0, 3L),
      // one microsecond later — the 10:00 event falls out
      (1L, ts("2024-01-01 11:00:00.000001"), 8.0, 4L)
    ).toDF("user_id", "ts", "value", "event_id")
    val got = Temporal.trailingWindow(ev, "user_id", "ts", "value",
        "event_id", windowSec = 3600L)
      .select($"event_id", $"trail_n", $"trail_sum")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((1L, 1.0)))
    assert(got(2L) == ((2L, 3.0)))
    assert(got(3L) == ((3L, 7.0)))
    assert(got(4L) == ((3L, 14.0)))
  }

  test("retention: cohorts by first date, offsets count distinct users") {
    val ev = Seq(
      // user 1: first on Jan 1, active again Jan 2 (twice) and Jan 3
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 09:00:00")),
      (1L, ts("2024-01-02 20:00:00")), (1L, ts("2024-01-03 01:00:00")),
      // user 2: same cohort, returns only on Jan 3
      (2L, ts("2024-01-01 23:00:00")), (2L, ts("2024-01-03 08:00:00")),
      // user 3: Jan 2 cohort, never returns
      (3L, ts("2024-01-02 12:00:00")),
    ).toDF("user_id", "ts")
    val got = Temporal.retention(ev, "user_id", "ts")
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> 2L, // users 1 and 2 on day 0
      ("2024-01-01", 1L) -> 1L, // only user 1 on day 1 (dup day collapsed)
      ("2024-01-01", 2L) -> 2L, // both return on day 2
      ("2024-01-02", 0L) -> 1L))
  }

  test("sessionize merges events within the gap and splits across it") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:20:00"), 2.0),  // within 30min → same session
      (1L, ts("2024-01-01 11:30:00"), 4.0),  // 70min gap → new session
      (2L, ts("2024-01-01 10:00:00"), 8.0),
    ).toDF("user_id", "ts", "value")
    val out = Temporal.sessionize(ev, "user_id", "ts", "value", "30 minutes")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSet
    assert(out == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
  }

  test("sessionSpans: inclusive [first, last] event-time span") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:20:00"), 2.0),
      (1L, ts("2024-01-01 11:30:00"), 4.0),
    ).toDF("user_id", "ts", "value")
    // timestamp_ntz surfaces as LocalDateTime
    val spans = Temporal.sessionSpans(ev, "user_id", "ts", "30 minutes")
      .collect().map(r =>
        (r.getAs[java.time.LocalDateTime]("session_start").toString,
          r.getAs[java.time.LocalDateTime]("session_end").toString,
          r.getAs[Long]("n_events"))).toSet
    assert(spans == Set(
      ("2024-01-01T10:00", "2024-01-01T10:20", 2L),
      ("2024-01-01T11:30", "2024-01-01T11:30", 1L)))
  }

  test("pointInIntervalJoin: bucketed equi-join == naive theta join, no BNLJ") {
    val intervals = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"), "a"),
      (1L, ts("2024-01-01 11:00:00"), ts("2024-01-01 11:30:00"), "b"), // overlaps a
      (2L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), "c"),
    ).toDF("user_id", "lo", "hi", "tag")
    val points = Seq(
      (100L, 1L, ts("2024-01-01 11:15:00")),  // in a AND b
      (101L, 1L, ts("2024-01-01 10:00:00")),  // inclusive start of a
      (102L, 1L, ts("2024-01-01 12:00:00")),  // inclusive end of a
      (103L, 2L, ts("2024-01-01 10:30:00")),  // no interval → dropped
      (104L, 2L, ts("2024-01-01 10:05:00")),  // in c (different key)
    ).toDF("event_id", "user_id", "pts")
    val got = Temporal.pointInIntervalJoin(points, "user_id", "pts",
        intervals, "user_id", "lo", "hi", bucketWidthSec = 900L,
        iPayload = Seq("tag"))
    val expect = Set((100L, "a"), (100L, "b"), (101L, "a"), (102L, "a"),
      (104L, "c"))
    assert(got.collect().map(r =>
      (r.getAs[Long]("event_id"), r.getAs[String]("ival_tag"))).toSet == expect)
    // ...and matches the naive theta join row-for-row
    val naive = points.join(intervals,
      points("user_id") === intervals("user_id") &&
        points("pts") >= intervals("lo") && points("pts") <= intervals("hi"))
      .select(points("event_id"), intervals("tag")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(naive == expect)
    // the bucketed plan is an equi-join, not a nested-loop
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("decayedScore: hand-computed halvings, cap floor, cents rounding") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      ("a", ts("2024-01-10 00:00:00"), 1.0),   // age 0  → w = 2^20
      ("a", ts("2024-01-09 00:00:00"), 1.0),   // age 1d → w = 2^19
      ("a", ts("2024-01-08 12:00:00"), 0.5),   // 1.5d → k=1 → 2^19
      ("b", ts("2023-01-10 00:00:00"), 2.0),   // ancient → capped w = 1
      ("b", ts("2024-01-10 00:00:00"), 0.005)  // cents = floor(0.5+0.5) = 1
    ).toDF("event_type", "ts", "value")
    val got = Temporal.decayedScore(events, "event_type", "ts", "value")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w20 = 1L << 20; val w19 = 1L << 19
    assert(got("a") == ((3L, 100 * w20 + 100 * w19 + 50 * w19)))
    assert(got("b") == ((2L, 200 * 1 + 1 * w20)))
  }

  test("trendSlope: hand-computed integer fraction, degenerate groups") {
    val ev = Seq(
      // user a: y = 100 + 2t cents at t = 0, 10, 20s → slope 2 cents/s
      (1L, ts("2024-01-01 00:00:00"), 1.00),
      (1L, ts("2024-01-01 00:00:10"), 1.20),
      (1L, ts("2024-01-01 00:00:20"), 1.40),
      // user b: single point → undefined slope (den 0)
      (2L, ts("2024-01-01 00:00:00"), 5.0),
      // user c: two points at the SAME second → zero x-variance
      (3L, ts("2024-01-01 00:00:00"), 1.0),
      (3L, ts("2024-01-01 00:00:00"), 9.0)
    ).toDF("user_id", "ts", "value")
    val got = Temporal.trendSlope(ev, "user_id", "ts", "value")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // a: n=3, sx=30, sy=360, sxy=4000, sxx=500 →
    //    num = 3·4000 − 30·360 = 1200; den = 3·500 − 900 = 600 → 2 c/s
    assert(got(1L) == ((3L, 1200L, 600L)))
    assert(got(1L)._2 / got(1L)._3 == 2L)
    assert(got(2L)._3 == 0L && got(3L)._3 == 0L)
  }

  test("gapFill: silent hours materialize as zero rows inside the span only") {
    val events = Seq(
      (1L, ts("2024-01-01 10:15:00"), 1.5),
      (1L, ts("2024-01-01 10:45:00"), 2.5),
      // 11:00 and 12:00 silent
      (1L, ts("2024-01-01 13:05:00"), 4.0),
      (2L, ts("2024-01-01 00:00:00"), 9.0)   // single-hour span
    ).toDF("user_id", "ts", "value")
    val got = Temporal.gapFill(events, "user_id", "ts", "value")
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1).getHour,
        r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      (1L, 10, 2L, 4.0), (1L, 11, 0L, 0.0), (1L, 12, 0L, 0.0),
      (1L, 13, 1L, 4.0), (2L, 0, 1L, 9.0)))
  }

  test("intervalCoverage: overlap merges, touching merges, gaps split") {
    val iv = Seq(
      // key 1: [0,10] ∪ [5,20] (overlap) ∪ [20,30] (touching) = one
      // island covering 30s; [40,45] a second island
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:10"), "a"),
      (1L, ts("2024-01-01 00:00:05"), ts("2024-01-01 00:00:20"), "b"),
      (1L, ts("2024-01-01 00:00:20"), ts("2024-01-01 00:00:30"), "c"),
      (1L, ts("2024-01-01 00:00:40"), ts("2024-01-01 00:00:45"), "d"),
      // key 2: an interval CONTAINED in an earlier one must not
      // reopen an island (running-max, not lag, catches this)
      (2L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:01:00"), "a"),
      (2L, ts("2024-01-01 00:00:10"), ts("2024-01-01 00:00:20"), "b"),
      (2L, ts("2024-01-01 00:00:30"), ts("2024-01-01 00:00:40"), "c")
    ).toDF("k", "s", "e", "tb")
    val got = Temporal.intervalCoverage(iv, "k", "s", "e", "tb")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((4L, 2L, 35000000L)))   // 30s + 5s
    assert(got(2L) == ((3L, 1L, 60000000L)))   // the containing minute
  }

  test("lagAutocorr: perfectly periodic key vs alternating key") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(hour: Int, i: Int) =
      new java.sql.Timestamp(t0.getTime + hour * 3600000L + i * 1000L)
    // key 1: identical count every hour over 2 "days" of 2h → lag-2
    //   pairs all equal → zero variance (den 0)
    // key 2: counts 1,2,1,2 with lag 2 → x=y exactly → r_num == den
    val ev = (
      (for (h <- 0 until 4; i <- 0 until 3) yield (1L, at(h, i))) ++
      (for (h <- 0 until 4; i <- 0 until (if (h % 2 == 0) 1 else 2))
        yield (2L, at(h, i)))
    ).toDF("k", "ts")
    val got = Temporal.lagAutocorr(ev, "k", "ts", lagHours = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((2L, 0L, 0L, 0L)))  // constant → undefined, den 0
    // key 2 pairs: (x=c(2)=1, y=c(0)=1), (x=c(3)=2, y=c(1)=2)
    // n=2: num = 2·5 − 3·3 = 1, den_x = 2·5 − 9 = 1, den_y = 1 → r = 1
    assert(got(2L) == ((2L, 1L, 1L, 1L)))
  }

  test("rollingMadFlags: spike flagged against its own trailing window") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    // key 1: steady 10s then a spike; key 2: drift within 3·MAD
    val ev = Seq(
      (1L, 1L, at(0), 10L), (1L, 2L, at(1), 10L), (1L, 3L, at(2), 10L),
      (1L, 4L, at(3), 11L), (1L, 5L, at(4), 100L),
      (2L, 6L, at(0), 10L), (2L, 7L, at(1), 12L), (2L, 8L, at(2), 14L),
      (2L, 9L, at(3), 16L), (2L, 10L, at(4), 18L)
    ).toDF("k", "eid", "ts", "v").repartition(3)
    val got = Temporal.rollingMadFlags(ev, "k", "ts", "eid",
        org.apache.spark.sql.functions.col("v"),
        window = 8, minPrior = 4, k = 3)
      .collect().map(r => r.getAs[Long]("eid") ->
        ((r.getAs[Long]("roll_n"), Option(r.getAs[Any]("roll_med")),
          Option(r.getAs[Any]("is_anomaly"))))).toMap
    assert(got(1L) == ((0L, None, None)))            // empty window
    assert(got(4L)._1 == 3L && got(4L)._3 == None)   // below minPrior
    // eid 5: arr = [10,10,10,11] → med 10, mad 0; |100−10| > 0 → flagged
    assert(got(5L) == ((4L, Some(10L), Some(true))))
    // eid 10: arr = [10,12,14,16] → med 12, mad 2; |18−12| = 6 ≤ 3·2
    assert(got(10L) == ((4L, Some(12L), Some(false))))
  }

  test("cusumChangepoint pins the shift boundary, earliest on ties") {
    import org.apache.spark.sql.functions.col
    // mean shifts 0→10 after the 3rd event: max |n·cum − i·T| at i=3
    val rows = (1 to 6).map(i =>
      (7L, ts(f"2024-01-01 00:0$i:00"), i.toLong,
        if (i <= 3) 0.0 else 10.0))
    val df = rows.toDF("user_id", "ts", "event_id", "value").repartition(3)
    val r = Temporal.cusumChangepoint(df, "user_id", "ts", "event_id",
      col("value")).collect().head
    assert(r.getAs[Long]("n") == 6L)
    // cents: T = 3000; devs −3000,−6000,−9000,−6000,−3000,0
    assert(r.getAs[Long]("dev_scaled") == -9000L)
    assert(r.getAs[Long]("at_us") ==
      ts("2024-01-01 00:03:00").getTime * 1000L)
  }

  test("intervalOverlap: sweep counts membership, not depth") {
    val a = Seq((1L, 0L, 10L), (1L, 2L, 4L), (2L, 0L, 10L), (3L, 0L, 5L))
      .toDF("k", "f", "t")
    val b = Seq((1L, 0L, 10L), (2L, 0L, 5L), (2L, 5L, 10L), (3L, 7L, 9L))
      .toDF("k", "f", "t")
    val got = Temporal.intervalOverlap(a, b, "k", "f", "t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // k1: nested [2,4) inside [0,10) must NOT double-count → 10, and
    // its boundaries subdivide the active run into 3 segments
    assert(got(1L) == ((10L, 3L)))
    // k2: abutting B windows cover A fully → 10 across 2 segments
    assert(got(2L) == ((10L, 2L)))
    // k3: disjoint sets → no row
    assert(!got.contains(3L))
  }

  test("mannKendall: strict rise maxes S, constant series zeroes var18") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("A", ts("2024-01-01 00:10:00"), 0.01), // cents 1
      ("A", ts("2024-01-01 01:10:00"), 0.02),
      ("A", ts("2024-01-01 02:10:00"), 0.03),
      ("B", ts("2024-01-01 00:05:00"), 0.05),
      ("B", ts("2024-01-01 01:05:00"), 0.05))
      .toDF("k", "ts", "value").repartition(2)
    val got = Temporal.mannKendall(df, "k", "ts", col("value"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // A: 3 rising hours → S = +3 of 3 pairs; var18 = 3·2·11 = 66
    assert(got("A") == ((3L, 3L, 3L, 66L)))
    // B: two equal hours → S = 0 and the tie kills the variance
    assert(got("B") == ((2L, 1L, 0L, 0L)))
  }

  test("mannKendall: NULL timestamps sit out of the series entirely") {
    import org.apache.spark.sql.functions.col
    // the pairwise definition (hh_a < hh_b) never pairs a NULL hour:
    // rows with a null ts must not count in n, n_pairs, S or var18
    // (r6 advisor finding — the null-_h struct used to sort first and
    // bias the inversion count)
    val withNull = Seq(
      ("A", Some(ts("2024-01-01 00:10:00")), 0.01),
      ("A", Some(ts("2024-01-01 01:10:00")), 0.02),
      ("A", Option.empty[java.sql.Timestamp], 99.99),
      ("A", Some(ts("2024-01-01 02:10:00")), 0.03))
      .toDF("k", "ts", "value").repartition(2)
    val got = Temporal.mannKendall(withNull, "k", "ts", col("value"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // identical to the 3-row series without the null-ts row
    assert(got("A") == ((3L, 3L, 3L, 66L)))
  }

  test("pointInTimeJoin picks the version valid AT the fact ts, never later") {
    import org.apache.spark.sql.functions.col
    val dims = Seq(
      (1L, "2024-01-01", Some("2024-02-01"), "v1"),
      (1L, "2024-02-01", None, "v2"))
      .toDF("k", "vf", "vt", "ver")
      .select(col("k"), col("vf").cast("date").as("vf"),
        col("vt").cast("date").as("vt"), col("ver"))
    val facts = Seq((10L, 1L, "2023-12-15"), (11L, 1L, "2024-01-15"),
      (12L, 1L, "2024-02-01"), (13L, 1L, "2024-12-31"), (14L, 2L, "2024-01-15"))
      .toDF("fid", "fk", "ts")
      .select(col("fid"), col("fk"), col("ts").cast("date").as("ts"))
    val got = Temporal.pointInTimeJoin(facts, "fk", "ts", dims, "k",
        "vf", "vt")
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[String]("ver"))).toMap
    assert(got(10L).isEmpty)          // before any version
    assert(got(11L).contains("v1"))   // inside [v1, v2)
    assert(got(12L).contains("v2"))   // boundary belongs to the new version
    assert(got(13L).contains("v2"))   // open current version
    assert(got(14L).isEmpty)          // unknown entity survives (left)
  }

  test("sequenceSurprisal scores rare transitions, zero for the norm") {
    val df = Seq(
      (1L, ts("2024-01-01 00:01:00"), 1L, "A"),
      (1L, ts("2024-01-01 00:02:00"), 2L, "B"),
      (1L, ts("2024-01-01 00:03:00"), 3L, "A"),
      (1L, ts("2024-01-01 00:04:00"), 4L, "B"),
      (2L, ts("2024-01-01 00:01:00"), 5L, "A"),
      (2L, ts("2024-01-01 00:02:00"), 6L, "C"))
      .toDF("user_id", "ts", "event_id", "event_type").repartition(2)
    val got = Temporal.sequenceSurprisal(df, "user_id", "ts",
        "event_type", "event_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // model: A→{B:2, C:1} (s=3), B→{A:1} (s=1)
    // u1: A→B (3//2=1 → 0 bits), B→A (0), A→B (0)
    assert(got(1L) == ((3L, 0L, 0L)))
    // u2: A→C: 3//1=3 → 1 bit → 10⁶ ppm
    assert(got(2L) == ((1L, 1L, 1000000L)))
  }

  test("latenessProfile: log2 buckets of event-time lag in arrival order") {
    // arrival order 1..4 carries event times 10s, 5s, 20s, 19s:
    // lateness 0, 5s, 0, 1s → buckets −1×2, 22 (4.19M ≤ 5e6µs), 19
    val df = Seq(
      (1L, ts("2024-01-01 00:00:10"), 1L),
      (1L, ts("2024-01-01 00:00:05"), 2L),
      (1L, ts("2024-01-01 00:00:20"), 3L),
      (1L, ts("2024-01-01 00:00:19"), 4L))
      .toDF("k", "ts", "arr").repartition(2)
    val got = Temporal.latenessProfile(df, "k", "ts", "arr")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(-1L -> ((2L, 0L)), 22L -> ((1L, 5000000L)),
      19L -> ((1L, 1000000L))))
  }

  test("rollingActiveUsers: window unions distinct users, DAU alongside") {
    val df = Seq(
      (1L, ts("2024-03-01 10:00:00")), (1L, ts("2024-03-01 11:00:00")),
      (1L, ts("2024-03-03 10:00:00")),
      (2L, ts("2024-03-02 09:00:00")))
      .toDF("user_id", "ts").repartition(2)
    val got = Temporal.rollingActiveUsers(df, "ts", "user_id",
        windowDays = 2)
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // day1: {1}; day2: {1 (from day1), 2}; day3: {1, 2 (from day2)}
    assert(got("2024-03-01") == ((1L, 1L)))
    assert(got("2024-03-02") == ((1L, 2L)))
    assert(got("2024-03-03") == ((1L, 2L)))
  }

  test("transitionEntropy: hand-computed Zipf-bucket bits per state") {
    val df = Seq(
      (1L, ts("2024-01-01 00:01:00"), 1L, "A"),
      (1L, ts("2024-01-01 00:02:00"), 2L, "B"),
      (1L, ts("2024-01-01 00:03:00"), 3L, "A"),
      (1L, ts("2024-01-01 00:04:00"), 4L, "C"))
      .toDF("user_id", "ts", "event_id", "event_type").repartition(2)
    val got = Temporal.transitionEntropy(df, "user_id", "ts",
        "event_type", "event_id")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // from A: {B:1, C:1}, s=2 → bits 1+1=2, h = 10⁶·2/2
    assert(got("A") == ((2L, 2L, 2L, 1000000L)))
    // from B: {A:1}, s=1 → fully predictable, zero bits
    assert(got("B") == ((1L, 1L, 0L, 0L)))
  }

  test("concurrentIntervals: hand case + brute-force equivalence") {
    // [0,10) [5,15) [14,20) [30,40): 0↔1 overlap, 1↔2 overlap,
    // 0↔2 touch only (half-open: 10 ≤ 14 no), 3 isolated
    val hand = Seq((0L, 0L, 10L), (1L, 5L, 15L), (2L, 14L, 20L),
      (3L, 30L, 40L)).toDF("id", "f", "tt")
    val got = Temporal.concurrentIntervals(hand, "id", "f", "tt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 0L))
    // dense random-ish fixture vs the naive pair count, incl. exact
    // ties on boundaries and duplicate intervals
    val ivs = (0 until 200).map { i =>
      val s = (i * 37 % 50).toLong
      (i.toLong, s, s + 1 + (i * 13 % 9))
    }
    val df = ivs.toDF("id", "f", "tt").repartition(7)
    val brute = ivs.map { case (i, s, e) =>
      i -> ivs.count { case (j, s2, e2) => j != i && s2 < e && e2 > s }.toLong
    }.toMap
    val dist = Temporal.concurrentIntervals(df, "id", "f", "tt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == brute)
  }

  test("intervalJoin: owner-bucket dedup matches the naive theta join") {
    // spans crossing many buckets (width 10), exact boundary ties,
    // same-key only
    val as = (0 until 60).map { i =>
      (i.toLong % 3, i.toLong, (i * 7 % 40).toLong,
        (i * 7 % 40 + 1 + i % 25).toLong)
    }
    val bs = (0 until 60).map { i =>
      (i.toLong % 3, 100L + i, (i * 11 % 45).toLong,
        (i * 11 % 45 + 2 + i % 18).toLong)
    }
    val a = as.toDF("k", "aid", "f", "tt").repartition(5)
    val b = bs.toDF("k", "bid", "f", "tt").repartition(4)
    val got = Temporal.intervalJoin(a, "aid", b, "bid", "k", "f", "tt",
        bucketWidthSec = 10L)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val brute = (for {
      (ka, ia, sa, ea) <- as; (kb, ib, sb, eb) <- bs
      if ka == kb && sa < eb && sb < ea
    } yield (ia, ib) -> (math.min(ea, eb) - math.max(sa, sb))).toMap
    assert(got == brute)            // exactly once per pair, right units
  }
}
