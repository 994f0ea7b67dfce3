package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Optimizer rule: rewrites pure point-in-interval theta-joins into
  * bucketed equi-joins.
  *
  * A join whose condition is ONLY `p >= lo AND p <= hi` (point from
  * one side, interval bounds from the other) carries no equi-key, so
  * Spark must plan a BroadcastNestedLoopJoin — O(|points| ×
  * |intervals|) pair evaluations and a full broadcast of one side:
  * the classic scale cliff of temporal enrichment queries. This rule
  * gives Catalyst the equi-key the join is missing: intervals explode
  * to the fixed-width time buckets they overlap
  * (`sequence(floor(lo/w), floor(hi/w))`), points compute their single
  * bucket, and the join becomes `p_bucket = i_bucket AND <original
  * condition>` — a shuffled hash join with the BETWEEN as residual,
  * the same plan [[graft.ext.Temporal.pointInIntervalJoin]] builds by
  * hand, now applied transparently to any user query.
  *
  * Opt-in: set `spark.graft.rangeJoin.bucketSeconds` to a positive
  * width (choose it near the typical interval length; expansion is
  * `len/width + 1` bucket rows per interval). The rule fires only
  * when the condition has NO equality conjunct (with one, Spark
  * already hash-joins on it) and every conjunct is one of the two
  * range bounds over TIMESTAMP/TIMESTAMP_NTZ columns.
  */
case class RangeJoinRule(spark: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.rangeJoin.bucketSeconds"

  private def bucketWidth: Long =
    spark.conf.getOption(ConfKey).map(_.toLong).getOrElse(0L)

  private def isTs(e: Expression): Boolean =
    e.dataType == TimestampType || e.dataType == TimestampNTZType

  /** Rules run AFTER ResolveTimeZone, so every time-zone-aware node
    * built here must carry its zone explicitly or the plan re-enters
    * the unresolved state. */
  private def tz: Option[String] =
    Some(spark.sessionState.conf.sessionLocalTimeZone)

  /** floor(epoch_seconds(e) / w) as a resolved Long expression
    * (NTZ relabels through TIMESTAMP first — no direct long cast;
    * floor-of-double-division mirrors the DataFrame `floor(col/w)`
    * form, correct for pre-epoch timestamps too). */
  private def bucket(e: Expression, w: Long): Expression = {
    val asTs =
      if (e.dataType == TimestampNTZType) Cast(e, TimestampType, tz) else e
    Floor(Divide(
      Cast(Cast(asTs, LongType, tz), org.apache.spark.sql.types.DoubleType),
      Literal(w.toDouble)))
  }

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = bucketWidth
    if (w <= 0) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if rewritable(left, right, cond).isDefined =>
        val (p, lo, hi, pointOnLeft) = rewritable(left, right, cond).get
        val (points, intervals) = if (pointOnLeft) (left, right) else (right, left)
        // points side: one bucket column
        val pb = Alias(bucket(p, w), "_graft_pb")()
        val points2 = Project(points.output :+ pb, points)
        // intervals side: explode the covered bucket range. An
        // inverted interval (hi < lo) matches nothing under the
        // original BNLJ, but Sequence with step +1 THROWS on reversed
        // bounds — emit an empty bucket array for those rows so the
        // rewrite preserves no-match semantics instead of failing the
        // query
        val bLo = bucket(lo, w)
        val bHi = bucket(hi, w)
        val seq = If(GreaterThanOrEqual(bHi, bLo),
          Sequence(bLo, bHi, Some(Literal(1L)), tz),
          Literal.create(Seq.empty[Long],
            org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)))
        val ib = AttributeReference("_graft_ib", LongType, nullable = false)()
        val intervals2 = Generate(Explode(seq), unrequiredChildIndex = Nil,
          outer = false, qualifier = None, generatorOutput = Seq(ib),
          child = intervals)
        val newCond = And(EqualTo(pb.toAttribute, ib), cond)
        val (l2, r2) = if (pointOnLeft) (points2, intervals2)
          else (intervals2, points2)
        Project(j.output, Join(l2, r2, Inner, Some(newCond), hint))
    }
  }

  /** Matches a condition that is exactly the two range bounds of one
    * point between one interval, with no equality conjunct. Returns
    * (point, lo, hi, pointOnLeft). */
  private def rewritable(left: LogicalPlan, right: LogicalPlan,
                         cond: Expression)
      : Option[(Expression, Expression, Expression, Boolean)] = {
    val conjuncts = splitConjuncts(cond)
    if (conjuncts.length != 2) return None
    if (conjuncts.exists(_.isInstanceOf[EqualTo])) return None
    // normalize each conjunct to (point-candidate, bound, isLower)
    val bounds = conjuncts.flatMap {
      case GreaterThanOrEqual(a, b) => Seq((a, b, true), (b, a, false))
      case LessThanOrEqual(a, b) => Seq((a, b, false), (b, a, true))
      case _ => Nil
    }
    // the point appears in both conjuncts from one side; bounds from the other
    val candidates = for {
      (p1, lo, true) <- bounds
      (p2, hi, false) <- bounds
      if p1.semanticEquals(p2) && isTs(p1) && isTs(lo) && isTs(hi)
      pointOnLeft <- Seq(true, false)
      (pSide, iSide) = if (pointOnLeft) (left, right) else (right, left)
      if refsOnly(p1, pSide) && refsOnly(lo, iSide) && refsOnly(hi, iSide)
    } yield (p1, lo, hi, pointOnLeft)
    candidates.headOption
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }
}
