package graft

import org.apache.spark.sql.SparkSession

/** What the query mains ([[Bench]], [[PhaseProfile]], [[Verify]],
  * [[PlanDump]], [[Audit]]) share: the bench sizing, one query
  * selection, one settle between timed runs and one timer.
  */
object Harness {

  /** The sizing Bench, PhaseProfile and `Audit time` run:
    *   - SPARK_GRAFT_BENCH_PANEL_CAP (default 21) caps the ANN query
    *     panels (x172/x178/x181 …). The gate's %97 panel grows with
    *     the corpus, so sf-ramp bench ratios would measure
    *     corpus×panel (r8 verdict item 3). 21 = the sf0.1 panel size,
    *     keeping the filed sf0.1 numbers comparable while pinning the
    *     panel across the ramp. 0 = uncapped (the gate behavior).
    *   - SPARK_GRAFT_BENCH_TRUTH_BITS (default 1) audits the banding
    *     on a deterministic stratified sub-corpus (x142 sampled-truth
    *     mode, ~1/4 the pair cost at 1 bit). 0 = exhaustive truth.
    * Setting both to 0 gives the correctness gate's sizing. */
  def benchSizing: Sizing = Sizing(
    panelCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_PANEL_CAP", "21").toInt,
    truthSampleBits = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRUTH_BITS", "1").toInt)

  /** Every query at [[benchSizing]]. */
  def benchQueries: Map[String, SparkEntry.Fn] = SparkEntry.queriesAt(benchSizing)

  /** The queries whose names the regex `only` finds (all when None),
    * sorted by name. */
  def select(queries: Map[String, SparkEntry.Fn],
             only: Option[String]): Seq[(String, SparkEntry.Fn)] = {
    val re = only.map(_.r)
    queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => re.forall(_.findFirstIn(n).isDefined) }
  }

  /** Isolate a timed run from leaked state, outside its timer:
    *   1. table-cache entries: 50+ queries × per-call caches otherwise
    *      fill storage memory and LRU-evict the CURRENT query's cache
    *      mid-run (observed 3-5x inflation);
    *   2. stranded localCheckpoint blocks: clearCache doesn't touch
    *      persistent RDDs, and the checkpoint-heavy queries strand a
    *      FULL set of blocks per run (x46's shingle arrays + per-round
    *      CC labels) — five runs of accumulation pushed runs 3-5 into
    *      storage pressure and inflated the MEDIAN (x46 measured
    *      10.6 s vs 4.6 s across back-to-back suite runs before this
    *      moved inside the run loop). Each run rebuilds its own
    *      checkpoints, so dropping stale ones between runs is safe;
    *   3. heap settle: 100+ queries of driver-side plan/codegen
    *      allocation otherwise bleed GC pressure into late queries
    *      (x18 measured 4.5 s isolated vs 6.6 s at position ~110 of a
    *      147-query session).
    */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** `body`'s result and its wall seconds. */
  def clock[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Bench's timing loop: one discarded run of `body` when `warmUp`,
    * then `runs` (≥ 1) runs, each after a [[settle]]. Returns the last
    * run's result and the run seconds, sorted. */
  def time[A](spark: SparkSession, runs: Int, warmUp: Boolean)(
      body: => A): (A, Seq[Double]) = {
    if (warmUp) body
    val timed = (1 to runs).map { _ => settle(spark); clock(body) }
    (timed.last._1, timed.map(_._2).sorted)
  }
}
