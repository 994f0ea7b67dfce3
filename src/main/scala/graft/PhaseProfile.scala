package graft

/** Where does a query's wall time go? Evidence tooling for the
  * optimization rounds (like [[PlanDump]], never on the bench path):
  * per query, split one cold run into
  *   - build_s: constructing the DataFrame (eager training loops,
  *     index saves, driver collects run here),
  *   - plan_s: analysis + optimization + physical planning of the
  *     RETURNED frame (`queryExecution.executedPlan` forced),
  *   - exec_s: executing it (count, the bench's timed action),
  * plus the job/stage counts the run submitted (a listener), and the
  * optimization/planning phase times Spark's own tracker recorded.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.PhaseProfile <regex>"
  * — prints one CSV line per query; timings are single-shot (this is
  * a profile, not a bench — medians come from graft.Bench). Queries
  * run at Bench's sizing ([[Harness.benchSizing]], the same env vars),
  * each after a [[Harness.settle]].
  */
object PhaseProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(appName = "graft-phaseprofile")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
        }
      })
    println("query,build_s,plan_s,exec_s,total_s,jobs,stages,tasks," +
      "tracker_optimization_ms,tracker_planning_ms")
    Harness.select(Harness.benchQueries, args.headOption).foreach { case (name, fn) =>
      Harness.settle(spark)
      jobs.set(0); stages.set(0); tasks.set(0)
      try {
        val (df, buildS) = Harness.clock(fn(spark, sfDir))
        // force analysis/optimization/planning
        val (_, planS) = Harness.clock(df.queryExecution.executedPlan)
        val (_, execS) = Harness.clock(df.count())
        // Spark's own planning tracker (driver-side rule time)
        val phases = df.queryExecution.tracker.phases
        def ph(k: String): Long =
          phases.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(-1L)
        println(f"$name,$buildS%.3f,$planS%.3f,$execS%.3f," +
          f"${buildS + planS + execS}%.3f," +
          s"${jobs.get},${stages.get},${tasks.get}," +
          s"${ph("optimization")},${ph("planning")}")
      } catch {
        case e: Throwable =>
          println(s"$name,FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
