package graft

/** Dump `.explain("formatted")` for named SparkEntry queries (every
  * query when no name is given) to `plans/<round>/<query>_<suffix>.txt`
  * — the plan-audit utility and the optimization-round evidence trail
  * (plan claims are checked against these files).
  *
  * Usage: `sbt "runMain graft.PlanDump x87_kmeans_lloyd x14_ivf_topk"`
  * with SPARK_GRAFT_SF_DIR / SPARK_GRAFT_PLAN_DIR /
  * SPARK_GRAFT_PLAN_SUFFIX (default sf0.01 / plans/r12 / after).
  * Queries that execute eagerly during construction (training loops,
  * index saves) run those jobs first; the dumped plan is the returned
  * DataFrame's — the serve/final stage, which is where the plan-shape
  * claims live.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r12")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "after")
    val spark = GraftSession.build(appName = "graft-plandump")
    new java.io.File(outDir).mkdirs()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val plan = fn(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
      try w.println(plan) finally w.close()
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
