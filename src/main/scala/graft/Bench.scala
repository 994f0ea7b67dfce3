package graft

/** Benchmark main: runs every SparkEntry query, at
  * [[Harness.benchSizing]], against SPARK_GRAFT_SF_DIR and prints ONE
  * JSON line with per-query seconds. Convention per BASELINE.md: warm
  * JVM (one discarded warm-up pass over every query), then each query's
  * median of SPARK_GRAFT_BENCH_RUNS (default 5) runs, each after a
  * [[Harness.settle]].
  *
  * Failures are first-class: a query that throws is recorded as -1.0
  * (never a bogus fast "time"), and its name + error are logged to
  * stderr at warm-up so a broken query can't silently deflate totals.
  * The JSON line is ALSO written to SPARK_GRAFT_BENCH_OUT (default
  * bench_result.json in the cwd) so the driver can read it even when
  * sbt pollutes stdout.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 5 runs: the median absorbs driver-side optimizer-time variance
    // (p05's 166-rule constant fold swings ~10% run to run at 3)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    val spark = GraftSession.build(appName = "graft-bench")
    // optional subset filter (regex) for local bisection
    val qs = Harness.select(Harness.benchQueries, sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    // warmup: executes one full pass so JIT/codegen/file-listing caches
    // are hot before anything is timed; failures are named, not hidden
    qs.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch {
        case e: Throwable =>
          System.err.println(s"[bench] WARMUP FAILURE $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // every TIMED RUN (not just every query) starts settled
    def timeQuery(name: String, fn: SparkEntry.Fn): (Boolean, Seq[Double]) = {
      var failed = false
      val (_, times) = Harness.time(spark, runs, warmUp = false) {
        try fn(spark, sfDir).count() catch {
          case e: Throwable =>
            failed = true
            System.err.println(s"[bench] FAILURE $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      (failed, times)
    }
    // protocol (SCALING.md / r7 verdict item 3, hardened r9): a run
    // set whose max/min spread exceeds the stall ratio on a
    // non-trivial query is a host-stall suspect — re-measure (up to
    // SPARK_GRAFT_BENCH_STALL_RETRIES times, default 2: one retry
    // left x18's [2.95, 9.92] in the r8 filing) and keep the
    // tightest-spread set, so a CI-host steal episode can't inflate
    // the FILED median. Auditability (r8 advisor): EVERY
    // measurement's median lands in the artifact's "retried" field,
    // so the keep-the-tighter selection is visible in the record
    // instead of silently favoring the faster set; the non-trivial
    // floor is env-configured alongside the ratio.
    val stallRatio = sys.env.getOrElse("SPARK_GRAFT_BENCH_STALL_RATIO", "3.0").toDouble
    val stallFloor = sys.env.getOrElse("SPARK_GRAFT_BENCH_STALL_FLOOR", "1.0").toDouble
    val stallRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_STALL_RETRIES", "2").toInt
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    def spread(t: Seq[Double]) = t.last / math.max(t.head, 1e-9)
    val results = qs.map { case (name, fn) =>
      val (failed, t1) = timeQuery(name, fn)
      var best = t1
      if (!failed) {
        val medians = scala.collection.mutable.ListBuffer(t1(t1.length / 2))
        var attempts = 0
        while (best.last > stallFloor && spread(best) > stallRatio &&
            attempts < stallRetries) {
          System.err.println(
            f"[bench] STALL-SUSPECT $name: [${best.head}%.2f, ${best.last}%.2f] — re-measuring (${attempts + 1}/$stallRetries)")
          val (f2, t2) = timeQuery(name, fn)
          attempts += 1
          if (!f2) {
            medians += t2(t2.length / 2)
            if (spread(t2) < spread(best)) best = t2
          }
        }
        if (attempts > 0) retried(name) = medians.toSeq
      }
      name -> (if (failed) Seq(-1.0, -1.0, -1.0)
               else Seq(best(best.length / 2), best.head, best.last))
    }
    val failures = results.count(_._2.head < 0)
    // "queries" stays a plain name→median map (the driver's contract);
    // "spread" carries [min, max] per query so a noisy run is visible
    // in the artifact itself instead of needing a second run to detect
    val qsJson = results.map { case (k, v) => f""""$k":${v.head}%.3f""" }
      .mkString("{", ",", "}")
    val spreadJson = results
      .map { case (k, v) => f""""$k":[${v(1)}%.3f,${v(2)}%.3f]""" }
      .mkString("{", ",", "}")
    val total = results.filter(_._2.head >= 0).map(_._2.head).sum
    // every stall-retry measurement's median, in attempt order — the
    // keep-the-tighter selection is auditable from the artifact alone
    val retriedJson = retried
      .map { case (k, ms) =>
        s""""$k":[${ms.map(m => f"$m%.3f").mkString(",")}]""" }
      .mkString("{", ",", "}")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qsJson,"spread":$spreadJson,"retried":$retriedJson,"failures":$failures,"sf":"$sfDir"}"""
    // the FULL artifact goes to the json file (the committed record);
    // stdout gets it too for humans, but the LAST line printed is a
    // COMPACT summary that fits the driver harness's bounded output
    // tail (~2000 chars) — the full 225-query line is ~8 KB, which is
    // why every BENCH_rN.json through r7 had "parsed": null. The
    // compact line keeps the contract fields (metric/value/unit/
    // queries/failures/sf) with "queries" restricted to the slowest
    // entries that fit the byte budget; "n_queries" carries the true
    // count and "full" points at the complete artifact.
    try {
      val w = new java.io.PrintWriter(outPath)
      try w.println(line) finally w.close()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    println(line)
    val slowest = results.filter(_._2.head >= 0).sortBy(-_._2.head)
    // ~800 bytes, printed TWICE as the last lines: the driver's
    // bounded output tail (~2000 chars) must contain one COMPLETE
    // copy even after sbt's [success]/[info] epilogue (~200-400
    // bytes) lands after us — the r8 artifact still came back
    // "parsed": null with a single 1.6 KB line, consistent with the
    // line's head being pushed out of the window
    val budget = 800
    val picked = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    slowest.foreach { case (k, v) =>
      val entry = f""""$k":${v.head}%.3f"""
      if (used + entry.length + 1 <= budget) { picked += entry; used += entry.length + 1 }
    }
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"failures":$failures,"sf":"$sfDir","full":"$outPath","queries":${picked.mkString("{", ",", "}")}}"""
    println(compact)
    println(compact)
    spark.stop()
  }
}
