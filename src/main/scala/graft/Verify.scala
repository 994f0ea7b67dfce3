package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The single-file output uses repartition(1) (a shuffle barrier) rather
  * than coalesce(1), which would collapse the whole final stage to one
  * task and serialize the query itself.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args match {
      case Array(sf, out) => (sf, out)
      case _ => sys.error("usage: graft.Verify <sf-dir> <out-dir>")
    }
    val spark = GraftSession.build(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // queries are independent — run several concurrently (the Spark
    // scheduler interleaves their jobs across the same executors),
    // which overlaps commit/write latencies and cuts the gate's wall
    // time ~3x
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // optional subset filter for local iteration (unset → all queries)
    val selected = Harness.select(SparkEntry.queries, sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    // batches of 8: queries inside a batch run concurrently; the cache
    // clears at batch barriers so leaked per-query cache entries can't
    // accumulate into storage-eviction storms (they inflate cache-heavy
    // queries 3-5x once ~50 queries' caches pile up)
    selected.grouped(8).foreach { batch =>
      val futures = batch.map { case (name, fn) =>
        scala.concurrent.Future {
          try {
            val (_, secs) = Harness.clock(fn(spark, sfDir).repartition(1)
              .write.mode("overwrite").parquet(s"$outDir/$name"))
            System.err.println(f"[verify] $name ok in $secs%.1fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
      spark.catalog.clearCache()
    }
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
