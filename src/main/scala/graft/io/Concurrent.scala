package graft.io

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark write actions from one driver (guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside
  * one application — actions are only sequential because driver code
  * calls them sequentially. The index-store save/append paths write
  * 2–4 artifacts to DISTINCT paths, and silver publishes `dirty_dumps`
  * and its topic tables from one cached frame; issuing them from a
  * small thread pool lets the next write's tasks back-fill executors
  * freed by the current one's tail instead of serializing job-submit +
  * commit latencies.
  *
  * Used ONLY for writes that are independent by construction (distinct
  * output dirs, no read-your-write ordering). Commit points (the
  * partition swap, the index manifest commit) stay OUTSIDE, after the
  * barrier — the publish and CAS protocols are unchanged.
  *
  * Failure cancels: every Spark job a task starts carries one job tag
  * of this call. When a task fails, the jobs of its still-running
  * siblings are cancelled by that tag — again on every poll until each
  * sibling has returned, since a sibling's [[Lake.retry]] may submit a
  * fresh job after the first cancel — so no sibling keeps writing into
  * staging once `awaitAll` has thrown. The exception thrown is the
  * first failed task's own, unwrapped, as sequential code would have
  * seen it; the siblings' cancellation errors are dropped. */
object Concurrent {
  def awaitAll(spark: SparkSession, tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val sc = spark.sparkContext
    val tag = s"graft-concurrent-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(tasks.size)
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      tasks.foreach { t =>
        done.submit { () =>
          sc.addJobTag(tag)
          try t() finally sc.removeJobTag(tag)
        }
      }
      var left = tasks.size
      var failure: Option[Throwable] = None
      while (left > 0 && failure.isEmpty) {
        try done.take().get()
        catch { case e: ExecutionException => failure = Some(e.getCause) }
        left -= 1
      }
      failure.foreach { e =>
        while (left > 0) {
          sc.cancelJobsWithTag(tag, "a sibling task failed")
          if (done.poll(100, TimeUnit.MILLISECONDS) != null) left -= 1
        }
        throw e
      }
    } finally pool.shutdownNow()
  }
}
