package graft.io

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.TestSpark

class ConcurrentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a failing task cancels its sibling's running Spark job and surfaces its own error") {
    val sc = spark.sparkContext
    val tags = new AtomicReference[Set[String]](Set.empty)
    val attempts = new AtomicInteger(0)
    val siblingError = new AtomicReference[Throwable]()
    val siblingReturned = new AtomicBoolean(false)
    val boom = intercept[IllegalStateException] {
      Concurrent.awaitAll(spark, Seq(
        () => {
          tags.set(sc.getJobTags())
          // a job that runs until it is cancelled (or, if nothing
          // cancels it, ends after 30 s and fails the checks below),
          // under the retry every publish uses: each retried attempt
          // must be cancelled too
          try Lake.retry() {
            attempts.incrementAndGet()
            sc.parallelize(1 to 2, 2).foreach { _ =>
              ConcurrentSpec.running.countDown()
              val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
              while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline)
                Thread.sleep(10)
            }
          } catch { case e: Throwable => siblingError.set(e); throw e }
          finally siblingReturned.set(true)
        },
        () => {
          assert(ConcurrentSpec.running.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException("the first failure")
        }))
    }
    assert(boom.getMessage == "the first failure")
    // awaitAll waited for the sibling, whose job ended cancelled
    assert(siblingReturned.get)
    val err = siblingError.get
    assert(err != null, "the sibling's job ran to its end: nothing cancelled it")
    assert(err.getMessage.contains("cancelled"), err)
    assert(attempts.get >= 1)
    assert(tags.get.size == 1)
    val tracker = sc.statusTracker
    eventually(timeout(10.seconds)) {
      val jobs = tracker.getJobIdsForTag(tags.get.head).toSeq
      assert(jobs.size == attempts.get)
      assert(jobs.forall(tracker.getJobInfo(_).exists(_.status == JobExecutionStatus.FAILED)))
    }
  }
}

object ConcurrentSpec {
  /** Counted down by the sibling's task; local mode runs it in this JVM. */
  val running = new CountDownLatch(1)
}
