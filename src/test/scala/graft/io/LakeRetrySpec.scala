package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.AnalysisException

/** `Lake.retry`: a success returns at once, only transient failures
  * are retried, and the last failure is rethrown after the budget. */
class LakeRetrySpec extends AnyFunSuite {
  private val Tries = 5

  private def analysisError() =
    new AnalysisException("UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
      Map("objectName" -> "`nope`"))

  // (case, failure thrown on call n — None means call n succeeds,
  //  expected calls, expected class of the rethrown failure)
  private val cases: Seq[(String, Int => Option[Throwable], Int, Option[Class[_]])] = Seq(
    ("a successful body is called once", _ => None, 1, None),
    ("IOException then success is called twice",
      n => if (n == 1) Some(new java.io.IOException(s"io $n")) else None, 2, None),
    ("always IOException is called tries times and rethrows the last",
      n => Some(new java.io.IOException(s"io $n")), Tries,
      Some(classOf[java.io.IOException])),
    ("AnalysisException is not retried",
      _ => Some(analysisError()), 1, Some(classOf[AnalysisException])),
    ("InterruptedException is not retried",
      _ => Some(new InterruptedException("stop")), 1,
      Some(classOf[InterruptedException])),
  )

  cases.foreach { case (name, failure, expectedCalls, rethrown) =>
    test(s"retry: $name") {
      var calls = 0
      // a catch-all on purpose: InterruptedException is fatal to Try
      val outcome: Either[Throwable, Int] =
        try Right(Lake.retry(Tries) {
          calls += 1
          failure(calls).foreach(e => throw e)
          calls
        }) catch { case e: Throwable => Left(e) }
      assert(calls == expectedCalls)
      rethrown match {
        case None => assert(outcome == Right(expectedCalls))
        case Some(cls) =>
          val e = outcome.swap.getOrElse(fail(s"expected $cls"))
          assert(cls.isInstance(e))
          if (cls == classOf[java.io.IOException]) assert(e.getMessage == s"io $Tries")
      }
    }
  }
}
