package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Analysis-time typing for the native top-k aggregate (round-2
  * advice): SQL calls with non-(double, long) columns must get
  * implicit casts instead of a runtime ClassCastException, and a
  * non-positive k must fail loudly at construction. */
class TopKAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("SQL call with decimal value and int id gets implicit casts") {
    Seq((BigDecimal(1.5), 1), (BigDecimal(9.5), 2), (BigDecimal(4.5), 3))
      .toDF("v", "id").createOrReplaceTempView("tk_in")
    val out = spark.sql(
      "SELECT graft_topk(v, id, 2) AS top FROM tk_in")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(out.map(_.getLong(1)) == Seq(2L, 3L))
    assert(out.map(_.getDouble(0)) == Seq(9.5, 4.5))
  }

  test("k < 1 fails at construction with a clear message") {
    val e = intercept[IllegalArgumentException] {
      TopKAgg(org.apache.spark.sql.catalyst.expressions.Literal(1.0),
        org.apache.spark.sql.catalyst.expressions.Literal(1L), 0)
    }
    assert(e.getMessage.contains("k >= 1"))
  }
}
