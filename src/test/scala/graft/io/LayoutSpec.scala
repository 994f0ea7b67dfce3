package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zValue interleaves bits (x even, y odd)") {
    // x=0b101, y=0b011 → z bits: x0=1@0, y0=1@1, x1=0@2, y1=1@3, x2=1@4, y2=0@5
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.zValue($"x", $"y", 3).as("z")).head().getLong(0)
    assert(z == (1 + 2 + 8 + 16))
    // key is monotone in each coordinate within the same other-coord
    val zs = Seq((0L, 7L), (1L, 7L), (2L, 7L), (3L, 7L)).toDF("x", "y")
      .select(ZOrder.zValue($"x", $"y", 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(zs == zs.sorted && zs.distinct.length == 4)
  }
}
