package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class LakeCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("vacuum deletes only the partitions the predicate rejects") {
    val root = java.nio.file.Files.createTempDirectory("vacuum").toString + "/t"
    Seq((1L, "D0"), (2L, "D1"), (3L, "D2")).toDF("id", "part")
      .write.partitionBy("part").parquet(root)
    val deleted = Lake.vacuum(spark, root, keep = _ != "D1")
    assert(deleted == Seq("D1"))
    val left = spark.read.parquet(root).select("part").distinct()
      .collect().map(_.getString(0)).toSet
    assert(left == Set("D0", "D2"))
  }
}
