package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class LakeCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact coalesces small files per partition, data intact, idempotent") {
    val root = java.nio.file.Files.createTempDirectory("compact").toString + "/table"
    val df = graft.tables.t(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("part", concat(lit("D"), $"o_custkey" % 2))
    df.repartition(6).write.partitionBy("part").parquet(root)
    def fileCount(p: String) = new java.io.File(s"$root/$p").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(fileCount("part=D0") > 1)
    val beforeRows = spark.read.parquet(root).collect().toSet
    val stats = Lake.compact(spark, root)
    assert(stats.nonEmpty && stats.forall(_.filesAfter == 1))
    assert(fileCount("part=D0") == 1 && fileCount("part=D1") == 1)
    // data identical (including the partition column) after the swap
    assert(spark.read.parquet(root).collect().toSet == beforeRows)
    // second pass: every partition already within budget
    assert(Lake.compact(spark, root).isEmpty)
  }

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
