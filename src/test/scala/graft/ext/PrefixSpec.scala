package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PrefixSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic pseudo-random rows spread over >1 partition
  private def rows(n: Int) =
    spark.range(n).select(
      $"id",
      pmod(xxhash64($"id"), lit(97)).as("key"),
      (pmod(xxhash64($"id" + 1), lit(50)) + 1).as("v"))
      .repartition(7)

  test("globalRunningSum matches the single-partition window result") {
    val df = rows(5000).localCheckpoint()
    val order = Seq(col("key").desc, col("id"))
    val got = Prefix.globalRunningSum(df, order, col("v"), "cum")
      .select($"id", $"cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum($"v").over(w))
      .select($"id", $"cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("plan has no empty-partition WindowExec and output spans partitions") {
    val df = rows(5000)
    val out = Prefix.globalRunningSum(df, Seq(col("id")), col("v"), "cum",
      partitions = 6)
    val plan = out.queryExecution.executedPlan.toString
    // every Window node must carry a partition spec (_gp)
    plan.split('\n').filter(_.contains("Window")).foreach { l =>
      assert(!l.contains("windowspecdefinition(")
        || l.contains("_gp"), s"unpartitioned window in: $l")
    }
    // the window runs over hash-partitioned _gp groups (parallel at
    // scale; AQE may coalesce the tiny test exchange)
    assert(plan.contains("hashpartitioning(_gp"))
  }

  test("multiple values in one pass; running count gives a global rank") {
    val df = rows(997)
    val out = Prefix.globalRunningSums(df, Seq(col("id")),
      Seq(col("v") -> "cum_v", lit(1L) -> "rk")).collect()
    val byId = out.sortBy(_.getAs[Long]("id"))
    assert(byId.map(_.getAs[Long]("rk")).toSeq == (1L to 997L))
    var acc = 0L
    byId.foreach { r =>
      acc += r.getAs[Long]("v")
      assert(r.getAs[Long]("cum_v") == acc)
    }
  }

  test("globalRunningMaxExclusive matches the window form, native type kept") {
    val df = rows(4000).withColumn("g", ($"v" * 7 % 101).cast("decimal(9,2)"))
      .localCheckpoint()
    val got = Prefix.globalRunningMaxExclusive(df, Seq(col("id")),
        col("g"), "pm", partitions = 6)
      .select($"id", $"pm").collect()
      .map(r => r.getLong(0) -> Option(r.getDecimal(1)).map(_.toString))
      .toMap
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("pm", max($"g").over(w))
      .select($"id", $"pm").collect()
      .map(r => r.getLong(0) -> Option(r.getDecimal(1)).map(_.toString))
      .toMap
    assert(got == want)
    assert(got(got.keys.min).isEmpty) // global first row has no predecessor
  }

  test("re-execution of the returned frame is stable (pinned boundaries)") {
    val out = Prefix.globalRunningSum(rows(3000), Seq(col("id")), col("v"), "cum")
    val a = out.agg(sum($"cum")).head().getLong(0)
    val b = out.agg(sum($"cum")).head().getLong(0)
    assert(a == b)
    assert(out.filter($"cum" < 0).isEmpty)
  }

  test("denseIds: contiguous 0..n-1 in order, any input partitioning") {
    val df = (0 until 2000).map(i => ((i * 911) % 2000).toLong)
      .toDF("id").repartition(13)
    val got = Prefix.denseIds(df, Seq(col("id")), "sid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 2000)
    assert((0 until 2000).forall(i => got(i.toLong) == i.toLong))
  }
}
