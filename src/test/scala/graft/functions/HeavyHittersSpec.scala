package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class HeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def summary(df: org.apache.spark.sql.DataFrame, cap: Int) =
    df.agg(HeavyHittersAgg.heavyHitters(col("item"), cap).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select("h.item", "h.est", "h.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("exact regime: cap >= distinct gives exact counts, any partitioning") {
    val items = (1 to 500).map(i => s"k${i % 7}")
    val expect = items.groupBy(identity).map { case (k, xs) =>
      (k, xs.size.toLong, 0L)
    }.toSeq.sortBy(t => (-t._2, t._1))
    Seq(1, 9).foreach { parts =>
      val got = summary(items.toDF("item").repartition(parts), cap = 16).toSeq
      assert(got == expect, s"parts=$parts")
    }
  }

  test("overflow regime: published SpaceSaving bounds hold on skewed input") {
    // one hot item (1000), 200 singleton tail; cap 16 << 201 distinct
    val items = Seq.fill(1000)("hot") ++ (1 to 200).map(i => s"tail$i")
    val n = items.size
    val cap = 16
    val got = summary(items.toDF("item").repartition(5), cap)
    assert(got.length <= cap)
    // every item with true frequency > n/cap must be present
    val hot = got.find(_._1 == "hot").get
    // true <= est <= true + err, and err <= n/cap per partial chain;
    // merged errors sum, still bounded by n/cap overall here
    assert(hot._2 >= 1000L && hot._2 <= 1000L + hot._3)
    got.foreach { case (item, est, err) =>
      val truth = if (item == "hot") 1000L else 1L
      assert(est >= truth && est - err <= truth,
        s"$item est=$est err=$err truth=$truth")
    }
    assert(got.map(_._3).max <= n / cap * 2,
      "merged error stays within the summed-partials bound")
  }

  test("SQL text form via session registration") {
    Seq("a", "a", "b").toDF("item").createOrReplaceTempView("hh_in")
    val rows = spark.sql(
      "SELECT explode(graft_heavyhitters(item, 4)) AS h FROM hh_in")
      .select("h.item", "h.est").collect().toSeq
    assert(rows == Seq(Row("a", 2L), Row("b", 1L)))
  }

  // drive the aggregate directly (no Spark job) to pin merge
  // behaviour on a CONSTRUCTED pair of partials — partition-order
  // tests can't reliably force "evicted in one partial, kept in the
  // other"
  private def mkAgg(cap: Int) = HeavyHittersAgg(
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.StringType, nullable = true),
    cap)
  private def feed(agg: HeavyHittersAgg, buf: HHBuf, items: String*): Unit =
    items.foreach { i =>
      agg.update(buf, new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(i))))
    }
  private def evalPairs(buf: HHBuf): Seq[(String, Long, Long)] =
    buf.m.toSeq.map { case (i, (c, e)) => (i, c, e) }
      .sortBy { case (i, c, _) => (-c, i) }

  test("merge: item evicted in one lossy partial inherits its floor") {
    val agg = mkAgg(cap = 2)
    // partial A sees t exactly (never evicts)
    val a = agg.createAggregationBuffer()
    feed(agg, a, "t", "t", "t")
    // partial B: t arrives first, then u×5 fills, v×4 evicts t
    val b = agg.createAggregationBuffer()
    feed(agg, b, "t", "u", "u", "u", "u", "u", "v", "v", "v", "v")
    assert(b.lossy && !b.m.contains("t"), "t must have been evicted from B")
    val merged = agg.merge(a, b)
    val got = evalPairs(merged)
    // true counts: t=4, u=5, v=4; B's floor (min est) covers t's lost
    // copies, so true <= est <= true + err must hold for every slot
    val truth = Map("t" -> 4L, "u" -> 5L, "v" -> 4L)
    got.foreach { case (item, est, err) =>
      assert(est >= truth(item) && est - err <= truth(item),
        s"$item est=$est err=$err truth=${truth(item)}")
    }
    // the old sum-and-truncate merge returned t est=3 < truth 4
    assert(got.find(_._1 == "t").forall(_._2 >= 4L))
  }

  test("merge: a full but never-evicting partial stays exact") {
    val agg = mkAgg(cap = 2)
    val a = agg.createAggregationBuffer()
    feed(agg, a, "x", "x", "y") // size == cap, zero evictions
    val b = agg.createAggregationBuffer()
    feed(agg, b, "x")
    val merged = agg.merge(a, b)
    // y absent from B and x absent floor must stay 0: exact counts
    assert(evalPairs(merged) == Seq(("x", 3L, 0L), ("y", 1L, 0L)))
    assert(!merged.lossy)
  }

  test("serialize survives items beyond the 64 KiB writeUTF limit") {
    val agg = mkAgg(cap = 4)
    val buf = agg.createAggregationBuffer()
    val big = "ü" * 70000 // 140000 UTF-8 bytes
    feed(agg, buf, big, big, "small")
    val back = agg.deserialize(agg.serialize(buf))
    assert(evalPairs(back) == Seq((big, 2L, 0L), ("small", 1L, 0L)))
    assert(back.lossy == buf.lossy)
  }

  test("nulls are skipped; empty input gives an empty summary") {
    val got = summary(
      Seq(Some("x"), None, Some("x")).toDF("item"), cap = 4)
    assert(got.toSeq == Seq(("x", 2L, 0L)))
    assert(summary(Seq.empty[String].toDF("item"), cap = 4).isEmpty)
  }
}
