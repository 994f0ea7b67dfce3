package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry at the gate sizing vs a bench sizing, and the
  * harness's query selection. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("the gate and a bench-sized registry name the same 259 queries") {
    val gate = SparkEntry.queries.keySet
    assert(gate.size == 259)
    assert(SparkEntry.queriesAt(Sizing(21, 1)).keySet == gate)
    assert(SparkEntry.queriesAt(Sizing.Gate).keySet == gate)
  }

  test("a panel cap of 2 serves x172 at most 2 distinct query ids") {
    def queryIds(z: Sizing): Long =
      SparkEntry.queriesAt(z)("x172_pq_adc_topk")(spark, sf)
        .select("query_id").distinct().count()
    assert(queryIds(Sizing(panelCap = 2, truthSampleBits = 0)) <= 2)
    assert(queryIds(Sizing.Gate) > 2)
  }

  test("truthSampleBits = 1 audits x142 on the sampled truth, not the gate's") {
    // the sampling runs inside the audit's eager localCheckpoints, so
    // the two optimized plans are the same: the exact-pair count shows
    // which truth was audited
    def nExact(z: Sizing): Long =
      SparkEntry.queriesAt(z)("x142_lsh_banding_audit")(spark, sf)
        .collect().head.getAs[Long]("n_exact")
    val gate = nExact(Sizing.Gate)
    assert(gate > 0)
    assert(nExact(Sizing(panelCap = 0, truthSampleBits = 1)) < gate)
  }

  test("select keeps the names the regex finds, sorted by name") {
    val fn: SparkEntry.Fn = (s, _) => s.emptyDataFrame
    val qs = Map("b2" -> fn, "a1" -> fn, "c1" -> fn, "a2" -> fn)
    assert(Harness.select(qs, None).map(_._1) == Seq("a1", "a2", "b2", "c1"))
    assert(Harness.select(qs, Some("1$")).map(_._1) == Seq("a1", "c1"))
    val x17 = Harness.select(SparkEntry.queries, Some("^x17\\d_")).map(_._1)
    assert(x17.size == 10 && x17 == x17.sorted)
  }
}
