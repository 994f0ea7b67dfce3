package graft.scd2

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.io.CleanCsv

class Scd2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Bronze-shaped frame for data_type=assets (PK AL1, AL2). */
  private def bronze(rows: Seq[(String, String, String)]) = {
    val df = rows.toDF("AL1", "AL2", "payload")
      .withColumn("pcd", lit("2023-07-31"))
      .withColumn("ed_code", lit("D1"))
    CleanCsv.withBookkeeping(df, "assets")
  }

  test("matrix: unchanged / changed-key / new-key / removed-key") {
    val old = bronze(Seq(
      ("2023-07-31", "poolA", "v1"),   // will match unchanged
      ("2023-07-31", "poolB", "v1"),   // key disappears in new load
    ))
    // same keys → same checksum (keys-only quirk): poolA row "changes"
    // payload but NOT checksum → treated as unchanged (parity quirk)
    val newDf = bronze(Seq(
      ("2023-07-31", "poolA", "v2"),
      ("2023-07-31", "poolC", "v1"),   // brand-new key
    ))
    val merged = Scd2.merge(old, newDf, "assets").cache()

    // poolA: unchanged by checksum → old version kept, no new row
    // note: fixture bypasses cell cleaning so case is preserved
    assert(merged.filter($"AL2" === "poolA").count() == 1)
    assert(merged.filter($"AL2" === "poolA").select("payload").first().getString(0) == "v1")
    // poolB: no new match → persists current
    assert(merged.filter($"AL2" === "poolB" && $"iscurrent" === 1).count() == 1)
    // poolC: inserted current
    assert(merged.filter($"AL2" === "poolC" && $"iscurrent" === 1).count() == 1)
  }

  test("changed checksum expires old and inserts new") {
    val old = bronze(Seq(("2023-07-31", "poolA", "v1")))
    // different pcd ⇒ different checksum for same AL2 — emulate a
    // corrected resubmission where a key column shifted
    val newDf = bronze(Seq(("2023-07-30", "poolA", "v2")))
      .withColumn("AL1", lit("2023-07-31"))
    val joinedKeys = Scd2.merge(
      old, newDf.withColumn("pcd", lit("2023-07-31")), "assets").cache()
    val poolA = joinedKeys.filter($"AL2" === "poolA")
    assert(poolA.count() == 2)
    assert(poolA.filter($"iscurrent" === 0 && $"valid_to".isNotNull).count() == 1)
    assert(poolA.filter($"iscurrent" === 1 && $"payload" === "v2").count() == 1)
  }

  test("null-checksum current rows survive the merge (presence flags)") {
    // A nulled PK cell null-propagates through the md5 concat →
    // checksum NULL on a legitimate CURRENT row. Presence in the merge
    // must not key off checksum, or this row silently vanishes.
    val old = bronze(Seq(("2023-07-31", "poolA", "v1")))
      .withColumn("AL2", lit(null).cast("string"))
      .withColumn("checksum", lit(null).cast("string"))
    val newDf = bronze(Seq(("2023-07-31", "poolC", "v1")))
    val merged = Scd2.merge(old, newDf, "assets").cache()
    // the null-key row persists as current; poolC inserts
    assert(merged.filter($"AL2".isNull && $"iscurrent" === 1).count() == 1)
    assert(merged.filter($"AL2" === "poolC" && $"iscurrent" === 1).count() == 1)
    assert(merged.count() == 2)
    // null-vs-null checksum on matching keys = unchanged, not a new version
    val resub = bronze(Seq(("2023-07-31", "poolA", "v2")))
      .withColumn("AL2", lit(null).cast("string"))
      .withColumn("checksum", lit(null).cast("string"))
    val merged2 = Scd2.merge(merged, resub, "assets").cache()
    assert(merged2.filter($"AL2".isNull).count() == 1)
    assert(merged2.filter($"AL2".isNull).select("payload").first().getString(0) == "v1")
  }

  test("exactly one current version per PK after repeated merges") {
    var table = bronze(Seq(("2023-07-31", "poolA", "v1")))
    (1 to 3).foreach { i =>
      val next = bronze(Seq(("2023-07-31", "poolA", s"v$i")))
      table = Scd2.merge(table, next, "assets")
    }
    val perKey = table.filter($"iscurrent" === 1)
      .groupBy("AL1", "AL2").count().collect()
    assert(perKey.forall(_.getAs[Long]("count") == 1))
  }
}
