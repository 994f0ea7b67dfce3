package graft.silver

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schema.Registries._

class SilverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cast shapes: y/n/null boolean quirk, 2-dp rounding, date, int") {
    val df = Seq(
      ("y", "3.14159", "2020-01-02", "42", "keep"),
      ("n", "2.005", "2020", "x", "keep"),
      (null, null, null, null, null),
    ).toDF("b", "d", "dt", "i", "s")
    val reg: Seq[(String, DType)] = Seq("b" -> DBool, "d" -> DDouble,
      "dt" -> DDate, "i" -> DInt, "s" -> DString)
    val out = Silver.castToDatatype(df, reg).collect()

    assert(out(0).getAs[Boolean]("b") == true)
    assert(out(1).getAs[Boolean]("b") == false)
    assert(out(2).getAs[Boolean]("b") == false)      // null → false (quirk)
    assert(out(0).getAs[Double]("d") == 3.14)        // 2-dp round
    assert(out(0).getAs[java.sql.Date]("dt").toString == "2020-01-02")
    assert(out(0).getAs[Int]("i") == 42)
    assert(out(1).isNullAt(out(1).fieldIndex("i")))  // unparseable → null
    assert(out(0).getAs[String]("s") == "keep")
  }

  test("topic split projects primaries + topic cols, drops all-null topic rows, dedups") {
    val cols = Seq("ed_code", "part", "AL1", "AL2", "AL6", "AL7", "AL50")
    val df = Seq(
      ("e1", "p1", "2020-01-01", "pool", "orig", "y", "2025-01-01"),
      ("e1", "p1", "2020-01-01", "pool", "orig", "y", "2025-01-01"), // dup
      ("e1", "p1", "2020-01-01", "pool", null, null, "2026-01-01"),  // lease_info all-null
    ).toDF(cols: _*)
    val tables = Silver.topicTables(df, "assets")
    assert(tables.keySet == Set("lease_info", "lease_features"))
    assert(tables("lease_info").columns.toSeq ==
      Seq("ed_code", "part", "AL1", "AL2", "AL6", "AL7"))
    assert(tables("lease_info").count() == 1)     // dup + all-null dropped
    assert(tables("lease_features").count() == 2) // AL50 non-null in all 3, dedup → 2
  }

  test("bond topic split without BL2: primaries are ed_code, part and the present BL1") {
    val df = Seq(("e1", "p1", "2020-01-01", "x", "y"))
      .toDF("ed_code", "part", "BL1", "BL3", "BL19")
    val tables = Silver.topicTables(df, "bond_info")
    assert(tables.keySet == Set("bond_info", "transaction_info"))
    assert(tables("bond_info").columns.toSeq ==
      Seq("ed_code", "part", "BL1", "BL3"))
    assert(tables("transaction_info").columns.toSeq ==
      Seq("ed_code", "part", "BL1", "BL19"))
    // with BL2 present it joins the primaries; BL3 stays a topic column
    val withBl2 = Silver.topicTables(
      Seq(("e1", "p1", "2020-01-01", "pool", "x")).toDF("ed_code", "part", "BL1", "BL2", "BL3"),
      "bond_info")
    assert(withBl2("bond_info").columns.toSeq ==
      Seq("ed_code", "part", "BL1", "BL2", "BL3"))
  }

  test("registry entries absent from the frame are tolerated") {
    val df = Seq(("y")).toDF("AL7")
    val out = Silver.castToDatatype(df, assetColumns)
    assert(out.collect()(0).getAs[Boolean]("AL7") == true)
  }
}
