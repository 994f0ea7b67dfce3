package graft.quality

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.quality.Rules._

class RulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = Map(
    "req_str" -> ColumnRule(TString),
    "opt_enum" -> ColumnRule(TString, nullable = true,
      allowed = Some(Seq("y", "n"))),
    "num" -> ColumnRule(TNumber, nullable = true, coerce = true),
    "dt" -> ColumnRule(TDatetime, nullable = true, coerce = true,
      minDate = Some("2012-01-01"), maxDate = Some("2030-12-31")),
  )

  private def run(rows: Seq[(String, String, String, String)]) = {
    val df = rows.toDF("req_str", "opt_enum", "num", "dt")
    Rules.profile(df, schema)
  }

  test("passing rows: all rule shapes") {
    val (good, bad) = run(Seq(
      ("a", "y", "1.5", "2020-01-02"),
      ("b", null, null, null),        // nullable columns may be null
      ("c", "n", "2e3", "2020-07"),   // scientific number, year-month date
      ("d", "y", "-4", "2020"),       // year-only date
    ))
    assert(good.count() == 4 && bad.count() == 0)
  }

  test("failing rows carry per-column qc_errors") {
    val (good, bad) = run(Seq(
      (null, "y", "1", "2020-01-01"),     // null in non-nullable
      ("a", "x", "1", "2020-01-01"),      // unallowed enum value
      ("a", "y", "abc", "2020-01-01"),    // non-coercible number
      ("a", "y", "1", "2011-12-31"),      // before min
      ("a", "y", "1", "2031-01-01"),      // after max
      ("a", "y", "1", "20-20-20-20"),     // >2 hyphens → coerced null
      ("a", "y", "1", "not-a-date"),      // unparseable
    ))
    assert(good.count() == 0)
    val errs = bad.select("qc_errors").as[String].collect()
    assert(errs.length == 7)
    assert(errs(0).contains("req_str") && errs(0).contains("null value"))
    assert(errs.exists(e => e.contains("unallowed value x")))
    assert(errs.exists(e => e.contains("min value")))
    assert(errs.exists(e => e.contains("max value")))
  }

  test("good ∪ bad = input and good ∩ bad = ∅") {
    val rows = Seq(("a", "y", "1", "2020-01-01"), ("b", "bad", "x", "nope"),
      (null, null, null, null))
    val (good, bad) = run(rows)
    assert(good.count() + bad.count() == rows.size)
    assert(good.intersect(bad).count() == 0)
  }

  test("annotate filtered on flag == profile's pair, bit for bit") {
    val df = Seq(
      ("a", "y", "1.5", "2020-01-02"), ("b", null, null, null),
      ("c", "n", "2e3", "2020-07"), ("d", "y", "-4", "2020"),
      (null, "y", "1", "2020-01-01"), ("a", "x", "1", "2020-01-01"),
      ("a", "y", "abc", "2020-01-01"), ("a", "y", "1", "2011-12-31"),
      ("a", "y", "1", "2031-01-01"), ("a", "y", "1", "20-20-20-20"),
      ("a", "y", "1", "not-a-date"),
    ).toDF("req_str", "opt_enum", "num", "dt")
    val annotated = Rules.annotate(df, schema)
    val (good, bad) = Rules.profile(df, schema)
    Seq(annotated.filter($"flag") -> good, annotated.filter(!$"flag") -> bad)
      .foreach { case (got, want) =>
        assert(got.schema == want.schema)
        assert(got.collect().toSeq == want.collect().toSeq)
      }
    assert(good.count() == 4 && bad.count() == 7)
  }

  test("columns missing from the frame are skipped") {
    val df = Seq(("a")).toDF("req_str") // only one of the four schema cols
    val (good, bad) = Rules.profile(df, schema)
    assert(good.count() == 1 && bad.count() == 0)
  }

  test("multiFormatDate granularity selection") {
    val df = Seq("2020-03-04", "2020-03", "2020", "2020-03-04-05", "x")
      .toDF("s").select(multiFormatDate($"s").cast("string").as("d"))
    assert(df.as[String].collect().toSeq ==
      Seq("2020-03-04", "2020-03-01", "2020-01-01", null, null))
  }
}
