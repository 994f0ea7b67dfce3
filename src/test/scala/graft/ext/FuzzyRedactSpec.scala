package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class FuzzyRedactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("redact: masks emails, IPs and phones; counts the originals") {
    val rows = Seq(
      (1L, "mail a@b.io and c.d+x@e.org, ip 192.168.0.1, tel +44-123-4567-890"),
      (2L, "nothing sensitive here"),
      (3L, "two ips 10.0.0.1 10.0.0.2 and version 1.2 stays")).toDF("id", "text")
    val out = Redact.redact(rows, "text").orderBy($"id").collect()
    assert(out(0).getAs[String]("text") ==
      "mail <EMAIL> and <EMAIL>, ip <IP>, tel <PHONE>")
    assert(out(0).getAs[Int]("n_email") == 2)
    assert(out(0).getAs[Int]("n_ipv4") == 1)
    assert(out(0).getAs[Int]("n_phone") == 1)
    assert(out(1).getAs[String]("text") == "nothing sensitive here")
    assert(Seq("n_email", "n_ipv4", "n_phone").forall(out(1).getAs[Int](_) == 0))
    // "version 1.2" is not an IPv4 — conservative patterns
    assert(out(2).getAs[Int]("n_ipv4") == 2)
    assert(out(2).getAs[String]("text").endsWith("version 1.2 stays"))
  }

  test("luhnValid and ibanValid: known-valid identifiers, corruption flips") {
    val valid = Seq("4111111111111111", "4539578763621486",
      "5555555555554444", "378282246310005")
    val cards = (valid ++ valid.map(c => c.dropRight(1) +
      ((c.last - '0' + 1) % 10).toString)).toDF("n")
    val got = cards.select(col("n"), Redact.luhnValid(col("n")).as("ok"))
      .as[(String, Boolean)].collect().toMap
    valid.foreach(c => assert(got(c), c))
    got.view.filterKeys(k => !valid.contains(k)).foreach { case (c, ok) =>
      assert(!ok, s"corrupted $c must fail")
    }
    val ibans = Seq(
      "DE89370400440532013000" -> true,
      "GB82WEST12345698765432" -> true,
      "FR1420041010050500013M02606" -> true,
      "NL91ABNA0417164300" -> true,
      "DE89370400440532013001" -> false, // last digit bumped
      "DE89370400440532013000X" -> false, // format violation
      "de89370400440532013000" -> false, // lowercase country
      "DE8937040044" -> false) // too short
    val gotI = ibans.map(_._1).toDF("i")
      .select(col("i"), Redact.ibanValid(col("i")).as("ok"))
      .as[(String, Boolean)].collect().toMap
    ibans.foreach { case (i, want) => assert(gotI(i) == want, i) }
  }

  test("verifiedCards: checksum gates extraction, order ids excluded") {
    val rows = Seq(
      (1L, "pay with 4111111111111111 order 4111111111111112 ref 12345"),
      (2L, "no digits at all")).toDF("id", "text")
    val got = rows.select(col("id"), Redact.verifiedCards(col("text")).as("c"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("4111111111111111"))
    assert(got(2L).isEmpty)
  }

  test("redact is idempotent: redacted text has no further matches") {
    val rows = Seq((1L, "a@b.io at 10.0.0.1 tel +1-555-0000-123")).toDF("id", "text")
    val once = Redact.redact(rows, "text").select("id", "text")
    val twice = Redact.redact(once, "text").orderBy($"id").collect()(0)
    assert(twice.getAs[String]("text") == "<EMAIL> at <IP> tel <PHONE>")
    assert(Seq("n_email", "n_ipv4", "n_phone").forall(twice.getAs[Int](_) == 0))
  }

  private val names = Seq(
    (1L, "acme corp"), (2L, "acme corpp"), (3L, "acme cor"),
    (4L, "acme holdings"), (5L, "other inc"), (6L, "acme corp") // dup row
  ).toDF("id", "name")

  test("fuzzyPairs: within-block pairs under the distance bound only") {
    val pairs = Fuzzy.fuzzyPairs(names, "name", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(pairs == Set(
      ("acme cor", "acme corp", 1L),
      ("acme cor", "acme corpp", 2L),
      ("acme corp", "acme corpp", 1L)))
    // "other inc" is in a different block: never compared
    assert(!pairs.exists(p => p._1.startsWith("other") || p._2.startsWith("other")))
  }

  test("goldenRecord: majority wins, ties break low, nulls don't vote") {
    val df = Seq(
      (1L, Some("A"), Some(10L)), (1L, Some("A"), Some(20L)),
      (1L, Some("B"), None),
      (2L, Some("X"), Some(7L)), (2L, Some("Y"), Some(7L)))
      .toDF("cl", "seg", "nk").repartition(3)
    val got = graft.ext.Fuzzy.goldenRecord(df, "cl", Seq("seg", "nk"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got((1L, "seg")) == (("A", 2L, 2L, 3L))) // majority
    assert(got((1L, "nk")) == (("10", 1L, 2L, 2L))) // 1-1 tie → low
    assert(got((2L, "seg")) == (("X", 1L, 2L, 2L))) // tie → low
    assert(got((2L, "nk")) == (("7", 2L, 1L, 2L)))  // consensus
  }
}
