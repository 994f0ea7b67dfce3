package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import graft.TestSpark

/** End-to-end miniature pipeline (SURVEY.md §7.2): assets CSV →
  * bronze parquet with SCD2 cols → validated/typed/topic-split silver,
  * including quarantine and idempotent re-run. */
class JobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeAssetsCsv(dir: String): Unit = {
    // AL1 date(PK), AL2 pool(PK), AL5 lease id, AL6 originator,
    // AL7 y/n enum, AL18 enum 0..6, AL30 number, AL50/AL51 dates
    val rows = Seq(
      "AL1,AL2,AL5,AL6,AL7,AL18,AL30,AL50,AL51",
      "Cut-off,Pool,Lease,Orig,Reg,Form,Price,Start,Maturity",
      // valid row
      "2023-07-31,P1,L1,OrigCo,y,3,1234.567,2020-01-01,2026-06",
      // invalid enum AL18=9 → quarantine
      "2023-07-31,P1,L2,OrigCo,n,9,10,2020-01-01,2026-06",
      // AL51 before 2012 min bound → quarantine
      "2023-07-31,P1,L3,OrigCo,y,3,10,2020-01-01,2011-01-01",
      // exact duplicate of the valid row → dropDuplicates in silver
      "2023-07-31,P1,L1,OrigCo,y,3,1234.567,2020-01-01,2026-06",
    ).mkString("\n")
    Files.write(Paths.get(dir, "DEAL1_2023_07_31_Loan_Data.csv"),
      rows.getBytes(StandardCharsets.UTF_8))
    // a Labeled tape that must be excluded from discovery
    Files.write(Paths.get(dir, "DEAL1_2023_07_31_Labeled_Loan_Data.csv"),
      rows.getBytes(StandardCharsets.UTF_8))
  }

  test("bronze → silver end to end with quarantine and idempotency") {
    val raw = Files.createTempDirectory("raw").toString
    val lake = Files.createTempDirectory("lake").toString
    writeAssetsCsv(raw)

    val loaded = Jobs.bronzeCsv(spark, raw, lake, "assets", "DEAL1",
      "Loan_Data", "2023-07-31")
    assert(loaded == Seq(("DEAL1", "2023-07-31")))

    val bronze = spark.read.parquet(s"$lake/bronze/assets")
    assert(bronze.count() == 4)
    assert(bronze.columns.contains("checksum"))
    assert(bronze.select("part").distinct().as[String].collect()
      .toSeq == Seq("DEAL1_20230731"))

    // first-write-wins: re-running with a new date must skip the existing
    // partition and write no new ledger rows
    val rerun = Jobs.bronzeCsv(spark, raw, lake, "assets", "DEAL1",
      "Loan_Data", "2023-08-01")
    assert(rerun.isEmpty)
    // same date: whole job skipped by clean-dump probe
    val sameDay = Jobs.bronzeCsv(spark, raw, lake, "assets", "DEAL1",
      "Loan_Data", "2023-07-31")
    assert(sameDay.isEmpty)

    Jobs.silverTopicSplit(spark, lake, "assets")

    // 2 invalid rows quarantined with error annotations
    val dirty = spark.read.parquet(s"$lake/dirty_dumps/assets")
    assert(dirty.count() == 2)
    assert(dirty.filter($"qc_errors".contains("AL18")).count() == 1)
    assert(dirty.filter($"qc_errors".contains("AL51")).count() == 1)

    // lease_info: valid row + dup → 1 row after dedup, typed values
    val leaseInfo = spark.read.parquet(s"$lake/silver/assets/lease_info")
    assert(leaseInfo.count() == 1)
    val r = leaseInfo.collect()(0)
    assert(r.getAs[java.sql.Date]("AL1").toString == "2023-07-31")
    assert(r.getAs[Boolean]("AL7") == true)
    assert(r.getAs[Double]("AL30") == 1234.57) // 2-dp rounding
    // lease_features carries AL50/AL51 as dates
    val feats = spark.read.parquet(s"$lake/silver/assets/lease_features")
    assert(feats.collect()(0).getAs[java.sql.Date]("AL50").toString == "2020-01-01")
  }

  private def writeDealCsv(dir: String, deal: String, lease: String,
                           price: String): Unit = {
    val rows = Seq(
      "AL1,AL2,AL5,AL6,AL7,AL18,AL30,AL50,AL51",
      "Cut-off,Pool,Lease,Orig,Reg,Form,Price,Start,Maturity",
      s"2023-07-31,P1,$lease,OrigCo,y,3,$price,2020-01-01,2026-06",
    ).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, s"${deal}_2023_07_31_Loan_Data.csv"),
      rows.getBytes(StandardCharsets.UTF_8))
  }

  test("run-all fan-out: concurrent deals produce the same silver as sequential") {
    val rawRoot = Files.createTempDirectory("rawall").toString
    val lakePar = Files.createTempDirectory("lakepar").toString
    val lakeSeq = Files.createTempDirectory("lakeseq").toString
    val deals = Seq("DEALP1" -> "100.10", "DEALP2" -> "200.20", "DEALP3" -> "300.30")
    deals.zipWithIndex.foreach { case ((d, price), i) =>
      writeDealCsv(s"$rawRoot/$d", d, s"L$i", price)
    }

    val done = Jobs.runAllDeals(spark, rawRoot, lakePar, "2023-07-31",
      parallelism = 3)
    assert(done == deals.map(_._1))

    // sequential reference run
    deals.foreach { case (d, _) =>
      Jobs.bronzeCsv(spark, s"$rawRoot/$d", lakeSeq, "assets", d,
        "Loan_Data", "2023-07-31")
    }
    Jobs.silverTopicSplit(spark, lakeSeq, "assets")

    def leaseRows(lake: String) =
      spark.read.parquet(s"$lake/silver/assets/lease_info")
        .select("ed_code", "AL5", "AL30").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(leaseRows(lakePar) == leaseRows(lakeSeq))
    assert(leaseRows(lakePar).map(_._1) == deals.map(_._1).toSet)

    // re-run is a no-op per deal (idempotency ledger is per ed_code)
    val rerun = Jobs.runAllDeals(spark, rawRoot, lakePar, "2023-07-31",
      parallelism = 3)
    assert(rerun == deals.map(_._1))
    assert(leaseRows(lakePar).size == 3)
  }

  test("gold: principal outstanding per country over the mini lake") {
    val raw = Files.createTempDirectory("rawgold").toString
    val lake = Files.createTempDirectory("lakegold").toString
    val rows = Seq(
      "AL1,AL2,AL5,AL15,AL56",
      "Cut-off,Pool,Lease,Country,Principal",
      "2023-07-31,P1,L1,DE,1000.50",
      "2023-07-31,P1,L2,DE,2000.25",
      "2023-07-31,P1,L3,FR,500.10",
    ).mkString("\n")
    Files.write(Paths.get(raw, "DEALG_2023_07_31_Loan_Data.csv"),
      rows.getBytes(StandardCharsets.UTF_8))
    Jobs.bronzeCsv(spark, raw, lake, "assets", "DEALG", "Loan_Data", "2023-07-31")
    Jobs.silverTopicSplit(spark, lake, "assets")
    val gold = Gold.principalByCountry(spark, lake).collect()
      .map(r => r.getAs[String]("country") ->
        (r.getAs[Double]("principal_outstanding"), r.getAs[Long]("n_leases"))).toMap
    assert(gold("de") == (3000.75, 2L))
    assert(gold("fr") == (500.1, 1L))
  }

  private def dealXml(ed: String, country: String, balance: String, assets: String) =
    s"""<?xml version="1.0"?>
       |<ns:Envelope xmlns:ns="urn:edw">
       |  <ns:Header><ns:Noise>x</ns:Noise></ns:Header>
       |  <ns:Body><ns:Wrapper><ns:Meta>m</ns:Meta><ns:Deals><ns:Deal>
       |    <ns:EDCode>$ed</ns:EDCode>
       |    <ns:PoolCutOffDate>2023-07-31T00:00:00</ns:PoolCutOffDate>
       |    <ns:CountryCodeOfSecuritisedAsset>$country</ns:CountryCodeOfSecuritisedAsset>
       |    <ns:CurrentPoolBalance>$balance</ns:CurrentPoolBalance>
       |    <ns:NumberOfActiveAssets>$assets</ns:NumberOfActiveAssets>
       |    <ns:Submissions><ns:Submission>
       |      <ns:RequestId>r-$ed</ns:RequestId>
       |    </ns:Submission></ns:Submissions>
       |  </ns:Deal></ns:Deals></ns:Wrapper></ns:Body>
       |</ns:Envelope>""".stripMargin

  private def writeDealXml(dir: String, name: String, xml: String): Unit =
    Files.write(Paths.get(dir, name), xml.getBytes(StandardCharsets.UTF_8))

  test("deal_details xml → bronze → silver → gold dealSummary") {
    val lake = Files.createTempDirectory("lakedeal").toString
    Seq(("DEALD1", "de", "1000.50", "10"), ("DEALD2", "de", "2000.25", "20"),
        ("DEALD3", "fr", "500.10", "5")).foreach {
      case (ed, c, b, a) =>
        val raw = Files.createTempDirectory(s"rawdeal$ed").toString
        writeDealXml(raw, s"${ed}_Deal_Details.xml", dealXml(ed, c, b, a))
        assert(Jobs.bronzeDealDetails(spark, raw, lake, "Deal_Details") == 0)
    }
    Jobs.silverDealDetails(spark, lake)
    val gold = Gold.dealSummary(spark, lake).collect()
      .map(r => r.getAs[String]("country") ->
        (r.getAs[Double]("pool_balance"), r.getAs[Long]("active_assets"),
          r.getAs[Long]("n_deals"))).toMap
    assert(gold("de") == (3000.75, 30L, 2L))
    assert(gold("fr") == (500.1, 5L, 1L))
  }

  test("bond_info bronze → silver end to end") {
    val raw = Files.createTempDirectory("rawbond").toString
    val lake = Files.createTempDirectory("lakebond").toString
    val rows = Seq(
      "BL1,BL2,BL4,BL11,BL19,BL25",
      "Report Date,Issuer,Flag,Amount,Contact,Tranche",
      "2023-07-31,ISSUER GmbH,y,1000.555,ops team,A1",
      "2023-07-31,ISSUER GmbH,n,2000.4,ops team,B2",
    ).mkString("\n")
    Files.write(Paths.get(raw, "DEAL2_2023_07_31_Bond_Info.csv"),
      rows.getBytes(StandardCharsets.UTF_8))

    Jobs.bronzeCsv(spark, raw, lake, "bond_info", "DEAL2", "Bond_Info",
      "2023-07-31")
    Jobs.silverTopicSplit(spark, lake, "bond_info")

    val bondInfo = spark.read.parquet(s"$lake/silver/bond_info/bond_info")
    assert(bondInfo.count() == 2)
    val byFlag = bondInfo.orderBy("BL11").collect()
    assert(byFlag(0).getAs[Boolean]("BL4") == true)   // y → true
    assert(byFlag(0).getAs[Double]("BL11") == 1000.56) // 2-dp round
    val tranche = spark.read.parquet(s"$lake/silver/bond_info/tranche_info")
    assert(tranche.select("BL25").orderBy("BL25").collect()
      .map(_.getString(0)).toSeq == Seq("a1", "b2"))
  }

  test("deal_details resubmission with the same cut-off date merges through SCD2") {
    val raw = Files.createTempDirectory("rawresub").toString
    val lake = Files.createTempDirectory("lakeresub").toString
    writeDealXml(raw, "DEALR_Deal_Details.xml", dealXml("DEALR", "de", "1000.50", "10"))
    assert(Jobs.bronzeDealDetails(spark, raw, lake, "Deal_Details") == 0)
    // same PoolCutOffDate, changed non-key field: the merge re-reads and
    // replaces the partition it was built from
    writeDealXml(raw, "DEALR_Deal_Details.xml", dealXml("DEALR", "de", "2000.25", "10"))
    assert(Jobs.bronzeDealDetails(spark, raw, lake, "Deal_Details") == 0)
    val rows = spark.read.parquet(s"$lake/bronze/deal_details")
      .where($"part" === "DEALR_20230731")
      .select("iscurrent", "CurrentPoolBalance").as[(Int, String)].collect()
    // keys-only checksum: unchanged keys keep the first version
    assert(rows.toSeq == Seq((1, "1000.50")))
  }

  test("silver batches ledger partitions with the per-partition output") {
    val raw = Files.createTempDirectory("rawbatch").toString
    val lake = Files.createTempDirectory("lakebatch").toString
    val header = Seq("AL1,AL2,AL5,AL6,AL7,AL18,AL30,AL50,AL51",
      "Cut-off,Pool,Lease,Orig,Reg,Form,Price,Start,Maturity")
    val shared = "2023-07-31,P1,L1,OrigCo,y,3,1234.567,2020-01-01,2026-06"
    def tape(date: String, rows: String*): Unit =
      Files.write(Paths.get(raw, s"DEALB_${date}_Loan_Data.csv"),
        (header ++ rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
    // the same row in both partitions: dedup must stay within a part
    tape("2023_07_31", shared, shared,
      "2023-07-31,P1,L2,OrigCo,n,9,10,2020-01-01,2026-06") // bad AL18
    tape("2023_08_31", shared, "2023-07-31,P1,L4,OrigCo,n,2,55,2021-03-01,2027-01")
    assert(Jobs.bronzeCsv(spark, raw, lake, "assets", "DEALB", "Loan_Data",
      "2023-09-01").size == 2)

    Jobs.silverTopicSplit(spark, lake, "assets")

    def tableRows(path: String): Map[String, Seq[String]] =
      spark.read.parquet(path).collect().toSeq
        .groupBy(_.getAs[String]("part"))
        .map { case (p, rs) => p -> rs.map(_.toString).sorted }
    def silver(): Map[String, Map[String, Seq[String]]] =
      new java.io.File(s"$lake/silver/assets").listFiles()
        .map(t => t.getName -> tableRows(t.getPath)).toMap
    val first = silver()
    val lease = spark.read.parquet(s"$lake/silver/assets/lease_info")
      .select("part", "AL5").as[(String, String)].collect().toSeq.groupBy(_._1)
      .map { case (p, rs) => p -> rs.map(_._2).sorted }
    assert(lease == Map("DEALB_20230731" -> Seq("l1"), "DEALB_20230831" -> Seq("l1", "l4")))
    assert(first.values.forall(_.keySet == Set("DEALB_20230731", "DEALB_20230831")))
    val dirty = tableRows(s"$lake/dirty_dumps/assets")
    assert(dirty.keySet == Set("DEALB_20230731") && dirty("DEALB_20230731").size == 1)

    Jobs.silverTopicSplit(spark, lake, "assets")
    assert(silver() == first)
    assert(tableRows(s"$lake/dirty_dumps/assets") == dirty)
  }

  test("run-all: a failing deal propagates its error and leaves no pool thread") {
    val rawRoot = Files.createTempDirectory("rawfail").toString
    val lake = Files.createTempDirectory("lakefail").toString
    val dir = Files.createDirectories(Paths.get(rawRoot, "DEALF")).toString
    Seq("a", "b").foreach { v =>
      writeDealXml(dir, s"DEALF_${v}_Deal_Details.xml", dealXml("DEALF", "de", "1", "1"))
    }
    def nonDaemon(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    val before = nonDaemon()
    val e = intercept[RuntimeException](
      Jobs.runAllDeals(spark, rawRoot, lake, "2023-07-31", parallelism = 2))
    assert(e.getMessage.contains("expected exactly one XML"))
    // an idle pool thread would never exit and keep the JVM alive
    val leaked = nonDaemon() -- before
    leaked.foreach(_.join(10000))
    assert(leaked.forall(!_.isAlive), leaked.map(_.getName))
  }
}
