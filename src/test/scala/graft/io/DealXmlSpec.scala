package graft.io

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import graft.TestSpark

/** Fixture contract: FIXTURES.md §A.3 — payload node at element path
  * [1][0][1][0], namespaced tags, ISIN child list, skipped always-null
  * fields, Submissions wrapper inlined. */
class DealXmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val xml =
    """<?xml version="1.0"?>
      |<ns:Envelope xmlns:ns="urn:edw">
      |  <ns:Header><ns:Noise>x</ns:Noise></ns:Header>
      |  <ns:Body>
      |    <ns:Wrapper>
      |      <ns:Meta>m</ns:Meta>
      |      <ns:Deals>
      |        <ns:Deal>
      |          <ns:EDCode>LESSES0001</ns:EDCode>
      |          <ns:DealName>Test Deal</ns:DealName>
      |          <ns:PoolCutOffDate>2023-07-31T00:00:00</ns:PoolCutOffDate>
      |          <ns:Country/>
      |          <ns:DealVisibleToOrg/>
      |          <ns:DealVisibleToUser/>
      |          <ns:ISIN><ns:v>AA1</ns:v><ns:v>BB2</ns:v></ns:ISIN>
      |          <ns:EmptyField/>
      |          <ns:Submissions>
      |            <ns:Submission>
      |              <ns:RequestId>r-1</ns:RequestId>
      |              <ns:MetricData>skip</ns:MetricData>
      |              <ns:IsProvisional>skip</ns:IsProvisional>
      |              <ns:IsRestructured>skip</ns:IsRestructured>
      |              <ns:SubmissionTimestamp>2023-08-01</ns:SubmissionTimestamp>
      |            </ns:Submission>
      |            <ns:Submission><ns:RequestId>r-2</ns:RequestId></ns:Submission>
      |          </ns:Submissions>
      |        </ns:Deal>
      |      </ns:Deals>
      |    </ns:Wrapper>
      |  </ns:Body>
      |</ns:Envelope>""".stripMargin

  test("flattening, skips, ISIN join, pcd, bookkeeping") {
    val dir = Files.createTempDirectory("dealxml").toString
    val p = Paths.get(dir, "LESSES0001_Deal_Details.xml")
    Files.write(p, xml.getBytes(StandardCharsets.UTF_8))
    val (pcd, df) = DealXml.read(spark, p.toString)
    assert(pcd == "20230731")
    val row = df.collect()(0)
    val cols = df.columns.toSeq
    assert(cols.contains("ed_code") && !cols.contains("EDCode"))
    assert(!cols.exists(Seq("Country", "DealVisibleToOrg", "DealVisibleToUser",
      "MetricData", "IsProvisional", "IsRestructured").contains))
    assert(row.getAs[String]("ISIN") == "AA1;BB2")
    assert(row.getAs[String]("DealName") == "Test Deal")
    assert(row.getAs[String]("RequestId") == "r-1") // first Submission only
    assert(row.getAs[String]("SubmissionTimestamp") == "2023-08-01")
    assert(row.isNullAt(row.fieldIndex("EmptyField"))) // ""→null
    assert(row.getAs[String]("part") == "LESSES0001_20230731")
    assert(row.getAs[Int]("iscurrent") == 1)
  }

  test("parse carries the frame's ed_code and read's pcd") {
    val dir = Files.createTempDirectory("dealxml").toString
    val p = Paths.get(dir, "LESSES0001_Deal_Details.xml")
    Files.write(p, xml.getBytes(StandardCharsets.UTF_8))
    val parsed = DealXml.parse(spark, p.toString)
    assert(parsed.edCode == "LESSES0001")
    assert(parsed.edCode == parsed.df.select("ed_code").first().getString(0))
    assert(parsed.pcd == DealXml.read(spark, p.toString)._1)
  }
}
