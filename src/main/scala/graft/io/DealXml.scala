package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.xml.{Elem, Node}

/** Deal-details XML → single-row bronze table (SURVEY.md §2 #7;
  * reference `generate_deal_details_bronze.py:77-144`).
  *
  * One XML file describes one deal submission, so a driver-side parse
  * is the right scale posture (the distributed unit is the deal, not
  * the file). Flattening semantics preserved:
  *  - payload node reached via element-children path [1][0][1][0];
  *  - namespaces stripped from tags;
  *  - ISIN child elements flattened to a ";"-joined string;
  *  - always-null fields Country / DealVisibleToOrg / DealVisibleToUser
  *    dropped;
  *  - first Submissions child's fields inlined, except MetricData /
  *    IsProvisional / IsRestructured;
  *  - empty text → null; EDCode renamed ed_code;
  *  - pcd = PoolCutOffDate date part with hyphens removed;
  *  - checksum = md5(ed_code || PoolCutOffDate) (keys-only quirk,
  *    SURVEY §2.c.2).
  */
object DealXml {

  private def elems(n: Node): Seq[Node] = n.child.filter(_.isInstanceOf[Elem])

  private val skipTop = Set("Country", "DealVisibleToOrg", "DealVisibleToUser")
  private val skipSubmission = Set("MetricData", "IsProvisional", "IsRestructured")

  /** One parsed deal-details XML: its pcd (`yyyyMMdd`), its ed_code
    * (the `EDCode` field, null when missing or empty) and the 1-row
    * bronze frame. */
  final case class Parsed(pcd: String, edCode: String, df: DataFrame)

  /** Parse + flatten one deal-details XML; returns (pcd, 1-row DF). */
  def read(spark: SparkSession, path: String): (String, DataFrame) = {
    val p = parse(spark, path)
    (p.pcd, p.df)
  }

  /** [[read]], plus the ed_code the driver already parsed, so callers
    * need no Spark job to take it back out of the frame. */
  def parse(spark: SparkSession, path: String): Parsed = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val root = try scala.xml.XML.load(in) finally in.close()

    val payload = elems(elems(elems(elems(root)(1))(0))(1))(0)
    val fields = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    elems(payload).foreach { child =>
      child.label match {
        case "ISIN" =>
          fields += "ISIN" -> elems(child).map(_.text).mkString(";")
        case tag if skipTop.contains(tag) => ()
        case "Submissions" =>
          elems(elems(child).head).foreach { sub =>
            if (!skipSubmission.contains(sub.label))
              fields += sub.label -> sub.text
          }
        case tag => fields += tag -> child.text
      }
    }
    val cols = fields.map(_._1)
    require(cols.distinct.size == cols.size, s"duplicate XML fields in $path")

    val pcdRaw = fields.find(_._1 == "PoolCutOffDate")
      .getOrElse(sys.error(s"PoolCutOffDate missing in $path"))._2
    val pcd = pcdRaw.split("T")(0).replace("-", "")

    val values = fields.map { case (_, v) => if (v == null || v.isEmpty) null else v }
    val edCode = values.lift(cols.indexOf("EDCode")).orNull
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)).toArray)
    val row = Row.fromSeq(values.toSeq)
    val df = spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.List.of(row)), schema)
      .withColumnRenamed("EDCode", "ed_code")
      .withColumn("valid_from", current_timestamp())
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("iscurrent", lit(1).cast("int"))
      .withColumn("checksum",
        md5(concat(col("ed_code"), col("PoolCutOffDate")).cast("binary")))
      .withColumn("part", concat(col("ed_code"), lit("_"), lit(pcd)))
    Parsed(pcd, edCode, df)
  }
}
