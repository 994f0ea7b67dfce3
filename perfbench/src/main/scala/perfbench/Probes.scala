package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import org.json4s.JValue

import graft.io.{CleanCsv, DealXml, Lake}
import graft.quality.Rules
import graft.scd2.Scd2
import graft.schema.{Registries, ValidationSchemas}
import graft.silver.Silver

/** The traced run's second half. First the calibration kit drives the
  * layers this workload does not reach (the small pipeline for
  * index_refresh, the small ANN lifecycle for daily_increment), so
  * every per-layer figure is measured on every workload. Then each
  * pipeline layer is called on its own, into a noop sink: the per-row
  * layers (CSV cleaning, transliteration, publish, quality, silver) on
  * the generated probe tape, large enough that per-job overhead is a
  * small share of their time; deal XML, SCD2 and the lake's FS probes
  * on the workload's own inputs and lake (the kit's for index_refresh). */
class Probes(spark: SparkSession, tr: Tracer, inputs: String, work: String,
             truth: JValue, cpus: Int) {

  private val quiet = new Ops(Some(tr), emitEvents = false)
  private val w = Workloads(spark, quiet, inputs, work, cpus, truth, Some(tr))

  def run(workload: String): Unit = {
    val kitLake = s"$work/kit-lake"
    tr.beginPhase("kit", kitLake)
    if (workload == "index_refresh") w.kitPipeline(kitLake)
    else w.indexRefresh(s"$inputs/kit/vec", s"$work/kit-index", "kit.")
    tr.endPhase()

    val (rawRoot, lake) =
      if (workload == "daily_increment") (s"$inputs/day2", s"$work/lake")
      else (s"$inputs/kit/raw", kitLake)
    val probeLake = s"$work/probe-lake"
    val tape = files(s"$inputs/kit/probe").filter(_.endsWith("_Loan_Data.csv")).head
    tr.beginPhase("probes", probeLake)
    csvProbes(tape)
    publishProbe(tape, s"$probeLake/bronze/assets")
    rowProbes(s"$probeLake/bronze/assets")
    xmlProbes(files(rawRoot).filter(_.endsWith(".xml")), lake)
    fsProbes(lake)
    tr.endPhase()
  }

  private def files(root: String): List[String] = {
    val st = Files.walk(Paths.get(root))
    try st.iterator().asScala.map(_.toString).toList.sorted finally st.close()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `body` under a span; returns its wall in ns. */
  private def timed(name: String)(body: => Unit): (Span, Long) = {
    val s = tr.open(name, name)
    val t = System.nanoTime()
    try body finally tr.close(s)
    (s, System.nanoTime() - t)
  }

  private def dataLines(f: String): Long = {
    val st = Files.lines(Paths.get(f))
    try st.iterator().asScala.drop(2).count(_.trim.nonEmpty).toLong
    finally st.close()
  }

  private def csvProbes(tape: String): Unit = {
    val rows = dataLines(tape).toDouble
    val (span, csv) = timed("probe.csv")(noop(CleanCsv.read(spark, tape, "assets")))
    val (_, translit) = timed("probe.translit")(noop(
      spark.read.text(tape).select(
        graft.functions.Transliterate.transliterate(col("value")).as("v"))))
    tr.drain()
    tr.put("io.csv.ns_per_row", csv / rows)
    tr.put("io.csv.tasks_per_tape", tr.spanTasks(span).toDouble)
    tr.put("functions.translit.ns_per_row", translit / rows)
  }

  /** The publish path on a checkpointed frame, into a scratch root. */
  private def publishProbe(tape: String, root: String): Unit = {
    val frame = CleanCsv.read(spark, tape, "assets").localCheckpoint()
    val (_, pub) = timed("probe.publish")(Lake.writePartitioned(frame, root))
    tr.put("io.lake.publish_probe_s", pub / 1e9)
  }

  private def xmlProbes(xmls: Seq[String], lake: String): Unit = {
    val read = xmls.map(x => timed("probe.xml")(noop(DealXml.read(spark, x)._2))._2)
    tr.put("io.xml.ms_per_doc", read.sum / 1e6 / xmls.size)
    var (kept, expired, inserted, ns) = (0L, 0L, 0L, 0L)
    xmls.foreach { x =>
      val (pcd, fresh) = DealXml.read(spark, x)
      val ed = fresh.select("ed_code").first().getString(0)
      Lake.readPartition(spark, s"$lake/bronze/deal_details", ed,
          pcd.patch(4, "-", 0).patch(7, "-", 0)).foreach { o =>
        val old = o.localCheckpoint()
        val neu = fresh.localCheckpoint()
        ns += timed("probe.scd2")(noop(Scd2.merge(old, neu, "deal_details")))._2
        val merged = Scd2.merge(old, neu, "deal_details").localCheckpoint()
        def hist(df: DataFrame) = df.filter(col("iscurrent") =!= 1).count()
        val exp = hist(merged) - hist(old)
        expired += exp
        inserted += merged.count() - old.count()
        kept += old.filter(col("iscurrent") === 1).count() - exp
      }
    }
    tr.put("scd2.merge_s", ns / 1e9)
    tr.put("scd2.rows_kept", kept.toDouble)
    tr.put("scd2.rows_expired", expired.toDouble)
    tr.put("scd2.rows_inserted", inserted.toDouble)
  }

  /** Quality and silver on the bronze assets under `root`. */
  private def rowProbes(root: String): Unit = {
    val bronze = Lake.currentScanAll(spark, root).localCheckpoint()
    val n = bronze.count().toDouble
    val (_, q) = timed("probe.quality") {
      val (good, bad) = Rules.profile(bronze, ValidationSchemas.assetSchema)
      noop(good.unionByName(bad))
    }
    tr.put("quality.ns_per_row", q / n)
    val (good, bad) = Rules.profile(bronze, ValidationSchemas.assetSchema)
    val badRows = bad.localCheckpoint()
    tr.put("quality.rows_bad", badRows.count().toDouble)
    tr.put("quality.rules_failed", badRows.select(coalesce(sum(size(
      from_json(col("qc_errors"), MapType(StringType, StringType)))), lit(0L)))
      .first().getLong(0).toDouble)
    val goodRows = good.drop("flag", "qc_errors").localCheckpoint()
    val g = goodRows.count().toDouble
    val (_, s) = timed("probe.silver") {
      val typed = Silver.castToDatatype(goodRows, Registries.assetColumns)
      Silver.topicTables(typed, "assets").values.foreach(noop)
    }
    tr.put("silver.ns_per_row", s / g)
  }

  /** The FS probes the jobs make before every load. */
  private def fsProbes(lake: String): Unit = {
    val root = s"$lake/bronze/assets"
    val parts = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part="))
      .map(_.stripPrefix("part=")).toList.sorted
    val calls = 100
    val (_, t) = timed("probe.lake_fs") {
      (1 to calls).foreach { i =>
        val p = parts(i % parts.size)
        Lake.partitionExists(spark, root, p)
        Lake.tableExists(spark, root)
        Lake.cleanDumpExists(spark, lake, "assets", "2023-08-01", p.split("_")(0))
      }
    }
    tr.put("io.lake.probe_ms", t / 1e6 / (3 * calls))
  }
}
