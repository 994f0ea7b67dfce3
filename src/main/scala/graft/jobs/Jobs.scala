package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.io.{CleanCsv, DealXml, Lake}
import graft.quality.Rules
import graft.schema.{Layout, Registries, ValidationSchemas}
import graft.scd2.Scd2
import graft.silver.Silver

/** Stage jobs mirroring the reference control flow (SURVEY.md §3):
  * idempotency probe → discovery → per-file bronze with
  * first-write-wins, ledger; ledger-driven silver with
  * profile → quarantine/cast → topic split → partitioned writes.
  *
  * Deliberate fixes vs the reference (SURVEY §7.5): SCD2 merge
  * implemented (was missing), one cache() after profiling instead of
  * 9 recomputations of the scan→validate lineage, typed Column
  * predicates everywhere.
  */
object Jobs {

  /** Object-store file discovery (#1): CSVs under `dir` containing
    * `fileKey`, excluding "Labeled" tapes for assets. */
  def discoverCsvFiles(spark: SparkSession, dir: String, fileKey: String,
                       dataType: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath
      val name = f.toString
      if (name.endsWith(".csv") && name.contains(fileKey) &&
        (dataType != "assets" || !name.contains("Labeled"))) out += name
    }
    out.toSeq.sorted
  }

  /** Single-XML discovery (#2): exactly one .xml containing fileKey. */
  def discoverXmlFile(spark: SparkSession, dir: String, fileKey: String)
      : Option[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath.toString
      if (f.endsWith(".xml") && f.contains(fileKey)) out += f
    }
    out.toList match {
      case Nil => None
      case one :: Nil => Some(one)
      case many => sys.error(s"expected exactly one XML under $dir, got ${many.size}")
    }
  }

  /** Bronze job for assets / bond_info / amortisation CSVs
    * (`generate_bronze_tables.py:23-99`). Returns the cleanly loaded
    * (ed_code, pcd) pairs. */
  def bronzeCsv(spark: SparkSession, rawDir: String, lakeRoot: String,
                dataType: String, edCode: String, fileKey: String,
                ingestionDate: String, tries: Int = 5): Seq[(String, String)] = {
    val bronzeRoot = s"$lakeRoot/bronze/$dataType"
    if (Lake.cleanDumpExists(spark, lakeRoot, dataType, ingestionDate, edCode)) {
      return Seq.empty // job-level idempotency (#3), scoped per deal
    }
    val files = discoverCsvFiles(spark, rawDir, fileKey, dataType)
    val clean = files.flatMap { f =>
      val basename = f.split("/").last
      val ed = basename.split("_")(0)
      val pcd = basename.split("_").slice(1, 4).mkString("-")
      // first-write-wins partition skip (#4 / §7.5.3)
      if (Lake.partitionExists(spark, bronzeRoot, Lake.partValue(ed, pcd))) None
      else {
        val df = CleanCsv.read(spark, f, dataType)
        Lake.retry(tries) { Lake.writePartitioned(df, bronzeRoot) }
        Some((ed, pcd))
      }
    }
    if (clean.nonEmpty)
      Lake.writeLedger(spark, lakeRoot, dataType, ingestionDate, edCode, clean)
    clean
  }

  /** Deal-details bronze (`generate_deal_details_bronze.py:147-201`):
    * initial load or the (repaired) SCD2 upsert. */
  def bronzeDealDetails(spark: SparkSession, rawDir: String, lakeRoot: String,
                        fileKey: String, tries: Int = 5): Int = {
    val bronzeRoot = s"$lakeRoot/bronze/deal_details"
    discoverXmlFile(spark, rawDir, fileKey) match {
      case None => 1
      case Some(xml) =>
        val (pcd, newDf) = DealXml.read(spark, xml)
        val edCode = newDf.select("ed_code").first().getString(0)
        val old = if (Lake.tableExists(spark, bronzeRoot))
          Lake.readPartition(spark, bronzeRoot, edCode,
            pcd.patch(4, "-", 0).patch(7, "-", 0)) // yyyyMMdd → yyyy-MM-dd
        else None
        // deal_details rows carry pcd only inside PoolCutOffDate; merge
        // keys come from Layout.primaryCols("deal_details")
        val merged = old match {
          case None => newDf
          case Some(o) => Scd2.merge(o, newDf, "deal_details")
        }
        Lake.retry(tries) { Lake.writePartitioned(merged, bronzeRoot) }
        0
    }
  }

  /** Silver job for assets / bond_info
    * (`generate_asset_silver.py:48-118`). Every ledger partition is
    * read in one pruned current-version scan
    * (`generate_asset_silver.py:77-83`) and validated, cast and split
    * in one pass; `dirty_dumps` and each topic table then get one
    * publish, which swaps each `part=` directory in the frame on its
    * own. `part` is a primary column of every topic table, so dedup
    * and the all-null topic drop stay within a partition, and a
    * partition with no bad (or no good) rows publishes nothing to
    * that table. */
  def silverTopicSplit(spark: SparkSession, lakeRoot: String, dataType: String,
                       tries: Int = 5): Unit = {
    val bronzeRoot = s"$lakeRoot/bronze/$dataType"
    val silverRoot = s"$lakeRoot/silver/$dataType"
    val schema = dataType match {
      case "assets" => ValidationSchemas.assetSchema
      case "bond_info" => ValidationSchemas.bondInfoSchema
      case other => sys.error(s"no validation schema for $other")
    }
    val registry = dataType match {
      case "assets" => Registries.assetColumns
      case "bond_info" => Registries.bondColumns
    }
    val parts = Lake.readLedgers(spark, lakeRoot, dataType)
      .map { case (ed, pcd) => Lake.partValue(ed, pcd) }.distinct
      .filter(Lake.partitionExists(spark, bronzeRoot, _))
    if (parts.isEmpty) return
    val bronze = spark.read.parquet(bronzeRoot)
      .where(col("part").isin(parts: _*) && col("iscurrent") === 1)
      .drop(Layout.scd2Cols: _*)
    // single Catalyst pass + one cache: the reference re-executed
    // the scan→RDD-validate lineage ~9× per pcd (SURVEY §3.2)
    val (good, bad) = Rules.profile(bronze, schema)
    val annotated = good.unionByName(bad).cache()
    try {
      val badRows = annotated.filter(!col("flag"))
      if (!badRows.isEmpty) {
        Lake.retry(tries) {
          Lake.writePartitioned(
            badRows.drop("flag"),
            s"$lakeRoot/dirty_dumps/$dataType")
        }
      }
      val goodRows = annotated.filter(col("flag")).drop("flag", "qc_errors")
      if (!goodRows.isEmpty) {
        val typed = Silver.castToDatatype(goodRows, registry).cache()
        try {
          Silver.topicTables(typed, dataType).foreach { case (table, df) =>
            Lake.retry(tries) {
              Lake.writePartitioned(df, s"$silverRoot/$table")
            }
          }
        } finally typed.unpersist()
      }
    } finally annotated.unpersist()
  }

  /** Per-deal DAG fan-out (#24; reference `dags/LES_dag_assets.py:
    * 84-178`, `max_active_tasks=20`): every subdirectory of `rawRoot`
    * is one deal (directory name = ed_code); all four bronze stages
    * run per deal on a bounded thread pool — deals are independent,
    * and concurrent jobs interleave on the shared Spark scheduler
    * (same pattern as Verify's concurrent queries, so a slow tape
    * never idles the cluster) — then the ledger-driven silver stages
    * run once over all deals. Returns the deal codes processed.
    *
    * Thread-safety at scale: concurrent deals touch DISTINCT
    * `part=` partitions (dynamic overwrite stages per-job) and
    * DISTINCT ledger files (`{date}_{ed_code}.csv`), so no
    * cross-deal write races exist by construction. */
  def runAllDeals(spark: SparkSession, rawRoot: String, lakeRoot: String,
                  ingestionDate: String, parallelism: Int = 20): Seq[String] = {
    val p = new Path(rawRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val deals = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).sorted.toSeq
    if (deals.isEmpty) return Seq.empty
    // heal any table a crashed previous run left mid-swap — this is
    // the single-threaded moment before writers exist (Lake.recover
    // must not run concurrently with publishes)
    recoverLake(spark, lakeRoot)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(math.max(parallelism, 1), deals.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = deals.map { ed =>
      scala.concurrent.Future {
        val rawDir = s"$rawRoot/$ed"
        bronzeCsv(spark, rawDir, lakeRoot, "assets", ed, "Loan_Data", ingestionDate)
        bronzeCsv(spark, rawDir, lakeRoot, "bond_info", ed, "Bond_Info", ingestionDate)
        bronzeCsv(spark, rawDir, lakeRoot, "amortisation", ed, "Amortisation", ingestionDate)
        bronzeDealDetails(spark, rawDir, lakeRoot, "Deal_Details")
        ed
      }
    }
    // shut down on failure too, and let the other deals finish their
    // publishes first: no writer and no idle pool thread outlives the call
    val done = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
    }
    // silver is ledger-driven across every deal loaded above
    silverTopicSplit(spark, lakeRoot, "assets")
    silverTopicSplit(spark, lakeRoot, "bond_info")
    if (Lake.tableExists(spark, s"$lakeRoot/bronze/deal_details"))
      silverDealDetails(spark, lakeRoot)
    done
  }

  /** Startup recovery sweep over every bronze/silver/dirty table root:
    * restores partitions parked mid-swap by a crashed publish or
    * compaction (see [[Lake.recover]]). Called from [[runAllDeals]]
    * before any writer starts; also safe to invoke standalone. */
  def recoverLake(spark: SparkSession, lakeRoot: String): Map[String, Seq[String]] = {
    val root = new Path(lakeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Map.empty
    val tableRoots =
      Seq("assets", "bond_info", "amortisation", "deal_details")
        .map(dt => s"$lakeRoot/bronze/$dt") ++
      Seq("assets", "bond_info", "deal_details").flatMap { dt =>
        val d = new Path(s"$lakeRoot/silver/$dt")
        if (!fs.exists(d)) Seq.empty
        else fs.listStatus(d).filter(_.isDirectory).map(_.getPath.toString).toSeq
      } ++
      Seq("assets", "bond_info", "amortisation")
        .map(dt => s"$lakeRoot/dirty_dumps/$dt")
    tableRoots.flatMap { t =>
      val restored = Lake.recover(spark, t)
      if (restored.isEmpty) None else Some(t -> restored)
    }.toMap
  }

  /** Deal-details silver (`generate_deal_details_silver.py:74-115`). */
  def silverDealDetails(spark: SparkSession, lakeRoot: String, tries: Int = 5): Unit = {
    val bronzeRoot = s"$lakeRoot/bronze/deal_details"
    if (!Lake.tableExists(spark, bronzeRoot)) return
    val bronze = Lake.currentScanAll(spark, bronzeRoot)
    val typed = Silver.castToDatatype(bronze, Registries.dealDetailsColumns)
      .dropDuplicates()
    Lake.retry(tries) {
      Lake.writePartitioned(typed, s"$lakeRoot/silver/deal_details/deal_info_table")
    }
  }
}
