package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.io.{CleanCsv, Concurrent, DealXml, Lake}
import graft.quality.Rules
import graft.schema.Layout
import graft.scd2.Scd2
import graft.silver.Silver

/** Stage jobs mirroring the reference control flow (SURVEY.md §3):
  * idempotency probe → discovery → per-file bronze with
  * first-write-wins, ledger; ledger-driven silver with
  * profile → quarantine/cast → topic split → partitioned writes.
  *
  * Every per-tape fact (file key, keys, schema, registry, topics)
  * comes from the tape's [[Layout.Tape]] row; [[bronze]] and [[silver]]
  * route a row to its job, for the CLI stages and [[runAllDeals]] alike.
  *
  * Deliberate fixes vs the reference (SURVEY §7.5): SCD2 merge
  * implemented (was missing), one cache() after profiling instead of
  * 9 recomputations of the scan→validate lineage, typed Column
  * predicates everywhere.
  */
object Jobs {

  /** Object-store file discovery (#1, #2): the paths under `dir`,
    * recursively, that end in `suffix` and contain `fileKey`, sorted. */
  private def discover(spark: SparkSession, dir: String, suffix: String,
                       fileKey: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath.toString
      if (f.endsWith(suffix) && f.contains(fileKey)) out += f
    }
    out.toSeq.sorted
  }

  /** One deal's bronze stage for tape row `t`: the CSV tapes load per
    * file with a ledger ([[bronzeCsv]]); the XML tape is one SCD2
    * upsert ([[bronzeDealDetails]]) that needs no ed_code and no
    * ingestion date, so those are evaluated only for CSV tapes. */
  def bronze(spark: SparkSession, t: Layout.Tape, rawDir: String,
             lakeRoot: String, fileKey: String, edCode: => String,
             ingestionDate: => String): Unit =
    if (t.xml) bronzeDealDetails(spark, rawDir, lakeRoot, fileKey)
    else bronzeCsv(spark, rawDir, lakeRoot, t.dataType, edCode, fileKey,
      ingestionDate)

  /** Silver stage of tape row `t`: the ledger-driven topic split, or
    * the XML tape's deal_info_table. */
  def silver(spark: SparkSession, lakeRoot: String, t: Layout.Tape): Unit =
    if (t.xml) silverDealDetails(spark, lakeRoot)
    else silverTopicSplit(spark, lakeRoot, t.dataType)

  /** Bronze job for the CSV tapes (`generate_bronze_tables.py:23-99`).
    * Returns the cleanly loaded (ed_code, pcd) pairs. */
  def bronzeCsv(spark: SparkSession, rawDir: String, lakeRoot: String,
                dataType: String, edCode: String, fileKey: String,
                ingestionDate: String): Seq[(String, String)] = {
    val bronzeRoot = s"$lakeRoot/bronze/$dataType"
    if (Lake.cleanDumpExists(spark, lakeRoot, dataType, ingestionDate, edCode)) {
      return Seq.empty // job-level idempotency (#3), scoped per deal
    }
    val exclude = Layout.tape(dataType).exclude
    val files = discover(spark, rawDir, ".csv", fileKey)
      .filterNot(f => exclude.exists(f.contains))
    val clean = files.flatMap { f =>
      val (ed, pcd) = CleanCsv.lineage(f)
      // first-write-wins partition skip (#4 / §7.5.3)
      if (Lake.partitionExists(spark, bronzeRoot, Lake.partValue(ed, pcd))) None
      else {
        val df = CleanCsv.read(spark, f, dataType)
        Lake.retry() { Lake.writePartitioned(df, bronzeRoot) }
        Some((ed, pcd))
      }
    }
    if (clean.nonEmpty)
      Lake.writeLedger(spark, lakeRoot, dataType, ingestionDate, edCode, clean)
    clean
  }

  /** Deal-details bronze (`generate_deal_details_bronze.py:147-201`):
    * initial load or the (repaired) SCD2 upsert of exactly one XML. */
  def bronzeDealDetails(spark: SparkSession, rawDir: String, lakeRoot: String,
                        fileKey: String): Int = {
    val bronzeRoot = s"$lakeRoot/bronze/deal_details"
    discover(spark, rawDir, ".xml", fileKey) match {
      case Seq() => 1
      case Seq(xml) =>
        val DealXml.Parsed(pcd, edCode, newDf) = DealXml.parse(spark, xml)
        require(edCode != null, s"no EDCode in $xml")
        val old = if (Lake.tableExists(spark, bronzeRoot))
          Lake.readPartition(spark, bronzeRoot, edCode,
            pcd.patch(4, "-", 0).patch(7, "-", 0)) // yyyyMMdd → yyyy-MM-dd
        else None
        // deal_details rows carry pcd only inside PoolCutOffDate, one
        // of the merge keys of its Layout row
        val merged = old match {
          case None => newDf
          case Some(o) => Scd2.merge(o, newDf, "deal_details")
        }
        Lake.retry() { Lake.writePartitioned(merged, bronzeRoot) }
        0
      case many =>
        sys.error(s"expected exactly one XML under $rawDir, got ${many.size}")
    }
  }

  /** Silver job for the tapes with a topic split, assets and bond_info
    * (`generate_asset_silver.py:48-118`). Every ledger partition is
    * read in one pruned current-version scan
    * (`generate_asset_silver.py:77-83`) and validated once: the
    * [[Rules.annotate]]d frame is the one cache, and the bad rows
    * (`dirty_dumps`) and the cast good rows (one frame per topic table)
    * are its two `flag` filters. The publishes, `dirty_dumps` plus one
    * per topic table, are independent (distinct table roots, one
    * cache) and run together through [[Concurrent.awaitAll]]; each
    * swaps every `part=` directory of its frame on its own, and an
    * empty frame publishes nothing, so a
    * delivery with no bad (or no good) rows creates no `dirty_dumps`
    * (or topic table) partition and no new table root. `part` is a
    * primary column of every topic table, so dedup and the all-null
    * topic drop stay within a partition. */
  def silverTopicSplit(spark: SparkSession, lakeRoot: String,
                       dataType: String): Unit = {
    val t = Layout.tape(dataType)
    require(t.topics.nonEmpty, s"no topic split for $dataType")
    val bronzeRoot = s"$lakeRoot/bronze/$dataType"
    val silverRoot = s"$lakeRoot/silver/$dataType"
    val parts = Lake.readLedgers(spark, lakeRoot, dataType)
      .map { case (ed, pcd) => Lake.partValue(ed, pcd) }.distinct
      .filter(Lake.partitionExists(spark, bronzeRoot, _))
    if (parts.isEmpty) return
    val bronze = spark.read.parquet(bronzeRoot)
      .where(col("part").isin(parts: _*) && col("iscurrent") === 1)
      .drop(Layout.scd2Cols: _*)
    // single Catalyst pass + one cache: the reference re-executed
    // the scan→RDD-validate lineage ~9× per pcd (SURVEY §3.2)
    val annotated = Rules.annotate(bronze, t.schema).cache()
    try {
      val bad = annotated.filter(!col("flag")).drop("flag")
      val good = Silver.castToDatatype(
        annotated.filter(col("flag")).drop("flag", "qc_errors"), t.registry)
      val tables = (s"$lakeRoot/dirty_dumps/$dataType" -> bad) +:
        Silver.topicTables(good, dataType).toSeq.map { case (table, df) =>
          s"$silverRoot/$table" -> df
        }
      Concurrent.awaitAll(spark, tables.map { case (root, df) =>
        () => Lake.retry() { Lake.writePartitioned(df, root) }
      })
    } finally annotated.unpersist()
  }

  /** Per-deal DAG fan-out (#24; reference `dags/LES_dag_assets.py:
    * 84-178`, `max_active_tasks=20`): every subdirectory of `rawRoot`
    * is one deal (directory name = ed_code); every tape row's bronze
    * stage runs per deal on a bounded thread pool — deals are independent,
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
        Layout.tapes.foreach(t =>
          bronze(spark, t, s"$rawRoot/$ed", lakeRoot, t.fileKey, ed, ingestionDate))
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
    // silver reads every deal loaded above
    Layout.tapes.filter(_.hasSilver).foreach(silver(spark, lakeRoot, _))
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
      Layout.tapes.map(t => s"$lakeRoot/bronze/${t.dataType}") ++
      Layout.tapes.filter(_.hasSilver).flatMap { t =>
        val d = new Path(s"$lakeRoot/silver/${t.dataType}")
        if (!fs.exists(d)) Seq.empty
        else fs.listStatus(d).filter(_.isDirectory).map(_.getPath.toString).toSeq
      } ++
      Layout.tapes.filter(_.schema.nonEmpty)
        .map(t => s"$lakeRoot/dirty_dumps/${t.dataType}")
    tableRoots.flatMap { t =>
      val restored = Lake.recover(spark, t)
      if (restored.isEmpty) None else Some(t -> restored)
    }.toMap
  }

  /** Deal-details silver (`generate_deal_details_silver.py:74-115`). */
  def silverDealDetails(spark: SparkSession, lakeRoot: String): Unit = {
    val bronzeRoot = s"$lakeRoot/bronze/deal_details"
    if (!Lake.tableExists(spark, bronzeRoot)) return
    val bronze = Lake.currentScanAll(spark, bronzeRoot)
    val typed = Silver.castToDatatype(bronze, Layout.tape("deal_details").registry)
      .dropDuplicates()
    Lake.retry() {
      Lake.writePartitioned(typed, s"$lakeRoot/silver/deal_details/deal_info_table")
    }
  }
}
