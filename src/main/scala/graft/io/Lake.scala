package graft.io

import scala.annotation.tailrec
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.schema.Layout

/** Partitioned-parquet lake layer (SURVEY.md §2 #3/#4/#8/#10/#11/#12).
  *
  * The reference's tables are Delta directories on GCS partitioned by
  * the single string column `part={ed_code}_{yyyyMMdd}`; this env has
  * no Delta jar (SURVEY §7.4), so bronze+silver are plain parquet and
  * [[writePartitioned]] provides the partition-scoped ATOMIC overwrite
  * the reference got from Delta's txn log (stage → rename-aside →
  * swap, crash-recoverable via [[recover]]).
  *
  * The reference probes partition existence by listing GCS blobs
  * before reading (`bronze_funcs.py:36-59`); with a file-source table
  * Catalyst's partition pruning subsumes that — we keep only a cheap
  * FS existence check to preserve the "first write wins" /
  * initial-vs-upsert branching.
  */
object Lake {

  def partValue(edCode: String, pcd: String): String =
    s"${edCode}_${pcd.replace("-", "")}"

  def partitionExists(spark: SparkSession, root: String, part: String): Boolean = {
    val p = new Path(s"$root/part=$part")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  def tableExists(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Pruned scan of one `(ed_code, pcd)` partition; None when absent
    * (reference `get_old_table`, `bronze_funcs.py:36-59` — minus its
    * unquoted-predicate bug, SURVEY §7.5.2). */
  def readPartition(spark: SparkSession, root: String, edCode: String, pcd: String)
      : Option[DataFrame] = {
    val part = partValue(edCode, pcd)
    if (partitionExists(spark, root, part))
      Some(spark.read.parquet(root).where(col("part") === part))
    else None
  }

  private val PublishTmp = ".publish_tmp"
  private val PublishTrash = ".publish_trash"

  /** Partition-scoped overwrite with ATOMIC per-partition publish:
    * replaces only the partitions present in `df` (reference write
    * shape, `generate_bronze_tables.py:81-86` — Delta gave it a txn
    * log; this env has no Delta jar, SURVEY §7.4).
    *
    * Protocol: the whole frame is first written to a private staging
    * dir (`.publish_tmp/<uuid>` — uuid so the 20-wide deal fan-out
    * can publish distinct partitions of one table concurrently), then
    * each staged `part=` dir is swapped in: current dir renamed aside
    * to `.publish_trash/part=X`, staged dir renamed into place, trash
    * dropped. Every window is recoverable — a crash can leave a
    * partition either fully old (trash restore) or fully new, never
    * half-replaced; see [[recover]]. Dot-prefixed staging/trash dirs
    * are invisible to parquet readers of the table.
    *
    * `format` selects the storage codec ("parquet" default, "orc"
    * ships with Spark) — the swap protocol and [[recover]] are pure
    * FS renames and never look inside a file, so crash safety is
    * format-agnostic by construction (LakePublishSpec runs the same
    * crash windows against ORC). */
  def writePartitioned(df: DataFrame, root: String,
                       format: String = "parquet"): Unit =
    writePartitioned(df, root, _ => (), format)

  /** [[writePartitioned]] with a step hook between FS operations —
    * the crash-injection seam for LakePublishSpec. Steps: `staged`,
    * then per partition `aside:part=X` (old renamed to trash, new not
    * yet in place) and `swapped:part=X` (new in place, trash not yet
    * dropped). */
  private[io] def writePartitioned(df: DataFrame, root: String,
                                   onStep: String => Unit): Unit =
    writePartitioned(df, root, onStep, "parquet")

  private[io] def writePartitioned(df: DataFrame, root: String,
                                   onStep: String => Unit,
                                   format: String): Unit = {
    val spark = df.sparkSession
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the dirs this publish creates: the root and its missing parents
    val created = Iterator.iterate(rootPath)(_.getParent)
      .takeWhile(d => d != null && !fs.exists(d)).toList
    val staging =
      new Path(rootPath, s"$PublishTmp/${java.util.UUID.randomUUID()}")
    df.write.partitionBy("part").mode("overwrite").format(format)
      .save(staging.toString)
    onStep("staged")
    val trashRoot = new Path(rootPath, PublishTrash)
    val staged = fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("part="))
    staged.foreach { s =>
      val name = s.getPath.getName
      val dst = new Path(rootPath, name)
      val tr = new Path(trashRoot, name)
      if (fs.exists(dst)) {
        fs.mkdirs(trashRoot)
        fs.delete(tr, true) // stale trash for this partition is superseded
        renameStrict(fs, dst, tr)
        onStep(s"aside:$name")
      }
      renameStrict(fs, s.getPath, dst)
      onStep(s"swapped:$name")
      fs.delete(tr, true)
    }
    fs.delete(staging, true)
    // the shared staging root goes once empty, and an empty frame
    // publishes nothing: its staging write must not leave behind a
    // table root (or parent) that did not exist before. Only EMPTY dirs
    // go, innermost first; a non-recursive delete refuses a dir that a
    // concurrent publisher of the same table has staged into meanwhile.
    (new Path(rootPath, PublishTmp) ::
        (if (staged.isEmpty) created else Nil)).foreach { d =>
      if (fs.exists(d) && fs.listStatus(d).isEmpty) Try(fs.delete(d, false))
    }
  }

  /** Hadoop `FileSystem.rename` reports failure by RETURNING FALSE,
    * not throwing. Inside the publish swap a silently failed
    * rename would let the subsequent trash delete destroy the only
    * surviving copy of a partition — so every swap rename goes
    * through this guard, which aborts (trash intact, [[recover]]able)
    * instead. */
  private def renameStrict(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"rename failed: $src -> $dst (aborting swap; trash left intact for recover)")

  /** Heal a table after a crashed [[writePartitioned]]:
    * any `part=` dir sitting in a trash dir with no live counterpart
    * is the partition's only copy (crash between rename-aside and
    * rename-in) — rename it back; trash entries whose live dir exists
    * are completed swaps — drop them; then drop all staging dirs
    * (staged data is never the only copy). Returns the restored
    * partition names. Run at startup / before maintenance, NOT
    * concurrently with writers (it sweeps the shared staging root). */
  def recover(spark: SparkSession, root: String): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    val trashRoot = new Path(rootPath, PublishTrash)
    val restored =
      if (!fs.exists(trashRoot)) Seq.empty
      else fs.listStatus(trashRoot).filter(_.isDirectory).toSeq.flatMap { t =>
        val dst = new Path(rootPath, t.getPath.getName)
        if (fs.exists(dst)) { fs.delete(t.getPath, true); None }
        else {
          // strict here too: the trash entry is the partition's ONLY
          // copy, and the wholesale trash cleanup below would destroy
          // it after a silently failed (false-returning) rename
          renameStrict(fs, t.getPath, dst)
          Some(t.getPath.getName)
        }
      }
    Seq(PublishTmp, PublishTrash)
      .foreach(d => fs.delete(new Path(rootPath, d), true))
    restored
  }

  /** Whole-table current scan (deal_details silver,
    * `generate_deal_details_silver.py:89-94`). */
  def currentScanAll(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(root).filter(col("iscurrent") === 1)
      .drop(Layout.scd2Cols: _*)

  // ---- idempotency ledger (#3/#10/#11) ------------------------------

  /** Ledger marker path: clean_dump/{dataType}/{date}_{ed_code}.csv. */
  private def ledgerDir(root: String, dataType: String) =
    s"$root/clean_dump/$dataType"

  /** True when this ingestion date already has a clean dump FOR THIS
    * DEAL — job-level idempotency (`bronze_funcs.py:167-184`). Scoped
    * per ed_code (the ledger file is `{date}_{ed_code}.csv`): a
    * date-global probe would make deal B skip its load the moment
    * deal A finished, which breaks the 20-wide per-deal fan-out. */
  def cleanDumpExists(spark: SparkSession, root: String, dataType: String,
                      ingestionDate: String, edCode: String): Boolean = {
    val f = new Path(ledgerDir(root, dataType), s"${ingestionDate}_$edCode.csv")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(f)
  }

  /** Write the per-deal ledger of cleanly loaded (ed_code, pcd) pairs
    * (`generate_bronze_tables.py:91-97`). Tiny by construction →
    * driver-side single-file write. */
  def writeLedger(spark: SparkSession, root: String, dataType: String,
                  ingestionDate: String, edCode: String,
                  rows: Seq[(String, String)]): Unit = {
    val dir = new Path(ledgerDir(root, dataType))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, s"${ingestionDate}_$edCode.csv"), true)
    val w = new java.io.PrintWriter(out)
    try {
      w.println("ed_code,pcd")
      rows.foreach { case (e, p) => w.println(s"$e,$p") }
    } finally w.close()
  }

  /** Read all ledgers for a data type → (ed_code, pcd) work list
    * (`generate_asset_silver.py:65-75`), in ledger file-name order.
    * The files are the few-line CSVs [[writeLedger]] writes, so they
    * are read on the driver, not by a Spark job: each file's header
    * line is skipped, and so are files whose names start with `.` or
    * `_` (checksums, markers), as Spark's file reader skips them. */
  def readLedgers(spark: SparkSession, root: String, dataType: String)
      : Seq[(String, String)] = {
    val dir = new Path(ledgerDir(root, dataType))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .flatMap { s =>
        val in = scala.io.Source.fromInputStream(fs.open(s.getPath), "UTF-8")
        try in.getLines().drop(1).filter(_.nonEmpty).map { line =>
          val (ed, pcd) = line.span(_ != ',')
          (ed, pcd.drop(1))
        }.toList
        finally in.close()
      }
  }

  /** Retention: delete every `part=` partition whose VALUE fails
    * `keep`. FS-level and partition-scoped (readers of kept partitions
    * never see a half-deleted table); returns the deleted partition
    * values. */
  def vacuum(spark: SparkSession, root: String,
             keep: String => Boolean): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(rootPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("part="))
      .map(_.getPath)
      .filter(p => !keep(p.getName.stripPrefix("part=")))
      .map { p => fs.delete(p, true); p.getName.stripPrefix("part=") }
      .toSeq
  }

  /** Reference-shaped bounded retry (`generate_bronze_tables.py:76-90`):
    * runs `f` at most `tries` times and returns its first success at
    * once, so a successful write runs exactly once. Only transient
    * failures are retried: a non-fatal throwable other than Spark's
    * `AnalysisException`, which is a deterministic plan error that
    * every attempt would repeat. Fatal errors, `InterruptedException`
    * and control throwables (all excluded by `NonFatal`) and
    * `AnalysisException` propagate from the attempt that raised them.
    * Unlike the reference we rethrow the last failure after the budget
    * instead of swallowing it (SURVEY §7.5.4). */
  @tailrec
  def retry[T](tries: Int = 5)(f: => T): T =
    Try(f) match {
      case Success(v) => v
      case Failure(e) if tries <= 1 || e.isInstanceOf[AnalysisException] => throw e
      case Failure(_) => retry(tries - 1)(f)
    }
}
