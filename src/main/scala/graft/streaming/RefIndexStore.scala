package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.EmbedStream.SemanticRefIndex
import graft.streaming.MinHashStream.MinHashRefIndex
import graft.streaming.SimHashStream.SimHashRefIndex

/** Persistent, on-disk form of the three streaming reference indexes
  * ([[EmbedStream.SemanticRefIndex]] / [[SimHashStream.SimHashRefIndex]] /
  * [[MinHashStream.MinHashRefIndex]]) — the build-nightly /
  * probe-from-many-jobs story: without it the index lives only as
  * session-held `localCheckpoint` frames and dies with the driver,
  * forcing every probing job to re-scan the reference corpus.
  *
  * Layout under `dir`:
  *  - `band_rows/` — (band, bucket, sub, id_b), hash-BUCKETED and
  *    sorted on the three join keys (bucketed tables with equal
  *    bucket counts join without an Exchange): the per-micro-batch
  *    stream-static equi-join pays NO shuffle and no sort on the
  *    static side — the shuffle is paid
  *    once at save time and amortized over every probing job, which
  *    is exactly the scale note at `semanticDupMatches` (the
  *    reference side is corpus-sized; the probe side is a micro-batch).
  *  - `payload/` — the verify payload (int8 vectors / signatures /
  *    shingle sets), bucketed+sorted on `id_b` for the same reason
  *    (the candidate→payload join).
  *  - `ns/` — the reference-only oversized-bucket census (tiny by
  *    pigeonhole: ≤ rows/maxBucket keys; plain parquet, broadcast at
  *    probe time).
  *  - `meta/` — the index knobs as one (key, value) parquet table,
  *    written LAST inside the staging dir: bucketing metadata does
  *    not survive a session (the in-memory catalog dies with the
  *    driver), so [[load]]-time re-registration reconstructs the
  *    bucket spec from here — the on-disk layout, not the catalog,
  *    is the source of truth.
  *
  * Publish is atomic in the [[graft.io.Lake]] style: everything lands
  * in a dot-prefixed sibling staging dir, then ONE rename swaps it in
  * (old index renamed aside to trash first, dropped after) — a crash
  * leaves the previous index fully live or the new one fully live,
  * never a torn mix; [[recover]] heals the aside-but-not-swapped
  * window. Saving a merged index is also the COMPACTION step: the
  * merge's lazy union lineage (one checkpointed slice per merge)
  * materializes into flat parquet, and the loaded index reads it back
  * as a single scan.
  *
  * Cadence trade, stated plainly: every save here is a FULL-INDEX
  * rewrite (all band rows, all payload), which is the right cost when
  * save-frequency is low and probe-frequency is high — the bucketed
  * layout amortizes its one sort/shuffle over every probing job. For
  * a nightly-append cadence over a 100 TB reference, use
  * [[RefIndexSlices]] instead: appends cost ∝ the new slice, the
  * combined load is gate-proven equal to a full rebuild, and the
  * periodic compaction (or a round-trip through THIS store for the
  * read-optimized serving layout) pays the full rewrite on the
  * compaction cadence rather than per merge.
  */
object RefIndexStore {

  /** Save/load for [[EmbedStream.SemanticRefIndex]]. */
  def saveSemantic(idx: SemanticRefIndex, dir: String,
                   buckets: Int = 32): Unit =
    saveParts(dir, buckets, idx.ns, idx.bandRows, idx.payload, Map(
      "kind" -> "semantic", "bands" -> idx.bands.toString,
      "bitsPerBand" -> idx.bitsPerBand.toString, "dim" -> idx.dim.toString,
      "maxBucket" -> idx.maxBucket.toString))

  def loadSemantic(spark: SparkSession, dir: String): SemanticRefIndex = {
    val (meta, ns, bandRows, payload) = loadParts(spark, dir, "semantic")
    SemanticRefIndex(meta("bands").toInt, meta("bitsPerBand").toInt,
      meta("dim").toInt, meta("maxBucket").toInt, ns, bandRows, payload)
  }

  /** Save/load for [[SimHashStream.SimHashRefIndex]] (covers the text
    * SimHash index and every [[SimHashStream.sigRefIndex]]-built media
    * signature index — same shape). */
  def saveSimHash(idx: SimHashRefIndex, dir: String,
                  buckets: Int = 32): Unit =
    saveParts(dir, buckets, idx.ns, idx.bandRows, idx.payload, Map(
      "kind" -> "simhash", "maxHamming" -> idx.maxHamming.toString,
      "maxBucket" -> idx.maxBucket.toString))

  def loadSimHash(spark: SparkSession, dir: String): SimHashRefIndex = {
    val (meta, ns, bandRows, payload) = loadParts(spark, dir, "simhash")
    SimHashRefIndex(meta("maxHamming").toInt, meta("maxBucket").toInt,
      ns, bandRows, payload)
  }

  /** Save/load for [[MinHashStream.MinHashRefIndex]]. */
  def saveMinHash(idx: MinHashRefIndex, dir: String,
                  buckets: Int = 32): Unit =
    saveParts(dir, buckets, idx.ns, idx.bandRows, idx.payload, Map(
      "kind" -> "minhash", "n" -> idx.n.toString,
      "threshold" -> idx.threshold.toString,
      "bands" -> idx.bands.toString,
      "rowsPerBand" -> idx.rowsPerBand.toString,
      "maxBucket" -> idx.maxBucket.toString))

  def loadMinHash(spark: SparkSession, dir: String): MinHashRefIndex = {
    val (meta, ns, bandRows, payload) = loadParts(spark, dir, "minhash")
    MinHashRefIndex(meta("n").toInt, meta("threshold").toDouble,
      meta("bands").toInt, meta("rowsPerBand").toInt,
      meta("maxBucket").toInt, ns, bandRows, payload)
  }

  /** Heal an index dir after a crashed [[saveParts]] swap: if `dir`
    * is missing but an aside trash sibling holds a complete index
    * (its `meta/` exists — meta is written last, so its presence
    * proves completeness), rename the NEWEST such sibling back (the
    * publish timestamp is embedded in the sibling name, so a stale
    * snapshot from an older crash can never shadow the most recent
    * complete one); then drop every stale staging/trash sibling of
    * `dir`. Returns true when a restore happened.
    *
    * Run before maintenance, not concurrently with a writer (same
    * discipline as [[graft.io.Lake.recover]]). The no-concurrent-
    * writer rule is backed by a LIVENESS HEURISTIC, not a lock:
    * recover REFUSES (IllegalStateException) when a staging sibling
    * shows write activity (its newest recursive content modification
    * time) within `inFlightGraceMs`, because deleting a live writer's
    * staging dir would corrupt its in-flight save. Keying liveness on
    * content mtime rather than the staging dir's publish-name
    * timestamp means a long-running save stays protected for as long
    * as it keeps writing files — but a save that can stall LONGER
    * than the grace between file closes (realistic for very large
    * single-file writes) needs a LARGER grace passed here; pass a
    * smaller one only when the writer is known dead. */
  def recover(spark: SparkSession, dir: String,
              inFlightGraceMs: Long = 15 * 60 * 1000L): Boolean = {
    val target = new Path(dir)
    val hfs = fileSystem(spark, target)
    val parent = parentOf(target)
    if (!hfs.exists(parent)) return false
    val siblings = hfs.listStatus(parent)
      .filter(_.getPath.getName.startsWith(s".${target.getName}.refidx_"))
    // publish time: millis embedded in the sibling suffix at publish
    // time. Trust the token only when it is exactly the 13 digits an
    // epoch-millis stamp has (2001–2286): a legacy pre-timestamp name
    // whose first UUID segment happens to be all digits would
    // otherwise parse as a bogus epoch and mis-order the snapshots.
    // Anything else falls back to the dir's modification time.
    def publishTs(s: org.apache.hadoop.fs.FileStatus): Long = {
      val name = s.getPath.getName
      val marker = name.indexOf("refidx_")
      val tok = name.substring(marker).split('-').drop(1).headOption
      tok.filter(t => t.length == 13 && t.forall(_.isDigit)).map(_.toLong)
        .getOrElse(s.getModificationTime)
    }
    // liveness = newest modification time anywhere under the staging
    // dir: a healthy long save keeps closing files, so its activity
    // stays fresh however old its publish-name stamp grows — the
    // name timestamp only says when the save STARTED
    def newestMtime(p: Path): Long = {
      val st = hfs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else hfs.listStatus(p).foldLeft(st.getModificationTime) {
        (acc, c) => math.max(acc, newestMtime(c.getPath))
      }
    }
    val now = System.currentTimeMillis()
    val inFlight = siblings
      .filter(_.getPath.getName.contains(".refidx_tmp-"))
      .filter(s => now - newestMtime(s.getPath) < inFlightGraceMs)
    if (inFlight.nonEmpty) throw new IllegalStateException(
      s"recover($dir): a save appears to be IN FLIGHT (staging " +
        s"${inFlight.map(_.getPath.getName).mkString(", ")} wrote within " +
        s"$inFlightGraceMs ms) — recover must not run concurrently with " +
        "a writer; retry after the save finishes, or pass a smaller " +
        "grace when the writer is known dead")
    var restored = false
    if (!hfs.exists(target)) {
      val complete = siblings
        .filter(_.getPath.getName.contains(".refidx_trash-"))
        .filter(s => hfs.exists(new Path(s.getPath, "meta")))
      complete.sortBy(publishTs).lastOption.foreach { tr =>
        renameStrict(hfs, tr.getPath, target); restored = true
      }
    }
    siblings.map(_.getPath).filter(p => hfs.exists(p) && p != target)
      .foreach(p => hfs.delete(p, true))
    restored
  }

  // ---------------------------------------------------------------
  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def parentOf(p: Path): Path =
    Option(p.getParent).getOrElse(new Path("/"))

  private def renameStrict(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Catalog names are derived from the index dir (stable across
    * sessions, distinct across indexes) — registration is
    * drop-and-recreate, so re-loading the same dir is idempotent. */
  private def tableName(dir: String, part: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"graft_refidx_${h}_$part"
  }

  /** Write `df` as bucketed+sorted parquet AT `path` (external table
    * through a transient catalog name — only the FILES matter; the
    * catalog entry is dropped immediately, since [[load]] re-registers
    * from `meta/` in whatever session probes the index). */
  private def writeBucketedAt(df: DataFrame, path: String, tmpTable: String,
                              keys: Seq[String], buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    // repartition ON the bucket keys to exactly `buckets` partitions:
    // HashPartitioning here is the same murmur3-pmod the bucketed
    // write assigns files by, so each task holds exactly one bucket
    // and the layout lands as ONE file per bucket — without this,
    // every input task writes a file per bucket it touches
    // (tasks × buckets small files; measured 35%+ of save wall)
    df.repartition(buckets, keys.map(col): _*)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // external: files stay
  }

  /** Register the bucketed files at `path` under a stable catalog
    * name and return the table — the scan carries the bucket layout,
    * so joins on the bucket keys skip the static-side Exchange. */
  private def registerBucketed(spark: SparkSession, name: String,
                               path: String, keys: Seq[String],
                               buckets: Int): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val schema = spark.read.parquet(path).schema.toDDL
    spark.sql(
      s"""CREATE TABLE $name ($schema) USING PARQUET
         |CLUSTERED BY (${keys.mkString(", ")})
         |SORTED BY (${keys.mkString(", ")})
         |INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.table(name)
  }

  /** Atomic dir publish shared by the index stores ([[saveParts]]
    * here, [[graft.ext.AnnStore]]): `write` fills a dot-prefixed
    * sibling staging dir, then ONE rename swaps it in (old aside to
    * trash first, dropped after). The writer's LAST artifact should
    * be `meta/` — its presence is what [[recover]] treats as the
    * completeness marker. */
  private[graft] def atomicPublish(spark: SparkSession, dir: String,
                                   write: Path => Unit): Unit = {
    val target = new Path(dir)
    val hfs = fileSystem(spark, target)
    val parent = parentOf(target)
    hfs.mkdirs(parent)
    // publish-time millis lead the suffix: [[recover]] restores the
    // NEWEST complete trash sibling by this timestamp, and refuses to
    // sweep a staging dir younger than its in-flight grace
    val uuid = s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}"
    val stage = new Path(parent, s".${target.getName}.refidx_tmp-$uuid")
    write(stage)
    val trash = new Path(parent, s".${target.getName}.refidx_trash-$uuid")
    if (hfs.exists(target)) renameStrict(hfs, target, trash)
    renameStrict(hfs, stage, target)
    hfs.delete(trash, true)
  }

  /** Write a knob map as the `meta/` table — the completeness marker;
    * call LAST inside an [[atomicPublish]] writer. */
  private[graft] def writeMeta(spark: SparkSession, stage: Path,
                               meta: Map[String, String]): Unit = {
    import spark.implicits._
    meta.toSeq.toDF("key", "value")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(stage, "meta").toString)
  }

  /** The one `meta/` reader: the knob map of the index at `dir`, or
    * None when `dir` holds no index. The schema is given, so the read
    * is one small job with no schema-inference job before it. */
  private[graft] def readMetaIfExists(spark: SparkSession, dir: String)
      : Option[Map[String, String]] = {
    val meta = new Path(dir, "meta")
    if (!fileSystem(spark, meta).exists(meta)) None
    else Some(spark.read.schema("key STRING, value STRING")
      .parquet(meta.toString)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
  }

  /** [[readMetaIfExists]] for an index that must exist and be `kind`. */
  private[graft] def readMeta(spark: SparkSession, dir: String,
                              kind: String): Map[String, String] = {
    val meta = readMetaIfExists(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no index at $dir"))
    require(meta.get("kind").contains(kind),
      s"index at $dir is kind=${meta.getOrElse("kind", "?")}, not $kind")
    meta
  }

  private def saveParts(dir: String, buckets: Int, ns: DataFrame,
                        bandRows: DataFrame, payload: DataFrame,
                        meta: Map[String, String]): Unit = {
    require(buckets > 0, "bucket count must be positive")
    val spark = ns.sparkSession
    atomicPublish(spark, dir, { stage =>
      // the three artifacts are independent writes to distinct paths
      // (distinct transient catalog names too) — overlap (guide §2.6)
      graft.io.Concurrent.awaitAll(spark, Seq(
        () => writeBucketedAt(
          bandRows.select(col("band"), col("bucket"), col("sub"), col("id_b")),
          new Path(stage, "band_rows").toString,
          tableName(dir, "stage_band"), Seq("band", "bucket", "sub"), buckets),
        () => writeBucketedAt(payload, new Path(stage, "payload").toString,
          tableName(dir, "stage_payload"), Seq("id_b"), buckets),
        () => ns.write.mode(SaveMode.Overwrite)
          .parquet(new Path(stage, "ns").toString)))
      // meta last — its presence marks the staged index complete
      writeMeta(spark, stage, meta.updated("buckets", buckets.toString))
    })
  }

  private def loadParts(spark: SparkSession, dir: String, kind: String)
      : (Map[String, String], DataFrame, DataFrame, DataFrame) = {
    val meta = readMeta(spark, dir, kind)
    val buckets = meta("buckets").toInt
    val bandRows = registerBucketed(spark, tableName(dir, "band"),
      new Path(dir, "band_rows").toString,
      Seq("band", "bucket", "sub"), buckets)
    val payload = registerBucketed(spark, tableName(dir, "payload"),
      new Path(dir, "payload").toString, Seq("id_b"), buckets)
    val ns = spark.read.parquet(new Path(dir, "ns").toString)
    (meta, ns, bandRows, payload)
  }
}
