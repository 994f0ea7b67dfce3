package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{IntMath, Planes}
import graft.streaming.EmbedStream.SemanticRefIndex
import graft.streaming.MinHashStream.MinHashRefIndex
import graft.streaming.SimHashStream.SimHashRefIndex

/** APPEND-SLICES layout for the streaming reference indexes — the
  * write-optimized sibling of [[RefIndexStore]] (round-10 verdict
  * item 3). The bucketed store's save is a full-index rewrite: correct,
  * and deliberately doubling as lineage compaction, but at a 100 TB
  * nightly cadence every merge-then-save re-writes every historical
  * band row to disk. This layout makes the nightly append cost
  * proportional to the NEW slice only:
  *
  * {{{
  *   dir/_slog/<v>.mf            one manifest per commit (rename-CAS,
  *                               the io.VersionedLake protocol): the
  *                               live slice list; readers see only
  *                               committed slices
  *   dir/slices/<uuid>/band_rows (band, bucket, id_b) — NO sub column
  *   dir/slices/<uuid>/census    (band, bucket, cnt) full per-key counts
  *   dir/slices/<uuid>/payload   the family verify payload, as built
  *   dir/meta/                   knobs, written by the FIRST append
  * }}}
  *
  * WHY slices can be immutable when the bucketed store's rows are not:
  * the oversized-bucket `sub` assignment is a per-row function of
  * (id_b, global census) — a later append can flip any bucket over the
  * cap and re-split rows indexed years earlier, which is exactly why
  * [[EmbedStream.mergeRefIndex]] re-assigns every row's sub and the
  * bucketed store re-writes. Here slices store band rows WITHOUT sub
  * plus their full per-key census; [[loadSemantic]] merges the
  * censuses by SUM (exact: each id's band rows live in exactly one
  * slice), derives the global ns exactly as [[Planes.refCensusSub]]
  * does, and re-derives sub per row in the scan projection (a
  * broadcast join against the tiny-by-pigeonhole oversized-key table
  * plus one hash — no shuffle, no rewrite). The loaded index is
  * therefore EXACTLY the full rebuild, spec-gated.
  *
  * The honest trade: slice band rows are plain parquet, so a
  * multi-slice combined index pays the static-side Exchange per probe
  * job that the bucketed store's layout amortizes away, and load pays
  * a census merge (over pre-aggregated per-slice counts, not band
  * rows). Run [[compact]] on the cadence that keeps the slice count
  * sane, and publish the read-optimized serving layout by round-
  * tripping through the bucketed store:
  * `RefIndexStore.saveSemantic(RefIndexSlices.loadSemantic(dir), servingDir)`
  * — append nightly at slice cost, compact/publish weekly at full
  * cost, instead of full cost nightly.
  *
  * Concurrency: manifest commits are rename-CAS (concurrent appends
  * race on the version number; the loser re-reads and retries), slice
  * data is invisible until referenced, and a crashed append leaves
  * only an unreferenced slice dir (swept by the next [[compact]]).
  * The FIRST append creates `meta/` — creation is single-writer;
  * subsequent appends validate their knobs against it and race
  * safely. */
object RefIndexSlices {

  private val LogDir = "_slog"
  private val SlicesDir = "slices"
  private val Ext = ".mf"

  // ------------------------------------------------------- semantic
  /** Append `more` as a new slice of the semantic index at `dir`.
    * Knobs freeze at the first append (auto-derivation uses the FIRST
    * slice's count — pass bands/bits explicitly for a small seed
    * slice); later appends read them from `meta/` and reject a
    * mismatch loudly. Returns the committed manifest version. */
  def appendSemantic(more: DataFrame, dir: String, id: String, vec: String,
                     bands: Int = 0, bitsPerBand: Int = 0, dim: Int = 64,
                     maxBucket: Int = 4096): Long = {
    val spark = more.sparkSession
    val idx = RefIndexStore.readMetaIfExists(spark, dir) match {
      case Some(m) =>
        require(m("kind") == "semantic",
          s"index at $dir is kind=${m("kind")}, not semantic")
        EmbedStream.semanticRefIndex(more, id, vec,
          bands = m("bands").toInt, bitsPerBand = m("bitsPerBand").toInt,
          dim = m("dim").toInt, maxBucket = m("maxBucket").toInt)
      case None =>
        EmbedStream.semanticRefIndex(more, id, vec, bands, bitsPerBand,
          dim, maxBucket)
    }
    appendParts(dir, idx.bandRows, idx.payload, Map(
      "kind" -> "semantic", "bands" -> idx.bands.toString,
      "bitsPerBand" -> idx.bitsPerBand.toString, "dim" -> idx.dim.toString,
      "maxBucket" -> idx.maxBucket.toString))
  }

  /** The COMBINED index over every committed slice — band rows
    * unioned with sub re-derived against the merged census, so
    * probing it equals probing a full rebuild exactly. */
  def loadSemantic(spark: SparkSession, dir: String): SemanticRefIndex = {
    val (meta, ns, bandRows, payload) = loadCombined(spark, dir, "semantic")
    SemanticRefIndex(meta("bands").toInt, meta("bitsPerBand").toInt,
      meta("dim").toInt, meta("maxBucket").toInt, ns, bandRows, payload)
  }

  // -------------------------------------------------------- simhash
  def appendSimHash(more: DataFrame, dir: String, id: String, text: String,
                    maxHamming: Int = 3, maxBucket: Int = 4096): Long = {
    val spark = more.sparkSession
    val idx = RefIndexStore.readMetaIfExists(spark, dir) match {
      case Some(m) =>
        require(m("kind") == "simhash",
          s"index at $dir is kind=${m("kind")}, not simhash")
        SimHashStream.simhashRefIndex(more, id, text,
          maxHamming = m("maxHamming").toInt,
          maxBucket = m("maxBucket").toInt)
      case None =>
        SimHashStream.simhashRefIndex(more, id, text, maxHamming, maxBucket)
    }
    appendParts(dir, idx.bandRows, idx.payload, Map(
      "kind" -> "simhash", "maxHamming" -> idx.maxHamming.toString,
      "maxBucket" -> idx.maxBucket.toString))
  }

  def loadSimHash(spark: SparkSession, dir: String): SimHashRefIndex = {
    val (meta, ns, bandRows, payload) = loadCombined(spark, dir, "simhash")
    SimHashRefIndex(meta("maxHamming").toInt, meta("maxBucket").toInt, ns,
      bandRows, payload)
  }

  // -------------------------------------------------------- minhash
  def appendMinHash(more: DataFrame, dir: String, id: String, text: String,
                    n: Int = 3, threshold: Double = 0.7, bands: Int = 64,
                    rowsPerBand: Int = 2, maxBucket: Int = 4096): Long = {
    val spark = more.sparkSession
    val idx = RefIndexStore.readMetaIfExists(spark, dir) match {
      case Some(m) =>
        require(m("kind") == "minhash",
          s"index at $dir is kind=${m("kind")}, not minhash")
        MinHashStream.minhashRefIndex(more, id, text,
          n = m("n").toInt, threshold = m("threshold").toDouble,
          bands = m("bands").toInt, rowsPerBand = m("rowsPerBand").toInt,
          maxBucket = m("maxBucket").toInt)
      case None =>
        MinHashStream.minhashRefIndex(more, id, text, n, threshold,
          bands, rowsPerBand, maxBucket)
    }
    appendParts(dir, idx.bandRows, idx.payload, Map(
      "kind" -> "minhash", "n" -> idx.n.toString,
      "threshold" -> idx.threshold.toString, "bands" -> idx.bands.toString,
      "rowsPerBand" -> idx.rowsPerBand.toString,
      "maxBucket" -> idx.maxBucket.toString))
  }

  def loadMinHash(spark: SparkSession, dir: String): MinHashRefIndex = {
    val (meta, ns, bandRows, payload) = loadCombined(spark, dir, "minhash")
    MinHashRefIndex(meta("n").toInt, meta("threshold").toDouble,
      meta("bands").toInt, meta("rowsPerBand").toInt,
      meta("maxBucket").toInt, ns, bandRows, payload)
  }

  // ----------------------------------------------------- compaction
  /** Collapse every committed slice into ONE (family-agnostic: band
    * rows unioned, censuses summed, payloads unioned — no banding
    * re-run), commit a manifest referencing only it, and sweep the
    * now-unreferenced slice dirs (including aged crash orphans). The
    * full rewrite happens HERE, on compaction cadence, not per append.
    * Returns the committed version.
    *
    * Concurrency discipline (the [[RefIndexStore.recover]] twin):
    * the replace-manifest commit is a strict CAS on the version read
    * at compact start — if a concurrent append commits in between,
    * compact REFUSES (IllegalStateException, half-built slice cleaned
    * up) instead of retrying with a stale list, so an appended slice
    * can never silently drop out of the live set OR lose its data to
    * the sweep. The sweep itself deletes (a) the slices this compact
    * provably replaced and (b) unreferenced orphan dirs with no write
    * activity within `graceMs` — a concurrent append that has written
    * its slice but not yet committed looks like a FRESH orphan and is
    * left alone (its commit is a replace=false CAS that simply lands
    * on the compacted manifest). Pass a larger grace when appends can
    * stall longer than the default between file closes. */
  def compact(spark: SparkSession, dir: String,
              graceMs: Long = DefaultGraceMs): Long =
    compactCore(spark, dir, graceMs) { (slices, slice) =>
      // one multi-path read per artifact (r13, see loadBase)
      def part(p: String) = spark.read.parquet(slices.map(u =>
        new Path(slicePath(new Path(dir), u), p).toString): _*)
      // three independent writes to distinct paths — overlap (guide
      // §2.6); the replace-manifest CAS commits after all of them
      graft.io.Concurrent.awaitAll(spark, Seq(
        () => part("band_rows")
          .write.mode(SaveMode.Overwrite)
          .parquet(new Path(slice, "band_rows").toString),
        () => part("census")
          .groupBy("band", "bucket").agg(sum(col("cnt")).as("cnt"))
          .write.mode(SaveMode.Overwrite)
          .parquet(new Path(slice, "census").toString),
        () => part("payload")
          .write.mode(SaveMode.Overwrite)
          .parquet(new Path(slice, "payload").toString)))
    }

  private[graft] val DefaultGraceMs: Long = 15 * 60 * 1000L

  /** Shared compaction skeleton (this store's three families and
    * [[graft.ext.AnnStore]]'s pq/ivfpq slice stores): read the live
    * slice list at version v, let `write` build the single compacted
    * slice dir from it, CAS-commit a replace manifest at exactly
    * v + 1, then sweep replaced slices and AGED orphans. A lost CAS
    * (concurrent append) cleans up the compacted dir and rethrows. */
  private[graft] def compactCore(spark: SparkSession, dir: String,
                                 graceMs: Long)
                                (write: (Seq[String], Path) => Unit): Long = {
    val (fs, root) = fsOf(spark, dir)
    val v = currentVersion(fs, root)
    require(v > 0, s"no committed slices at $dir")
    val slices = readSlices(fs, root, v)
    val uuid = java.util.UUID.randomUUID().toString
    val slice = slicePath(root, uuid)
    write(slices, slice)
    val committed =
      try commitManifest(fs, root, Seq(uuid), replace = true,
        expectedVersion = Some(v))
      catch { case e: IllegalStateException =>
        fs.delete(slice, true) // the half-built compacted slice
        throw e
      }
    val replaced = slices.toSet
    val slicesRoot = new Path(root, SlicesDir)
    val now = System.currentTimeMillis()
    if (fs.exists(slicesRoot))
      fs.listStatus(slicesRoot).map(_.getPath)
        .filter(p => p.getName != uuid &&
          (replaced.contains(p.getName) ||
            now - newestMtime(fs, p) >= graceMs))
        .foreach(p => fs.delete(p, true))
    committed
  }

  /** Newest modification time anywhere under `p` — the same liveness
    * signal [[RefIndexStore.recover]] keys its in-flight grace on: an
    * active writer keeps closing files, so its newest content mtime
    * stays fresh however long the job has been running. */
  private[graft] def newestMtime(fs: FileSystem, p: Path): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else fs.listStatus(p).foldLeft(st.getModificationTime) {
      (acc, c) => math.max(acc, newestMtime(fs, c.getPath))
    }
  }

  /** Committed slice count (0 for an absent/empty index) — the
    * compaction-cadence signal. */
  def sliceCount(spark: SparkSession, dir: String): Int = {
    val (fs, root) = fsOf(spark, dir)
    val v = currentVersion(fs, root)
    if (v == 0) 0 else readSlices(fs, root, v).size
  }

  // ---------------------------------------------------------- parts
  /** Write one slice (band rows sans sub + full per-key census +
    * payload), then CAS-commit it onto the manifest. */
  private def appendParts(dir: String, bandRows: DataFrame,
                          payload: DataFrame,
                          meta: Map[String, String]): Long = {
    val spark = bandRows.sparkSession
    val (fs, root) = fsOf(spark, dir)
    RefIndexStore.readMetaIfExists(spark, dir) match {
      case Some(existing) => require(existing == meta,
        s"slice knobs $meta != index knobs $existing — " +
          "slices must share the build knobs")
      case None =>
        fs.mkdirs(root)
        RefIndexStore.writeMeta(spark, root, meta)
    }
    val uuid = java.util.UUID.randomUUID().toString
    val slice = new Path(new Path(root, SlicesDir), uuid)
    // sub is DERIVED state (a function of the global census) — store
    // the raw banded rows; load re-derives sub against the merged ns
    val raw = bandRows.select(col("band"), col("bucket"), col("id_b"))
    // band rows, the FULL per-key census (not just oversized: only the
    // merged SUM can decide which buckets cross the cap once other
    // slices add their rows), and the payload are independent writes
    // to distinct paths — overlap (guide §2.6); the manifest CAS
    // commits strictly after all three
    graft.io.Concurrent.awaitAll(spark, Seq(
      () => raw.write.mode(SaveMode.Overwrite)
        .parquet(new Path(slice, "band_rows").toString),
      () => raw.groupBy("band", "bucket").agg(count(lit(1)).as("cnt"))
        .write.mode(SaveMode.Overwrite)
        .parquet(new Path(slice, "census").toString),
      () => payload.write.mode(SaveMode.Overwrite)
        .parquet(new Path(slice, "payload").toString)))
    commitManifest(fs, root, Seq(uuid), replace = false)
  }

  /** (meta, slice uuids, root, merged ns): the shared head of both
    * load shapes. The global census is per-slice counts merged by SUM
    * (exact — each id's band rows live in exactly one slice), then the
    * identical ceil/filter arithmetic as Planes.refCensusSub so the
    * loaded index can never disagree with a full rebuild. The census
    * is ONE multi-path read over the slice dirs (r13, guide §6) — the
    * slices share a writer and schema, so per-slice read + union paid
    * a listing, a schema read and a plan branch per slice for nothing. */
  private def loadBase(spark: SparkSession, dir: String, kind: String)
      : (Map[String, String], Seq[String], Path, DataFrame) = {
    val meta = RefIndexStore.readMeta(spark, dir, kind)
    val maxBucket = meta("maxBucket").toInt
    val (fs, root) = fsOf(spark, dir)
    val v = currentVersion(fs, root)
    val slices = if (v == 0) Seq.empty else readSlices(fs, root, v)
    require(slices.nonEmpty, s"no committed slices at $dir")
    val ns = spark.read.parquet(slices.map(u =>
        new Path(slicePath(root, u), "census").toString): _*)
      .groupBy("band", "bucket").agg(sum(col("cnt")).as("_total"))
      .select(col("band"), col("bucket"),
        IntMath.truncDiv(col("_total") + (maxBucket - 1),
          lit(maxBucket.toLong)).as("_ns"))
      .filter(col("_ns") > 1)
      .localCheckpoint()
    (meta, slices, root, ns)
  }

  /** Sub-assignment of raw band rows against the merged census —
    * identical arithmetic wherever band rows are loaded. */
  private def withSub(bandRows: DataFrame, ns: DataFrame): DataFrame =
    bandRows
      .join(broadcast(ns), Seq("band", "bucket"), "left")
      .select(col("band"), col("bucket"),
        when(col("_ns").isNull, lit(0L))
          .otherwise(pmod(Planes.subHash(col("id_b")), col("_ns")))
          .as("sub"),
        col("id_b"))

  /** (meta, merged ns, COMBINED sub-assigned band rows, payload):
    * band rows and payload each load as ONE multi-path read over the
    * slice dirs, and the sub derivation is one join over the combined
    * rows — the union of per-slice joins equals the join of the union
    * exactly (joins distribute over unions), with one scan node and
    * one listing instead of one of each per slice. */
  private def loadCombined(spark: SparkSession, dir: String, kind: String)
      : (Map[String, String], DataFrame, DataFrame, DataFrame) = {
    val (meta, slices, root, ns) = loadBase(spark, dir, kind)
    def part(p: String) = spark.read.parquet(slices.map(u =>
      new Path(slicePath(root, u), p).toString): _*)
    (meta, ns, withSub(part("band_rows"), ns), part("payload"))
  }

  // ------------------------------------------------------- manifest
  private[graft] def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def slicePath(root: Path, uuid: String): Path =
    new Path(new Path(root, SlicesDir), uuid)

  private def manifestName(v: Long) = f"$v%020d$Ext"

  private[graft] def currentVersion(fs: FileSystem, root: Path): Long = {
    val log = new Path(root, LogDir)
    if (!fs.exists(log)) 0L
    else fs.listStatus(log)
      .filter(s => s.isFile && s.getPath.getName.endsWith(Ext))
      .map(_.getPath.getName.stripSuffix(Ext).toLong)
      .foldLeft(0L)(math.max)
  }

  private[graft] def readSlices(fs: FileSystem, root: Path, v: Long): Seq[String] = {
    val in = fs.open(new Path(new Path(root, LogDir), manifestName(v)))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toVector finally in.close()
    lines.flatMap { l =>
      l.split('\t') match {
        case Array("slice", u) => Some(u)
        case Array("") => None
        case other => throw new java.io.IOException(
          s"corrupt slice manifest $v: ${other.mkString("\t")}")
      }
    }
  }

  /** Commit the next manifest version via write-to-temp + rename:
    * Hadoop rename-to-existing returns false, so concurrent writers
    * race on the version name and exactly one wins; the loser
    * re-reads the live list and retries (the io.VersionedLake CAS).
    *
    * `expectedVersion` makes the commit a STRICT CAS for replace-mode
    * writers (compaction): the manifest must still be at that version
    * when the commit lands, else IllegalStateException — a replace
    * retry against a moved manifest would silently discard whatever
    * the concurrent writer committed (the data-loss race the r11
    * verdict flagged). Append-mode writers re-read and retry safely,
    * so they leave it unset. */
  private[graft] def commitManifest(fs: FileSystem, root: Path,
                             addSlices: Seq[String],
                             replace: Boolean,
                             expectedVersion: Option[Long] = None): Long = {
    val log = new Path(root, LogDir)
    fs.mkdirs(log)
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val v = currentVersion(fs, root)
      expectedVersion.filter(_ != v).foreach { ev =>
        throw new IllegalStateException(
          s"manifest at $root moved ($ev -> $v) under a replace " +
            "commit — a concurrent append won the race; re-run " +
            "compaction over the new slice list")
      }
      val prev =
        if (replace || v == 0) Seq.empty else readSlices(fs, root, v)
      val next = prev ++ addSlices
      val tmp = new Path(log, s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      val w = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(out, "UTF-8"))
      try next.foreach(u => w.println(s"slice\t$u")) finally w.close()
      if (fs.rename(tmp, new Path(log, manifestName(v + 1)))) return v + 1
      fs.delete(tmp, false)
    }
    throw new java.io.IOException(
      s"slice commit lost the version race 20 times: $root")
  }
}
