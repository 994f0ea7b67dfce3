package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{IntMath, Planes}
import graft.streaming.EmbedStream.SemanticRefIndex
import graft.streaming.MinHashStream.MinHashRefIndex
import graft.streaming.SimHashStream.SimHashRefIndex

/** The on-disk reference indexes and their one commit protocol. The
  * three streaming families ([[EmbedStream.SemanticRefIndex]],
  * [[SimHashStream.SimHashRefIndex]], [[MinHashStream.MinHashRefIndex]])
  * are saved, appended to, compacted and loaded here; the ANN kinds of
  * [[graft.ext.AnnStore]] commit through the same protocol. An index
  * on disk outlives the driver that built it, so probing jobs never
  * re-scan the reference corpus.
  *
  * {{{
  *   dir/_slog/<v>.mf     one manifest per committed version
  *   dir/frozen/<uuid>/   artifacts fixed when the index was saved
  *                        (the pq/ivfpq codebook and centroids)
  *   dir/slices/<uuid>/   one dir per slice
  * }}}
  *
  * Each manifest is self-contained: it names the index kind, its knobs,
  * its frozen dir (the streaming kinds have none) and its live slices,
  * and readers read only the newest version. A manifest is written to a
  * `.tmp-` file and renamed to the next version's name; Hadoop's
  * rename-to-existing fails, so concurrent committers race on the
  * version number and exactly one wins ([[commit]]). Everything a
  * writer puts on disk before its rename lands is unreferenced, and so
  * invisible: a crash at any step leaves the last committed version
  * loadable. There are three commit kinds:
  *  - a save ([[saveSemantic]] etc., `AnnStore.savePq`/`saveIvfPq`)
  *    writes a fresh frozen dir and one slice and commits a version
  *    that names only them, replacing whatever was there;
  *  - an append adds one slice to the newest version. After a lost race
  *    it retries onto the newer version only if that version has the
  *    same kind, knobs and frozen dir, and otherwise refuses;
  *  - a compaction ([[compact]]) collapses the slices of the version it
  *    read into one, and commits only if no other commit landed since.
  *
  * After a save or a compaction, [[sweep]] deletes the slice and frozen
  * dirs an older version named but the newest does not, and any other
  * unreferenced dir (a crashed or in-flight write) once it has seen no
  * write for a grace period.
  *
  * Streaming slices come in two forms:
  *  - an APPENDED slice holds `band_rows` (band, bucket, id_b) with no
  *    sub column, the full per-key `census` (band, bucket, cnt) and the
  *    family `payload`. Its cost is proportional to the new rows only:
  *    the oversized-bucket `sub` of a row depends on the GLOBAL census,
  *    which a later append can change, so it is derived at load;
  *  - a COMPACTED slice (written by a save and by a compaction) holds
  *    band rows with `sub`, hash-bucketed and sorted on
  *    (band, bucket, sub), the census, and the payload bucketed on
  *    `id_b`. The bucket count is the `buckets` knob, fixed when the
  *    index is created.
  *
  * A version holding one compacted slice loads its band rows and
  * payload as bucketed tables, so the per-micro-batch probe join pays
  * no static-side Exchange (the shuffle is paid once, at save or
  * compaction). Any other version merges the slices' censuses by SUM
  * (exact: each id's band rows live in exactly one slice), derives the
  * global ns as [[Planes.refCensusSub]] does, and re-derives every
  * row's sub in the scan projection; the loaded index equals a full
  * rebuild exactly, spec-gated. Append nightly at slice cost and
  * compact on the cadence that keeps the slice count sane.
  */
object RefIndexSlices {

  private val LogDir = "_slog"
  private val SlicesDir = "slices"
  private val FrozenDir = "frozen"
  private val Ext = ".mf"

  private[graft] val DefaultGraceMs: Long = 15 * 60 * 1000L
  private val DefaultBuckets = 32

  /** One committed version. `compacted` marks a version whose one
    * slice a save or a compaction wrote. */
  private[graft] final case class Manifest(kind: String,
      knobs: Map[String, String], frozen: Option[String],
      slices: Seq[String], compacted: Boolean)

  // ------------------------------------------------------- semantic
  def saveSemantic(idx: SemanticRefIndex, dir: String,
                   buckets: Int = DefaultBuckets): Unit =
    saveParts(dir, buckets, "semantic", semanticKnobs(idx), idx.bandRows,
      idx.payload)

  /** Append `more` as a new slice of the semantic index at `dir`,
    * creating the index when `dir` holds none. Knobs freeze when the
    * index is created (auto-derivation uses the FIRST slice's count —
    * pass bands/bits explicitly for a small seed slice); later appends
    * use the stored knobs. Returns the committed version. */
  def appendSemantic(more: DataFrame, dir: String, id: String, vec: String,
                     bands: Int = 0, bitsPerBand: Int = 0, dim: Int = 64,
                     maxBucket: Int = 4096): Long =
    appendParts(more.sparkSession, dir, "semantic") { k =>
      def knob(name: String, arg: Int) = k.fold(arg)(_(name).toInt)
      val idx = EmbedStream.semanticRefIndex(more, id, vec,
        knob("bands", bands), knob("bitsPerBand", bitsPerBand),
        knob("dim", dim), knob("maxBucket", maxBucket))
      (semanticKnobs(idx), idx.bandRows, idx.payload)
    }

  def loadSemantic(spark: SparkSession, dir: String): SemanticRefIndex = {
    val (k, ns, bandRows, payload) = loadParts(spark, dir, "semantic")
    SemanticRefIndex(k("bands").toInt, k("bitsPerBand").toInt,
      k("dim").toInt, k("maxBucket").toInt, ns, bandRows, payload)
  }

  private def semanticKnobs(idx: SemanticRefIndex) = Map(
    "bands" -> idx.bands.toString, "bitsPerBand" -> idx.bitsPerBand.toString,
    "dim" -> idx.dim.toString, "maxBucket" -> idx.maxBucket.toString)

  // -------------------------------------------------------- simhash
  /** Covers the text SimHash index and every
    * [[SimHashStream.sigRefIndex]]-built media signature index. */
  def saveSimHash(idx: SimHashRefIndex, dir: String,
                  buckets: Int = DefaultBuckets): Unit =
    saveParts(dir, buckets, "simhash", simHashKnobs(idx), idx.bandRows,
      idx.payload)

  def appendSimHash(more: DataFrame, dir: String, id: String, text: String,
                    maxHamming: Int = 3, maxBucket: Int = 4096): Long =
    appendParts(more.sparkSession, dir, "simhash") { k =>
      val idx = SimHashStream.simhashRefIndex(more, id, text,
        k.fold(maxHamming)(_("maxHamming").toInt),
        k.fold(maxBucket)(_("maxBucket").toInt))
      (simHashKnobs(idx), idx.bandRows, idx.payload)
    }

  def loadSimHash(spark: SparkSession, dir: String): SimHashRefIndex = {
    val (k, ns, bandRows, payload) = loadParts(spark, dir, "simhash")
    SimHashRefIndex(k("maxHamming").toInt, k("maxBucket").toInt, ns,
      bandRows, payload)
  }

  private def simHashKnobs(idx: SimHashRefIndex) = Map(
    "maxHamming" -> idx.maxHamming.toString,
    "maxBucket" -> idx.maxBucket.toString)

  // -------------------------------------------------------- minhash
  def saveMinHash(idx: MinHashRefIndex, dir: String,
                  buckets: Int = DefaultBuckets): Unit =
    saveParts(dir, buckets, "minhash", minHashKnobs(idx), idx.bandRows,
      idx.payload)

  def appendMinHash(more: DataFrame, dir: String, id: String, text: String,
                    n: Int = 3, threshold: Double = 0.7, bands: Int = 64,
                    rowsPerBand: Int = 2, maxBucket: Int = 4096): Long =
    appendParts(more.sparkSession, dir, "minhash") { k =>
      def knob(name: String, arg: Int) = k.fold(arg)(_(name).toInt)
      val idx = MinHashStream.minhashRefIndex(more, id, text,
        knob("n", n), k.fold(threshold)(_("threshold").toDouble),
        knob("bands", bands), knob("rowsPerBand", rowsPerBand),
        knob("maxBucket", maxBucket))
      (minHashKnobs(idx), idx.bandRows, idx.payload)
    }

  def loadMinHash(spark: SparkSession, dir: String): MinHashRefIndex = {
    val (k, ns, bandRows, payload) = loadParts(spark, dir, "minhash")
    MinHashRefIndex(k("n").toInt, k("threshold").toDouble,
      k("bands").toInt, k("rowsPerBand").toInt, k("maxBucket").toInt, ns,
      bandRows, payload)
  }

  private def minHashKnobs(idx: MinHashRefIndex) = Map(
    "n" -> idx.n.toString, "threshold" -> idx.threshold.toString,
    "bands" -> idx.bands.toString, "rowsPerBand" -> idx.rowsPerBand.toString,
    "maxBucket" -> idx.maxBucket.toString)

  // ----------------------------------------------------- compaction
  /** Collapse every slice of a streaming index into ONE compacted slice
    * (family-agnostic: band rows re-derived against the merged census,
    * censuses summed, payloads unioned — no banding re-run), commit it
    * and sweep. The full rewrite happens HERE, on compaction cadence,
    * not per append. Returns the committed version.
    *
    * The commit is a strict CAS on the version read at the start: if a
    * concurrent append commits in between, compact REFUSES
    * (IllegalStateException, half-built slice cleaned up) instead of
    * retrying with a stale list, so an appended slice can never drop
    * out of the live set nor lose its data to the sweep. An append that
    * has written its slice but not yet committed looks like a FRESH
    * unreferenced dir, which the sweep leaves alone for `graceMs`; pass
    * a larger grace when appends can stall longer than the default
    * between file closes. */
  def compact(spark: SparkSession, dir: String,
              graceMs: Long = DefaultGraceMs): Long =
    compactCore(spark, dir, graceMs) { (m, slice) =>
      require(Streaming(m.kind),
        s"index at $dir is kind=${m.kind}, not a streaming kind")
      val root = new Path(dir)
      val census = read(spark, root, m, "census")
        .groupBy("band", "bucket").agg(sum(col("cnt")).as("cnt"))
      val ns = nsOf(census, m.knobs("maxBucket").toInt)
      writeCompacted(slice, m.knobs("buckets").toInt, census,
        withSub(rawBandRows(spark, root, m), ns),
        read(spark, root, m, "payload"))
    }

  /** Compaction skeleton shared with [[graft.ext.AnnStore]]: read the
    * newest version v, let `write` build the single compacted slice
    * from it, commit a version naming only that slice if the newest is
    * still v, then sweep. A lost CAS (a concurrent commit) deletes the
    * compacted dir and rethrows. */
  private[graft] def compactCore(spark: SparkSession, dir: String,
                                 graceMs: Long)
                                (write: (Manifest, Path) => Unit): Long = {
    val (fs, root) = fsOf(spark, dir)
    val (v, m) = latest(fs, root)
      .getOrElse(throw new IllegalArgumentException(s"no index at $dir"))
    val uuid = java.util.UUID.randomUUID().toString
    val slice = slicePath(root, uuid)
    write(m, slice)
    val committed =
      try commit(fs, root) { (now, _) =>
        if (now != v) throw new IllegalStateException(
          s"manifest at $root moved ($v -> $now) under a replace " +
            "commit — a concurrent append won the race; re-run " +
            "compaction over the new slice list")
        m.copy(slices = Seq(uuid), compacted = true)
      }
      catch { case e: IllegalStateException =>
        fs.delete(slice, true) // the half-built compacted slice
        throw e
      }
    sweep(fs, root, graceMs)
    committed
  }

  /** Committed slice count (0 for an absent index) — the
    * compaction-cadence signal. */
  def sliceCount(spark: SparkSession, dir: String): Int = {
    val (fs, root) = fsOf(spark, dir)
    latest(fs, root).fold(0)(_._2.slices.size)
  }

  // ----------------------------------------------- save and append
  /** Write a fresh frozen dir (when `frozen`) and one slice through
    * `write`, commit a version of `kind` naming only them, and sweep —
    * a save replaces whatever `dir` held. */
  private[graft] def saveVersion(spark: SparkSession, dir: String,
                                 kind: String, knobs: Map[String, String],
                                 frozen: Boolean)
                                (write: (Option[Path], Path) => Unit): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val frozenDir =
      if (frozen) Some(java.util.UUID.randomUUID().toString) else None
    val slice = java.util.UUID.randomUUID().toString
    write(frozenDir.map(f => new Path(new Path(root, FrozenDir), f)),
      slicePath(root, slice))
    commit(fs, root)((_, _) =>
      Manifest(kind, knobs, frozenDir, Seq(slice), compacted = true))
    sweep(fs, root, DefaultGraceMs)
  }

  /** Write one slice through `write` and commit it onto the newest
    * version, which must still have `base`'s kind, knobs and frozen dir
    * (on an empty dir, `base` becomes the first version). */
  private[graft] def appendVersion(spark: SparkSession, dir: String,
                                   base: Manifest)
                                  (write: Path => Unit): Long = {
    val (fs, root) = fsOf(spark, dir)
    val slice = java.util.UUID.randomUUID().toString
    write(slicePath(root, slice))
    commit(fs, root) {
      case (_, None) => base.copy(slices = Seq(slice), compacted = false)
      case (_, Some(m)) if (m.kind, m.knobs, m.frozen) ==
          (base.kind, base.knobs, base.frozen) =>
        m.copy(slices = m.slices :+ slice, compacted = false)
      case (v, Some(m)) => throw new IllegalStateException(
        s"index at $dir changed under an append: version $v is " +
          s"kind=${m.kind} with knobs ${m.knobs} and frozen dir " +
          s"${m.frozen.getOrElse("none")}, the slice was built for " +
          s"kind=${base.kind} with knobs ${base.knobs} and frozen dir " +
          s"${base.frozen.getOrElse("none")}; re-run the append")
    }
  }

  /** The newest version of the index at `dir`, which must exist and
    * be `kind`. */
  private[graft] def head(spark: SparkSession, dir: String,
                          kind: String): Manifest = {
    val m = manifest(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no index at $dir"))
    require(m.kind == kind, s"index at $dir is kind=${m.kind}, not $kind")
    m
  }

  /** The newest version of the index at `dir`, or None when `dir`
    * holds no index: one small file read. */
  private[graft] def manifest(spark: SparkSession,
                              dir: String): Option[Manifest] = {
    val (fs, root) = fsOf(spark, dir)
    latest(fs, root).map(_._2)
  }

  /** `part` of every slice of `m` as ONE multi-path read: the slices
    * share a writer and schema, so per-slice read + union would pay a
    * listing, a schema read and a plan branch per slice for nothing. */
  private[graft] def read(spark: SparkSession, root: Path, m: Manifest,
                          part: String): DataFrame =
    spark.read.parquet(m.slices.map(u =>
      new Path(slicePath(root, u), part).toString): _*)

  private[graft] def frozenPath(root: Path, m: Manifest, part: String): String =
    new Path(new Path(new Path(root, FrozenDir), m.frozen.get), part).toString

  // ------------------------------------------- streaming slice parts
  private val Streaming = Set("semantic", "simhash", "minhash")

  /** A streaming save: one compacted slice, replacing the index. */
  private def saveParts(dir: String, buckets: Int, kind: String,
                        knobs: Map[String, String], bandRows: DataFrame,
                        payload: DataFrame): Unit = {
    require(buckets > 0, "bucket count must be positive")
    saveVersion(bandRows.sparkSession, dir, kind,
        knobs.updated("buckets", buckets.toString), frozen = false) {
      (_, slice) => writeCompacted(slice, buckets,
        bandRows.groupBy("band", "bucket").agg(count(lit(1)).as("cnt")),
        bandRows, payload)
    }
  }

  /** Band rows with sub bucketed and sorted on (band, bucket, sub), the
    * census, and the payload bucketed on id_b: independent writes to
    * distinct paths, overlapped (guide §2.6). */
  private def writeCompacted(slice: Path, buckets: Int, census: DataFrame,
                             bandRows: DataFrame, payload: DataFrame): Unit =
    graft.io.Concurrent.awaitAll(census.sparkSession, Seq(
      () => writeBucketedAt(
        bandRows.select(col("band"), col("bucket"), col("sub"), col("id_b")),
        new Path(slice, "band_rows"), Seq("band", "bucket", "sub"), buckets),
      () => census.write.mode(SaveMode.Overwrite)
        .parquet(new Path(slice, "census").toString),
      () => writeBucketedAt(payload, new Path(slice, "payload"), Seq("id_b"),
        buckets)))

  /** Append one slice (band rows sans sub + full per-key census +
    * payload) built by `build` from the stored knobs (None on an empty
    * dir, where the slice creates the index). */
  private def appendParts(spark: SparkSession, dir: String, kind: String)
                         (build: Option[Map[String, String]] =>
                           (Map[String, String], DataFrame, DataFrame)): Long = {
    val stored = manifest(spark, dir)
    stored.foreach(m => require(m.kind == kind,
      s"index at $dir is kind=${m.kind}, not $kind"))
    val (knobs, bandRows, payload) = build(stored.map(_.knobs))
    val buckets = stored.fold(DefaultBuckets.toString)(_.knobs("buckets"))
    appendVersion(spark, dir, Manifest(kind, knobs.updated("buckets", buckets),
        None, Nil, compacted = false)) { slice =>
      // sub is DERIVED state (a function of the global census) — store
      // the raw banded rows; load re-derives sub against the merged ns
      val raw = bandRows.select(col("band"), col("bucket"), col("id_b"))
      // the FULL per-key census (not just oversized: only the merged SUM
      // can decide which buckets cross the cap once other slices add
      // their rows); three independent writes, overlapped
      graft.io.Concurrent.awaitAll(spark, Seq(
        () => raw.write.mode(SaveMode.Overwrite)
          .parquet(new Path(slice, "band_rows").toString),
        () => raw.groupBy("band", "bucket").agg(count(lit(1)).as("cnt"))
          .write.mode(SaveMode.Overwrite)
          .parquet(new Path(slice, "census").toString),
        () => payload.write.mode(SaveMode.Overwrite)
          .parquet(new Path(slice, "payload").toString)))
    }
  }

  /** (knobs, merged ns, band rows with sub, payload) of the newest
    * version: bucketed tables for one compacted slice, else the census
    * merge over every slice. */
  private def loadParts(spark: SparkSession, dir: String, kind: String)
      : (Map[String, String], DataFrame, DataFrame, DataFrame) = {
    val m = head(spark, dir, kind)
    val root = new Path(dir)
    // a slice's census holds each key once: only a merge needs the SUM
    // (and its shuffle)
    val census = read(spark, root, m, "census")
    val ns = nsOf(if (m.slices.size == 1) census
      else census.groupBy("band", "bucket").agg(sum(col("cnt")).as("cnt")),
      m.knobs("maxBucket").toInt).localCheckpoint()
    if (m.compacted) {
      val slice = slicePath(root, m.slices.head)
      val buckets = m.knobs("buckets").toInt
      (m.knobs, ns,
        registerBucketed(spark, tableName(dir, "band"),
          new Path(slice, "band_rows"), Seq("band", "bucket", "sub"), buckets),
        registerBucketed(spark, tableName(dir, "payload"),
          new Path(slice, "payload"), Seq("id_b"), buckets))
    } else
      (m.knobs, ns, withSub(rawBandRows(spark, root, m), ns),
        read(spark, root, m, "payload"))
  }

  /** Every slice's (band, bucket, id_b): the schema is given because
    * only compacted band rows carry sub. */
  private def rawBandRows(spark: SparkSession, root: Path,
                          m: Manifest): DataFrame =
    spark.read.schema("band INT, bucket BIGINT, id_b BIGINT")
      .parquet(m.slices.map(u =>
        new Path(slicePath(root, u), "band_rows").toString): _*)

  /** The oversized keys of a (band, bucket, cnt) census — the identical
    * ceil/filter arithmetic as Planes.refCensusSub, so a loaded index
    * can never disagree with a full rebuild. */
  private def nsOf(census: DataFrame, maxBucket: Int): DataFrame =
    census.select(col("band"), col("bucket"),
        IntMath.truncDiv(col("cnt") + (maxBucket - 1),
          lit(maxBucket.toLong)).as("_ns"))
      .filter(col("_ns") > 1)

  /** Sub-assignment of raw band rows against the merged census. */
  private def withSub(bandRows: DataFrame, ns: DataFrame): DataFrame =
    bandRows
      .join(broadcast(ns), Seq("band", "bucket"), "left")
      .select(col("band"), col("bucket"),
        when(col("_ns").isNull, lit(0L))
          .otherwise(pmod(Planes.subHash(col("id_b")), col("_ns")))
          .as("sub"),
        col("id_b"))

  /** Catalog names derived from a path: stable across sessions and
    * distinct across indexes, so registration (drop-and-recreate) is
    * idempotent. */
  private def tableName(path: String, part: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"graft_refidx_${h}_$part"
  }

  /** Write `df` as bucketed+sorted parquet AT `path` (an external table
    * through a transient catalog name — only the FILES matter; the
    * bucket spec is re-registered from the manifest's knobs at load). */
  private def writeBucketedAt(df: DataFrame, path: Path, keys: Seq[String],
                              buckets: Int): Unit = {
    val spark = df.sparkSession
    val tmpTable = tableName(path.toString, "stage")
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    // repartition ON the bucket keys to exactly `buckets` partitions:
    // HashPartitioning here is the same murmur3-pmod the bucketed
    // write assigns files by, so each task holds exactly one bucket
    // and the layout lands as ONE file per bucket — without this,
    // every input task writes a file per bucket it touches
    // (tasks × buckets small files; measured 35%+ of save wall)
    df.repartition(buckets, keys.map(col): _*)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path.toString)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // external: files stay
  }

  /** Register the bucketed files at `path` under a stable catalog name
    * and return the table — the scan carries the bucket layout, so
    * joins on the bucket keys skip the static-side Exchange. */
  private def registerBucketed(spark: SparkSession, name: String, path: Path,
                               keys: Seq[String], buckets: Int): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val schema = spark.read.parquet(path.toString).schema.toDDL
    spark.sql(
      s"""CREATE TABLE $name ($schema) USING PARQUET
         |CLUSTERED BY (${keys.mkString(", ")})
         |SORTED BY (${keys.mkString(", ")})
         |INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.table(name)
  }

  // ------------------------------------------------------- manifest
  private[graft] def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def slicePath(root: Path, uuid: String): Path =
    new Path(new Path(root, SlicesDir), uuid)

  private def manifestName(v: Long) = f"$v%020d$Ext"

  private def versions(fs: FileSystem, root: Path): Seq[Long] = {
    val log = new Path(root, LogDir)
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(Ext))
      .map(_.getPath.getName.stripSuffix(Ext).toLong).sorted
  }

  private def latest(fs: FileSystem, root: Path): Option[(Long, Manifest)] =
    versions(fs, root).lastOption.map(v => v -> readManifest(fs, root, v))

  private def readManifest(fs: FileSystem, root: Path, v: Long): Manifest = {
    val in = fs.open(new Path(new Path(root, LogDir), manifestName(v)))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toVector finally in.close()
    lines.foldLeft(Manifest("", Map.empty, None, Vector.empty, false)) {
      (m, l) => l.split('\t') match {
        case Array("kind", k) => m.copy(kind = k)
        case Array("knob", k, value) => m.copy(knobs = m.knobs.updated(k, value))
        case Array("frozen", f) => m.copy(frozen = Some(f))
        case Array("slice", u) => m.copy(slices = m.slices :+ u)
        case Array("compacted") => m.copy(compacted = true)
        case other => throw new java.io.IOException(
          s"corrupt index manifest $v at $root: ${other.mkString("\t")}")
      }
    }
  }

  /** THE commit: write the manifest `next` derives from the newest
    * version (its number, and its manifest or None on an empty dir) to
    * a temp file, then rename it to the next version's name. Rename to
    * an existing name fails, so concurrent committers race on the
    * version number and exactly one wins; a loser derives again from
    * the newer version, and `next` decides whether to retry on it or
    * throw. Returns the committed version. */
  private[graft] def commit(fs: FileSystem, root: Path)
                           (next: (Long, Option[Manifest]) => Manifest): Long = {
    val log = new Path(root, LogDir)
    fs.mkdirs(log)
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val newest = latest(fs, root)
      val v = newest.fold(0L)(_._1)
      val m = next(v, newest.map(_._2))
      val tmp = new Path(log, s".tmp-${java.util.UUID.randomUUID()}")
      val w = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(fs.create(tmp, true), "UTF-8"))
      try {
        w.println(s"kind\t${m.kind}")
        m.knobs.toSeq.sorted.foreach { case (k, value) =>
          w.println(s"knob\t$k\t$value")
        }
        m.frozen.foreach(f => w.println(s"frozen\t$f"))
        m.slices.foreach(u => w.println(s"slice\t$u"))
        if (m.compacted) w.println("compacted")
      } finally w.close()
      if (fs.rename(tmp, new Path(log, manifestName(v + 1)))) return v + 1
      fs.delete(tmp, false)
    }
    throw new java.io.IOException(
      s"index commit lost the version race 20 times: $root")
  }

  /** Delete every slice or frozen dir the newest version does not
    * name: at once when an older version named it (it is provably
    * replaced), else once nothing under it has been written for
    * `graceMs` (a crashed write, or an in-flight one that has not
    * committed yet). Stale `.tmp-` manifests age out the same way. */
  private def sweep(fs: FileSystem, root: Path, graceMs: Long): Unit = {
    val all = versions(fs, root).map(readManifest(fs, root, _))
    def dirs(m: Manifest) = m.slices ++ m.frozen
    val live = all.lastOption.toSeq.flatMap(dirs).toSet
    val dead = all.flatMap(dirs).toSet -- live
    val now = System.currentTimeMillis()
    def aged(p: Path) = now - newestMtime(fs, p) >= graceMs
    def list(sub: String) = {
      val d = new Path(root, sub)
      if (fs.exists(d)) fs.listStatus(d).toSeq.map(_.getPath) else Nil
    }
    (list(SlicesDir) ++ list(FrozenDir))
      .filter(p => !live(p.getName) && (dead(p.getName) || aged(p)))
      .foreach(fs.delete(_, true))
    list(LogDir).filter(p => p.getName.startsWith(".tmp-") && aged(p))
      .foreach(fs.delete(_, false))
  }

  /** Newest modification time anywhere under `p`: an active writer
    * keeps closing files, so its newest content mtime stays fresh
    * however long the job has been running. */
  private def newestMtime(fs: FileSystem, p: Path): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else fs.listStatus(p).foldLeft(st.getModificationTime) {
      (acc, c) => math.max(acc, newestMtime(fs, c.getPath))
    }
  }
}
