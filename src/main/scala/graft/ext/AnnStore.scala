package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.RefIndexStore

/** Persistent PQ SERVING index — the ANN counterpart of
  * [[graft.streaming.RefIndexStore]], and the amortization mechanism
  * for the round-10 build-vs-serve measurement (SCALING.md: at sf1
  * the PQ gates' wall is ~all corpus-encode, serving costs
  * 11–31 ms/query on top): encode the corpus ONCE, persist
  * (codebook, codes, payload), and every query panel afterwards pays
  * only the ADC scan + refine join.
  *
  * Layout under `dir` (atomic publish + recover shared with
  * RefIndexStore — same staging/trash protocol and completeness
  * marker):
  *  - `codebook/` — (m, code, cvec) integer sub-quantizer entries
  *    (subspaces·ksub rows — driver-bounded by construction);
  *  - `codes/` — (corpus_id, codes) from [[Similarity.pqEncode]]:
  *    SCANNED per query batch, never joined, so plain parquet (not
  *    bucketed) is its right layout — `subspaces` small ints per
  *    corpus row, the memory-bandwidth serving regime;
  *  - `payload/` — (corpus_id, _cv) float vectors for the exact
  *    re-rank, written SORTED on corpus_id: the serving path pushes
  *    the bounded candidate id set into this scan as a predicate
  *    ([[Similarity.pqTopKRefinedFromCodes]]), and the sort makes
  *    parquet row-group min/max + dictionary stats prune the read to
  *    ~candidate row groups — served payload BYTES scale with
  *    k·refine·panel, not corpus (the float payload is ~32× the
  *    codes' bytes; re-scanning it per batch would invert the PQ
  *    economics the index exists for);
  *  - `meta/` — knobs, written last (the completeness marker).
  *
  * Everything downstream is bit-deterministic for the persisted
  * codebook, so a served ranking equals the in-session
  * [[Similarity.pqTopKRefined]] exactly — gated end-to-end (x210)
  * against the same oracle as x197.
  *
  * CONCURRENT SERVING is free by construction: [[loadPq]] holds only
  * an immutable driver-local codebook plus plain parquet scans — no
  * catalog registration (unlike [[RefIndexStore]]'s bucket-spec
  * tables, which are per-session and re-registered per loader), no
  * session mutation, no shared writer state — so any number of
  * probing JVMs or threads can serve from one saved index
  * simultaneously (measured: `graft.Audit pq-save` / `pq-probe`, a
  * fresh JVM serving two panels from two concurrent threads
  * reproduces the builder's checksums exactly). The only shared-state
  * hazard is a concurrent [[savePq]] OVERWRITE of the same dir: the
  * atomic rename publish keeps every LOAD all-old or all-new, but a
  * probe job that opened files before the swap can fail mid-read when
  * the old dir is dropped — schedule index refresh like any
  * maintenance op (or version the dir name) rather than racing live
  * probes. */
object AnnStore {

  /** In-session handle: integer codebook + the two frames. */
  case class PqServeIndex(subspaces: Int, ksub: Int, dim: Int,
                          codebook: Seq[Seq[Seq[Long]]],
                          codes: DataFrame, payload: DataFrame)

  /** Build: train the deterministic sample codebook and encode the
    * corpus once. The float vectors are read exactly here and never
    * again at query time (the PQ contract). */
  def buildPq(corpus: DataFrame, id: String, vec: String,
              subspaces: Int = 8, ksub: Int = 16, dim: Int = 64)
      : PqServeIndex = {
    val cb = Similarity.pqCodebook(corpus, id, vec, subspaces, ksub, dim)
    val codes = Similarity.pqEncode(corpus, id, vec, cb)
      .select(col(id).as("corpus_id"), col("codes"))
    val payload = corpus.select(col(id).as("corpus_id"), col(vec).as("_cv"))
    PqServeIndex(subspaces, ksub, dim, cb, codes, payload)
  }

  def savePq(idx: PqServeIndex, dir: String): Unit = {
    val spark = idx.codes.sparkSession
    RefIndexStore.atomicPublish(spark, dir, { stage =>
      // the three artifacts are independent writes to distinct paths —
      // overlap them (guide §2.6); meta stays LAST (the completeness
      // marker atomicPublish/recover key on)
      graft.io.Concurrent.awaitAll(spark, Seq(
        () => writeCodebook(spark, idx.codebook, stage),
        () => idx.codes.write.mode(SaveMode.Overwrite)
          .parquet(new Path(stage, "codes").toString),
        // global sort on corpus_id (range partition + in-partition
        // sort): each payload file/row group covers a tight id range,
        // so the serving path's pushed candidate-id predicate prunes
        // the scan by footer stats — a build-time shuffle paid once,
        // amortized over every served batch
        () => idx.payload.sort("corpus_id").write.mode(SaveMode.Overwrite)
          .parquet(new Path(stage, "payload").toString)))
      RefIndexStore.writeMeta(spark, stage, Map(
        "kind" -> "pq", "subspaces" -> idx.subspaces.toString,
        "ksub" -> idx.ksub.toString, "dim" -> idx.dim.toString))
    })
  }

  def loadPq(spark: SparkSession, dir: String): PqServeIndex = {
    val meta = RefIndexStore.readMeta(spark, dir, "pq")
    PqServeIndex(meta("subspaces").toInt, meta("ksub").toInt,
      meta("dim").toInt, readCodebookAt(spark, dir, meta),
      spark.read.parquet(new Path(dir, "codes").toString),
      spark.read.parquet(new Path(dir, "payload").toString))
  }

  /** The one codebook writer: `root/codebook` as the (m, code, cvec)
    * table, one file. */
  private def writeCodebook(spark: SparkSession,
                            codebook: Seq[Seq[Seq[Long]]], root: Path): Unit = {
    import spark.implicits._
    codebook.zipWithIndex.flatMap { case (entries, m) =>
      entries.zipWithIndex.map { case (cvec, c) => (m, c, cvec) }
    }.toDF("m", "code", "cvec")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(root, "codebook").toString)
  }

  /** The persisted integer codebook of the index whose `meta/` is
    * `meta` — subspaces·ksub rows by construction, the same
    * bounded-collect class as its training. */
  private def readCodebookAt(spark: SparkSession, dir: String,
                             meta: Map[String, String])
      : Seq[Seq[Seq[Long]]] = {
    val (subspaces, ksub) = (meta("subspaces").toInt, meta("ksub").toInt)
    val rows = spark.read.parquet(new Path(dir, "codebook").toString)
      .select(col("m"), col("code"), col("cvec"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
    require(rows.length == subspaces * ksub,
      s"codebook at $dir has ${rows.length} entries, " +
        s"expected $subspaces x $ksub")
    (0 until subspaces).map { m =>
      rows.filter(_._1 == m).sortBy(_._2).map(_._3.toIndexedSeq).toIndexedSeq
    }
  }

  /** Serve: ADC top-k (+ exact refine) from the persisted frames —
    * [[Similarity.pqTopKRefinedFromCodes]] over the loaded index. */
  def pqServe(queries: DataFrame, qId: String, qVec: String,
              idx: PqServeIndex, k: Int, refine: Int = 4): DataFrame =
    Similarity.pqTopKRefinedFromCodes(queries, qId, qVec,
      idx.codes, idx.payload, idx.codebook, k, refine)

  // ------------------------------------------------------ sliced PQ
  /** Initialize a SLICED PQ index at `dir` with a FROZEN codebook —
    * the incremental counterpart of [[savePq]], whose save re-encodes
    * and re-writes the whole corpus per refresh. PQ codes are per-row
    * functions of the codebook, so once it is frozen (standard
    * product-quantization practice: train on a sample, encode
    * forever; re-train only with a full rebuild at the usual
    * retune-audit discipline), newly ingested vectors can be encoded
    * and APPENDED without touching history:
    *
    * {{{
    *   dir/codebook/, dir/meta/          written once, at create
    *   dir/_slog/<v>.mf                  rename-CAS manifest
    *   dir/slices/<uuid>/{codes,payload} one dir per appended batch
    * }}}
    *
    * [[loadPqSliced]] returns the same [[PqServeIndex]] handle as
    * [[loadPq]] (codes/payload as unions over committed slices), so
    * [[pqServe]] works unchanged — and the serving
    * payload prune survives the union: the candidate-id predicate
    * pushes into EVERY slice's scan, and each slice's payload is
    * sorted on corpus_id at append, so row-group pruning holds
    * per slice. Append == full re-encode exactly (spec-gated):
    * the union of per-slice encodes is bit-identical to one encode
    * over the union, because encoding is per-row. */
  def createPqSliced(spark: SparkSession, dir: String,
                     codebook: Seq[Seq[Seq[Long]]], dim: Int): Unit = {
    val (fs, root) = graft.streaming.RefIndexSlices.fsOf(spark, dir)
    require(!fs.exists(new Path(root, "meta")),
      s"sliced pq index already exists at $dir")
    fs.mkdirs(root)
    writeCodebook(spark, codebook, root)
    RefIndexStore.writeMeta(spark, root, Map(
      "kind" -> "pq_sliced", "subspaces" -> codebook.length.toString,
      "ksub" -> codebook.head.length.toString, "dim" -> dim.toString))
  }

  /** Encode `more` with the frozen codebook and commit it as a new
    * slice — write cost ∝ the batch, never the corpus. Returns the
    * committed manifest version. */
  def appendPq(more: DataFrame, dir: String, id: String,
               vec: String): Long = {
    val spark = more.sparkSession
    val loaded = readCodebookAt(spark, dir,
      RefIndexStore.readMeta(spark, dir, "pq_sliced"))
    val (fs, root) = graft.streaming.RefIndexSlices.fsOf(spark, dir)
    val uuid = java.util.UUID.randomUUID().toString
    val slice = graft.streaming.RefIndexSlices.slicePath(root, uuid)
    // codes and payload are independent derivations of `more` to
    // distinct paths — overlap them (guide §2.6); the manifest CAS
    // commits strictly after both
    graft.io.Concurrent.awaitAll(spark, Seq(
      () => Similarity.pqEncode(more, id, vec, loaded)
        .select(col(id).as("corpus_id"), col("codes"))
        .write.mode(SaveMode.Overwrite)
        .parquet(new Path(slice, "codes").toString),
      () => more.select(col(id).as("corpus_id"), col(vec).as("_cv"))
        .sort("corpus_id")
        .write.mode(SaveMode.Overwrite)
        .parquet(new Path(slice, "payload").toString)))
    graft.streaming.RefIndexSlices.commitManifest(fs, root, Seq(uuid),
      replace = false)
  }

  def loadPqSliced(spark: SparkSession, dir: String): PqServeIndex = {
    val meta = RefIndexStore.readMeta(spark, dir, "pq_sliced")
    val (fs, root) = graft.streaming.RefIndexSlices.fsOf(spark, dir)
    val v = graft.streaming.RefIndexSlices.currentVersion(fs, root)
    require(v > 0, s"no committed slices at $dir")
    val slices = graft.streaming.RefIndexSlices.readSlices(fs, root, v)
    // ONE multi-path read per artifact (r13, guide §6): every slice is
    // written by the same code with the identical schema, so reading
    // the slice dirs together replaces per-slice read+union — one file
    // listing and one scan node instead of a listing, a schema read
    // and a union branch PER slice (the serving candidate-id pushdown
    // reaches the single scan exactly as it reached every branch)
    def part(p: String) = spark.read.parquet(slices.map(u => new Path(
      graft.streaming.RefIndexSlices.slicePath(root, u), p).toString): _*)
    PqServeIndex(meta("subspaces").toInt, meta("ksub").toInt,
      meta("dim").toInt, readCodebookAt(spark, dir, meta), part("codes"),
      part("payload"))
  }

  /** Collapse a sliced PQ index's committed slices into one (codes
    * unioned; payload unioned and GLOBALLY RE-SORTED on corpus_id so
    * the serving candidate prune keeps its row-group stats over the
    * single slice), CAS-commit the replace manifest, sweep replaced
    * slices + aged orphans — [[graft.streaming.RefIndexSlices.compact]]'s
    * skeleton and discipline, applied to the pq slice shape. Without
    * this, nightly appends grow the serving plan one scan+union
    * branch per slice forever and crashed appends leak orphan dirs.
    * Changes no served rank (spec-gated): the union of slices IS the
    * index; compaction only re-lays it out. */
  def compactPq(spark: SparkSession, dir: String,
                graceMs: Long = graft.streaming.RefIndexSlices.DefaultGraceMs)
      : Long = {
    RefIndexStore.readMeta(spark, dir, "pq_sliced") // kind guard
    graft.streaming.RefIndexSlices.compactCore(spark, dir, graceMs) {
      (slices, slice) =>
        // one multi-path read per artifact (r13, see loadPqSliced)
        def part(p: String) = spark.read.parquet(slices.map(u =>
          new Path(graft.streaming.RefIndexSlices.slicePath(new Path(dir), u),
            p).toString): _*)
        graft.io.Concurrent.awaitAll(spark, Seq(
          () => part("codes")
            .write.mode(SaveMode.Overwrite)
            .parquet(new Path(slice, "codes").toString),
          () => part("payload")
            .sort("corpus_id")
            .write.mode(SaveMode.Overwrite)
            .parquet(new Path(slice, "payload").toString)))
    }
  }

  // --------------------------------------------------------- IVF-PQ
  /** In-session handle for the persisted IVF-PQ index: integer PQ
    * codebook + the (cluster, cvec) coarse centroids + the
    * cluster-assigned codes. `payload` is the (corpus_id, _cv) float
    * frame the EXACT-REFINE serve reads — optional because ADC-only
    * serving never touches floats, and persisting them costs ~32× the
    * codes' bytes; an index saved without payload serves
    * [[ivfPqServe]] but refuses [[ivfPqServeRefined]] loudly. */
  case class IvfPqServeIndex(subspaces: Int, ksub: Int, dim: Int,
                             nCentroids: Int,
                             codebook: Seq[Seq[Seq[Long]]],
                             cents: DataFrame, codes: DataFrame,
                             payload: Option[DataFrame] = None)

  /** Build the IVF-PQ serving index: train the PQ codebook and the
    * coarse Lloyd centroids, assign + encode the corpus ONCE — its
    * float vectors are never read again at query time by the ADC
    * serve (and, unlike the flat-PQ index, neither are most of its
    * CODES: serving scans only the probed clusters' partitions). The
    * handle carries the lazy payload frame; whether it persists is
    * [[saveIvfPq]]'s `withPayload` decision. */
  def buildIvfPq(corpus: DataFrame, id: String, vec: String,
                 subspaces: Int = 8, ksub: Int = 16, dim: Int = 64,
                 nCentroids: Int = 16, rounds: Int = 2): IvfPqServeIndex = {
    val cb = Similarity.pqCodebook(corpus, id, vec, subspaces, ksub, dim)
    val cq = corpus.select(col(id).as("vid"),
        Similarity.int8Quantize(col(vec)).getField("q").as("q8"))
      .localCheckpoint()
    val cents = Similarity.lloydLoop(cq, nCentroids, rounds)
    IvfPqServeIndex(subspaces, ksub, dim, nCentroids, cb, cents,
      Similarity.ivfPqEncodeAssigned(cq, cents, cb),
      Some(corpus.select(col(id).as("corpus_id"), col(vec).as("_cv"))))
  }

  /** Persist the IVF-PQ index — codes PARTITIONED BY cluster, so a
    * served batch's probed-cluster predicate prunes whole DIRECTORIES
    * (the inverted-list read pattern, delivered by the lake layout:
    * nProbe/nCentroids of the code bytes per batch instead of a full
    * scan). Centroids are nCentroids rows (driver-bounded like the
    * codebook); atomic publish shared with [[savePq]].
    * `withPayload = true` additionally persists the float payload
    * SORTED on corpus_id (the [[savePq]] layout), enabling
    * [[ivfPqServeRefined]] at ~32× the codes' disk bytes — opt-in,
    * because the ADC-only serve never reads it. */
  def saveIvfPq(idx: IvfPqServeIndex, dir: String,
                withPayload: Boolean = false): Unit = {
    val spark = idx.codes.sparkSession
    if (withPayload) require(idx.payload.isDefined,
      "withPayload = true but the index handle carries no payload frame")
    RefIndexStore.atomicPublish(spark, dir, { stage =>
      // independent artifacts to distinct paths — overlap (guide
      // §2.6); meta stays LAST (the completeness marker)
      graft.io.Concurrent.awaitAll(spark, Seq(
        () => writeCodebook(spark, idx.codebook, stage),
        () => idx.cents.coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(new Path(stage, "centroids").toString),
        () => idx.codes.write.mode(SaveMode.Overwrite).partitionBy("cluster")
          .parquet(new Path(stage, "codes").toString)) ++
        (if (withPayload) Seq(
          () => idx.payload.get.sort("corpus_id")
            .write.mode(SaveMode.Overwrite)
            .parquet(new Path(stage, "payload").toString))
         else Seq.empty))
      RefIndexStore.writeMeta(spark, stage, Map(
        "kind" -> "ivfpq", "subspaces" -> idx.subspaces.toString,
        "ksub" -> idx.ksub.toString, "dim" -> idx.dim.toString,
        "nCentroids" -> idx.nCentroids.toString,
        "payload" -> withPayload.toString))
    })
  }

  def loadIvfPq(spark: SparkSession, dir: String): IvfPqServeIndex = {
    val meta = RefIndexStore.readMeta(spark, dir, "ivfpq")
    // the partition column comes back type-inferred — leave it as
    // read: the serving filter emits Int literals against it (no cast
    // on the attribute, so directory pruning engages) and the probes
    // join promotes types without touching the scan predicate
    IvfPqServeIndex(meta("subspaces").toInt, meta("ksub").toInt,
      meta("dim").toInt, meta("nCentroids").toInt,
      readCodebookAt(spark, dir, meta),
      spark.read.parquet(new Path(dir, "centroids").toString),
      spark.read.parquet(new Path(dir, "codes").toString),
      if (meta.getOrElse("payload", "false").toBoolean)
        Some(spark.read.parquet(new Path(dir, "payload").toString))
      else None)
  }

  // ------------------------------------------------- sliced IVF-PQ
  /** Initialize a SLICED IVF-PQ index at `dir` with FROZEN coarse
    * centroids AND a frozen PQ codebook — the incremental counterpart
    * of [[saveIvfPq]], which re-trains, re-assigns, re-encodes and
    * re-writes the whole corpus per refresh. Cluster assignment and
    * PQ encoding are both per-row functions of the frozen artifacts
    * (the same argument that made [[appendPq]] bit-exact), so newly
    * ingested vectors can be assigned + encoded and APPENDED without
    * touching history — nightly cost ∝ the batch. Re-training either
    * artifact (centroid drift, codebook retune — watched by the
    * recall-audit discipline) is a full rebuild, as everywhere in
    * standard IVF/PQ practice.
    *
    * Layout: `codebook/`, `centroids/`, `meta/` written once at
    * create; `_slog/` rename-CAS manifests; one
    * `slices/<uuid>/codes/cluster=*` dir per appended batch — codes
    * stay PARTITIONED BY cluster inside every slice, so the serving
    * probed-cluster predicate prunes directories per slice and a
    * served batch still reads ~nProbe/nCentroids of the code bytes.
    * [[loadIvfPqSliced]] returns the same [[IvfPqServeIndex]] handle
    * as [[loadIvfPq]] (codes as the union over committed slices), so
    * [[ivfPqServe]] works unchanged. `cents` is (cluster, cvec) —
    * nCentroids rows, driver-bounded like the codebook (take them
    * from [[buildIvfPq]] over the seed corpus, or any prior index's
    * `cents`). */
  def createIvfPqSliced(spark: SparkSession, dir: String,
                        codebook: Seq[Seq[Seq[Long]]], cents: DataFrame,
                        dim: Int, withPayload: Boolean = false): Unit = {
    val (fs, root) = graft.streaming.RefIndexSlices.fsOf(spark, dir)
    require(!fs.exists(new Path(root, "meta")),
      s"sliced ivfpq index already exists at $dir")
    fs.mkdirs(root)
    writeCodebook(spark, codebook, root)
    val nCentroids = cents.count()
    cents.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(root, "centroids").toString)
    RefIndexStore.writeMeta(spark, root, Map(
      "kind" -> "ivfpq_sliced", "subspaces" -> codebook.length.toString,
      "ksub" -> codebook.head.length.toString, "dim" -> dim.toString,
      "nCentroids" -> nCentroids.toString,
      "payload" -> withPayload.toString))
  }

  /** Assign `more` to the frozen centroids, encode it with the frozen
    * codebook, and commit it as a new cluster-partitioned code slice
    * — write cost ∝ the batch, never the corpus. A `withPayload`
    * store also writes the batch's float payload, sorted on corpus_id
    * so the refined serve's candidate prune holds per slice. Returns
    * the committed manifest version. */
  def appendIvfPq(more: DataFrame, dir: String, id: String,
                  vec: String): Long = {
    val spark = more.sparkSession
    val meta = RefIndexStore.readMeta(spark, dir, "ivfpq_sliced")
    val cb = readCodebookAt(spark, dir, meta)
    val cents = spark.read.parquet(new Path(dir, "centroids").toString)
    val (fs, root) = graft.streaming.RefIndexSlices.fsOf(spark, dir)
    val uuid = java.util.UUID.randomUUID().toString
    val slice = graft.streaming.RefIndexSlices.slicePath(root, uuid)
    val cq = more.select(col(id).as("vid"),
        Similarity.int8Quantize(col(vec)).getField("q").as("q8"))
      .localCheckpoint()
    // codes and payload are independent writes to distinct paths —
    // overlap (guide §2.6); the manifest CAS commits after both
    graft.io.Concurrent.awaitAll(spark, Seq(
      () => Similarity.ivfPqEncodeAssigned(cq, cents, cb)
        .write.mode(SaveMode.Overwrite).partitionBy("cluster")
        .parquet(new Path(slice, "codes").toString)) ++
      (if (meta.getOrElse("payload", "false").toBoolean) Seq(
        () => more.select(col(id).as("corpus_id"), col(vec).as("_cv"))
          .sort("corpus_id")
          .write.mode(SaveMode.Overwrite)
          .parquet(new Path(slice, "payload").toString))
       else Seq.empty[() => Unit]))
    graft.streaming.RefIndexSlices.commitManifest(fs, root, Seq(uuid),
      replace = false)
  }

  def loadIvfPqSliced(spark: SparkSession, dir: String): IvfPqServeIndex = {
    val meta = RefIndexStore.readMeta(spark, dir, "ivfpq_sliced")
    val (fs, root) = graft.streaming.RefIndexSlices.fsOf(spark, dir)
    val v = graft.streaming.RefIndexSlices.currentVersion(fs, root)
    require(v > 0, s"no committed slices at $dir")
    val slices = graft.streaming.RefIndexSlices.readSlices(fs, root, v)
    // flat artifacts (payload) load as ONE multi-path read (r13, see
    // loadPqSliced); the cluster-PARTITIONED codes cannot — Spark
    // rejects partition discovery over multiple roots
    // (CONFLICTING_DIRECTORY_STRUCTURES), so each slice's codes dir
    // stays its own read+union, which also keeps the probed-cluster
    // directory prune per slice
    def part(u: String, p: String) = spark.read.parquet(new Path(
      graft.streaming.RefIndexSlices.slicePath(root, u), p).toString)
    def flat(p: String) = spark.read.parquet(slices.map(u => new Path(
      graft.streaming.RefIndexSlices.slicePath(root, u), p).toString): _*)
    IvfPqServeIndex(meta("subspaces").toInt, meta("ksub").toInt,
      meta("dim").toInt, meta("nCentroids").toInt,
      readCodebookAt(spark, dir, meta),
      spark.read.parquet(new Path(dir, "centroids").toString),
      slices.map(part(_, "codes")).reduce(_ unionByName _),
      if (meta.getOrElse("payload", "false").toBoolean)
        Some(flat("payload"))
      else None)
  }

  /** [[compactPq]] for the ivfpq slice shape: union every slice's
    * codes into ONE slice, re-written PARTITIONED BY cluster with one
    * file per cluster (the directory-prune layout preserved across
    * compaction) — plus the payload re-sorted on corpus_id when the
    * store carries one — CAS-commit + graced sweep via the shared
    * skeleton. Changes no served rank (spec-gated). */
  def compactIvfPq(spark: SparkSession, dir: String,
                   graceMs: Long = graft.streaming.RefIndexSlices.DefaultGraceMs)
      : Long = {
    val meta = RefIndexStore.readMeta(spark, dir, "ivfpq_sliced") // kind guard
    val hasPayload = meta.getOrElse("payload", "false").toBoolean
    graft.streaming.RefIndexSlices.compactCore(spark, dir, graceMs) {
      (slices, slice) =>
        // the flat payload reads as ONE multi-path read (r13); the
        // cluster-PARTITIONED codes cannot (see loadIvfPqSliced) —
        // per-slice read + union for them
        def part(u: String, p: String) = spark.read.parquet(new Path(
          graft.streaming.RefIndexSlices.slicePath(new Path(dir), u),
          p).toString)
        def flat(p: String) = spark.read.parquet(slices.map(u =>
          new Path(graft.streaming.RefIndexSlices.slicePath(new Path(dir), u),
            p).toString): _*)
        // one task per cluster: the union keeps its slices' tasks, and
        // each would write its own file into every cluster dir
        graft.io.Concurrent.awaitAll(spark, Seq(
          () => slices.map(part(_, "codes")).reduce(_ unionByName _)
            .repartition(col("cluster"))
            .write.mode(SaveMode.Overwrite).partitionBy("cluster")
            .parquet(new Path(slice, "codes").toString)) ++
          (if (hasPayload) Seq(
            () => flat("payload")
              .sort("corpus_id")
              .write.mode(SaveMode.Overwrite)
              .parquet(new Path(slice, "payload").toString))
           else Seq.empty[() => Unit]))
    }
  }

  /** Serve ADC top-k from the persisted IVF-PQ index —
    * [[Similarity.ivfPqTopKFromCodes]]: routing collected (bounded),
    * probed clusters pushed into the partitioned codes read. */
  def ivfPqServe(queries: DataFrame, qId: String, qVec: String,
                 idx: IvfPqServeIndex, k: Int, nProbe: Int = 4): DataFrame =
    Similarity.ivfPqTopKFromCodes(queries, qId, qVec, idx.codes,
      idx.cents, idx.codebook, k, nProbe)

  /** Serve exact-refined top-k — the full IVFPQ+refine chain
    * ([[Similarity.ivfPqTopKRefinedFromCodes]]): directory-pruned ADC
    * candidates, then the candidate-pruned float re-rank over the
    * persisted payload. Requires an index saved `withPayload`. */
  def ivfPqServeRefined(queries: DataFrame, qId: String, qVec: String,
                        idx: IvfPqServeIndex, k: Int, nProbe: Int = 4,
                        refine: Int = 4): DataFrame = {
    require(idx.payload.isDefined,
      "refined serving needs the float payload — save the index " +
        "withPayload = true (ADC-only serving works without it)")
    Similarity.ivfPqTopKRefinedFromCodes(queries, qId, qVec, idx.codes,
      idx.cents, idx.payload.get, idx.codebook, k, nProbe, refine)
  }
}
