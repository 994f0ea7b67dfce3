package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{RefIndexSlices => Slices}

/** Persistent PQ SERVING index — the ANN counterpart of the streaming
  * reference indexes, committed through the same manifest protocol
  * ([[graft.streaming.RefIndexSlices]]), and the amortization mechanism
  * for the round-10 build-vs-serve measurement (SCALING.md: at sf1
  * the PQ gates' wall is ~all corpus-encode, serving costs
  * 11–31 ms/query on top): encode the corpus ONCE, persist
  * (codebook, codes, payload), and every query panel afterwards pays
  * only the ADC scan + refine join.
  *
  * A save ([[savePq]], [[saveIvfPq]]) writes a fresh frozen dir and one
  * slice and commits a version naming only them:
  *  - `frozen/<uuid>/codebook` — (m, code, cvec) integer sub-quantizer
  *    entries (subspaces·ksub rows — driver-bounded by construction),
  *    plus `centroids` (cluster, cvec) for ivfpq;
  *  - `slices/<uuid>/codes` — (corpus_id, codes) from
  *    [[Similarity.pqEncode]]: SCANNED per query batch, never joined,
  *    so plain parquet (not bucketed) is its right layout. ivfpq codes
  *    are PARTITIONED BY cluster, one file per cluster, so a served
  *    batch's probed-cluster predicate prunes whole directories;
  *  - `slices/<uuid>/payload` — (corpus_id, _cv) float vectors for the
  *    exact re-rank, written SORTED on corpus_id: the serving path
  *    pushes the bounded candidate id set into this scan as a
  *    predicate ([[Similarity.pqTopKRefinedFromCodes]]), and the sort
  *    makes parquet row-group min/max + dictionary stats prune the read
  *    to ~candidate row groups — served payload BYTES scale with
  *    k·refine·panel, not corpus.
  *
  * PQ codes and IVF cluster assignments are per-row functions of the
  * frozen artifacts (standard practice: train on a sample, encode
  * forever; re-train only with a full rebuild at the usual
  * retune-audit discipline), so [[appendPq]]/[[appendIvfPq]] encode a
  * new batch and commit it as one more slice without touching history
  * — nightly cost ∝ the batch — and the union of per-slice encodes is
  * bit-identical to one encode over the union (spec-gated).
  * [[compactPq]]/[[compactIvfPq]] collapse the slices into one.
  *
  * Everything downstream is bit-deterministic for the persisted
  * codebook, so a served ranking equals the in-session
  * [[Similarity.pqTopKRefined]] exactly — gated end-to-end (x210)
  * against the same oracle as x197.
  *
  * CONCURRENT SERVING is free by construction: a loaded index holds
  * only an immutable driver-local codebook plus plain parquet scans —
  * no catalog registration, no session mutation, no shared writer
  * state — so any number of probing JVMs or threads can serve from one
  * saved index simultaneously (measured: `graft.Audit pq-save` /
  * `pq-probe`, a fresh JVM serving two panels from two concurrent
  * threads reproduces the building JVM's checksums exactly). The one hazard
  * is the sweep: a save or a compaction deletes the slices and frozen
  * dir of the version it replaced as soon as it commits, so every LOAD
  * sees one whole version, but a probe job that opened the older
  * version's files can fail mid-read — schedule index refresh like any
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
    Slices.saveVersion(spark, dir, "pq", Map(
        "subspaces" -> idx.subspaces.toString,
        "ksub" -> idx.ksub.toString, "dim" -> idx.dim.toString),
        frozen = true) { (frozen, slice) =>
      // independent writes to distinct paths — overlap (guide §2.6)
      graft.io.Concurrent.awaitAll(spark, Seq(
        () => writeCodebook(spark, idx.codebook, frozen.get),
        () => writePqSlice(idx.codes, idx.payload, slice)))
    }
  }

  def loadPq(spark: SparkSession, dir: String): PqServeIndex = {
    val m = Slices.head(spark, dir, "pq")
    val root = new Path(dir)
    PqServeIndex(m.knobs("subspaces").toInt, m.knobs("ksub").toInt,
      m.knobs("dim").toInt, readCodebook(spark, root, m),
      Slices.read(spark, root, m, "codes"),
      Slices.read(spark, root, m, "payload"))
  }

  /** Encode `more` with the frozen codebook and commit it as a new
    * slice — write cost ∝ the batch, never the corpus. Returns the
    * committed version. */
  def appendPq(more: DataFrame, dir: String, id: String,
               vec: String): Long = {
    val spark = more.sparkSession
    val m = Slices.head(spark, dir, "pq")
    val cb = readCodebook(spark, new Path(dir), m)
    Slices.appendVersion(spark, dir, m)(slice => writePqSlice(
      Similarity.pqEncode(more, id, vec, cb)
        .select(col(id).as("corpus_id"), col("codes")),
      more.select(col(id).as("corpus_id"), col(vec).as("_cv")), slice))
  }

  /** Collapse a pq index's slices into one (codes unioned; payload
    * unioned and GLOBALLY RE-SORTED on corpus_id so the serving
    * candidate prune keeps its row-group stats over the single slice),
    * strict-CAS commit, sweep — the discipline of
    * [[graft.streaming.RefIndexSlices.compact]], applied to the pq
    * slice shape. Without this, nightly appends grow the serving plan
    * one scan per slice forever and crashed appends leak orphan dirs.
    * Changes no served rank (spec-gated). */
  def compactPq(spark: SparkSession, dir: String,
                graceMs: Long = Slices.DefaultGraceMs): Long =
    Slices.compactCore(spark, dir, graceMs) { (m, slice) =>
      require(m.kind == "pq", s"index at $dir is kind=${m.kind}, not pq")
      val root = new Path(dir)
      writePqSlice(Slices.read(spark, root, m, "codes"),
        Slices.read(spark, root, m, "payload"), slice)
    }

  /** A pq slice: the codes, and the payload globally sorted on
    * corpus_id (a range partition + in-partition sort, so each payload
    * file/row group covers a tight id range and the served candidate-id
    * predicate prunes the scan by footer stats), written concurrently. */
  private def writePqSlice(codes: DataFrame, payload: DataFrame,
                           slice: Path): Unit =
    graft.io.Concurrent.awaitAll(codes.sparkSession, Seq(
      () => codes.write.mode(SaveMode.Overwrite)
        .parquet(new Path(slice, "codes").toString),
      () => payload.sort("corpus_id").write.mode(SaveMode.Overwrite)
        .parquet(new Path(slice, "payload").toString)))

  /** The one codebook writer: `frozen/codebook` as the (m, code, cvec)
    * table, one file. */
  private def writeCodebook(spark: SparkSession,
                            codebook: Seq[Seq[Seq[Long]]], frozen: Path): Unit = {
    import spark.implicits._
    codebook.zipWithIndex.flatMap { case (entries, m) =>
      entries.zipWithIndex.map { case (cvec, c) => (m, c, cvec) }
    }.toDF("m", "code", "cvec")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(frozen, "codebook").toString)
  }

  /** The persisted integer codebook of version `m` — subspaces·ksub
    * rows by construction, the same bounded-collect class as its
    * training. */
  private def readCodebook(spark: SparkSession, root: Path,
                           m: Slices.Manifest): Seq[Seq[Seq[Long]]] = {
    val (subspaces, ksub) = (m.knobs("subspaces").toInt, m.knobs("ksub").toInt)
    val rows = spark.read.parquet(Slices.frozenPath(root, m, "codebook"))
      .select(col("m"), col("code"), col("cvec"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
    require(rows.length == subspaces * ksub,
      s"codebook at $root has ${rows.length} entries, " +
        s"expected $subspaces x $ksub")
    (0 until subspaces).map { q =>
      rows.filter(_._1 == q).sortBy(_._2).map(_._3.toIndexedSeq).toIndexedSeq
    }
  }

  /** Serve: ADC top-k (+ exact refine) from the persisted frames —
    * [[Similarity.pqTopKRefinedFromCodes]] over the loaded index. */
  def pqServe(queries: DataFrame, qId: String, qVec: String,
              idx: PqServeIndex, k: Int, refine: Int = 4): DataFrame =
    Similarity.pqTopKRefinedFromCodes(queries, qId, qVec,
      idx.codes, idx.payload, idx.codebook, k, refine)

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
    val cq = quantize(corpus, id, vec)
    val cents = Similarity.lloydLoop(cq, nCentroids, rounds)
    IvfPqServeIndex(subspaces, ksub, dim, nCentroids, cb, cents,
      Similarity.ivfPqEncodeAssigned(cq, cents, cb),
      Some(corpus.select(col(id).as("corpus_id"), col(vec).as("_cv"))))
  }

  /** Persist the IVF-PQ index: codebook and centroids (nCentroids rows,
    * driver-bounded like the codebook) in the frozen dir, the codes in
    * one slice. `withPayload = true` also persists the float payload
    * SORTED on corpus_id (the [[savePq]] layout), enabling
    * [[ivfPqServeRefined]] at ~32× the codes' disk bytes — opt-in,
    * because the ADC-only serve never reads it. */
  def saveIvfPq(idx: IvfPqServeIndex, dir: String,
                withPayload: Boolean = false): Unit = {
    val spark = idx.codes.sparkSession
    if (withPayload) require(idx.payload.isDefined,
      "withPayload = true but the index handle carries no payload frame")
    Slices.saveVersion(spark, dir, "ivfpq", Map(
        "subspaces" -> idx.subspaces.toString, "ksub" -> idx.ksub.toString,
        "dim" -> idx.dim.toString, "nCentroids" -> idx.nCentroids.toString,
        "payload" -> withPayload.toString), frozen = true) { (frozen, slice) =>
      graft.io.Concurrent.awaitAll(spark, Seq(
        () => writeCodebook(spark, idx.codebook, frozen.get),
        () => idx.cents.coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(new Path(frozen.get, "centroids").toString),
        () => writeIvfSlice(idx.codes.repartition(col("cluster")),
          idx.payload.filter(_ => withPayload), slice)))
    }
  }

  def loadIvfPq(spark: SparkSession, dir: String): IvfPqServeIndex = {
    val m = Slices.head(spark, dir, "ivfpq")
    val root = new Path(dir)
    // the cluster-PARTITIONED codes cannot load as one multi-path read
    // (Spark rejects partition discovery over multiple roots,
    // CONFLICTING_DIRECTORY_STRUCTURES), so each slice's codes dir is
    // its own read, which keeps the probed-cluster directory prune per
    // slice. The partition column comes back type-inferred — leave it
    // as read: the serving filter emits Int literals against it (no
    // cast on the attribute, so directory pruning engages)
    IvfPqServeIndex(m.knobs("subspaces").toInt, m.knobs("ksub").toInt,
      m.knobs("dim").toInt, m.knobs("nCentroids").toInt,
      readCodebook(spark, root, m),
      spark.read.parquet(Slices.frozenPath(root, m, "centroids")),
      ivfCodes(spark, root, m), ivfPayload(spark, root, m))
  }

  private def ivfCodes(spark: SparkSession, root: Path,
                       m: Slices.Manifest): DataFrame =
    m.slices.map(u => spark.read.parquet(
      new Path(Slices.slicePath(root, u), "codes").toString))
      .reduce(_ unionByName _)

  private def ivfPayload(spark: SparkSession, root: Path,
                         m: Slices.Manifest): Option[DataFrame] =
    Option.when(m.knobs("payload").toBoolean)(
      Slices.read(spark, root, m, "payload"))

  /** Assign `more` to the frozen centroids, encode it with the frozen
    * codebook, and commit it as a new cluster-partitioned code slice
    * — write cost ∝ the batch, never the corpus. An index saved with
    * payload also gets the batch's float payload, sorted on corpus_id
    * so the refined serve's candidate prune holds per slice. Returns
    * the committed version. */
  def appendIvfPq(more: DataFrame, dir: String, id: String,
                  vec: String): Long = {
    val spark = more.sparkSession
    val m = Slices.head(spark, dir, "ivfpq")
    val root = new Path(dir)
    val codes = Similarity.ivfPqEncodeAssigned(quantize(more, id, vec),
      spark.read.parquet(Slices.frozenPath(root, m, "centroids")),
      readCodebook(spark, root, m))
    Slices.appendVersion(spark, dir, m)(slice => writeIvfSlice(codes,
      Option.when(m.knobs("payload").toBoolean)(
        more.select(col(id).as("corpus_id"), col(vec).as("_cv"))), slice))
  }

  /** [[compactPq]] for the ivfpq slice shape: every slice's codes into
    * ONE slice, re-written PARTITIONED BY cluster with one file per
    * cluster (the directory-prune layout preserved across compaction) —
    * plus the payload re-sorted on corpus_id when the index carries
    * one. Changes no served rank (spec-gated). */
  def compactIvfPq(spark: SparkSession, dir: String,
                   graceMs: Long = Slices.DefaultGraceMs): Long =
    Slices.compactCore(spark, dir, graceMs) { (m, slice) =>
      require(m.kind == "ivfpq", s"index at $dir is kind=${m.kind}, not ivfpq")
      val root = new Path(dir)
      // one task per cluster: the union keeps its slices' tasks, and
      // each would write its own file into every cluster dir
      writeIvfSlice(ivfCodes(spark, root, m).repartition(col("cluster")),
        ivfPayload(spark, root, m), slice)
    }

  /** An ivfpq slice: codes partitioned by cluster, and the payload (if
    * any) sorted on corpus_id, written concurrently. */
  private def writeIvfSlice(codes: DataFrame, payload: Option[DataFrame],
                            slice: Path): Unit =
    graft.io.Concurrent.awaitAll(codes.sparkSession, Seq(
      () => codes.write.mode(SaveMode.Overwrite).partitionBy("cluster")
        .parquet(new Path(slice, "codes").toString)) ++
      payload.map(p => () => p.sort("corpus_id").write
        .mode(SaveMode.Overwrite).parquet(new Path(slice, "payload").toString)))

  /** (vid, q8): the int8-quantized vectors assignment and encoding
    * read, checkpointed once. */
  private def quantize(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id).as("vid"),
        Similarity.int8Quantize(col(vec)).getField("q").as("q8"))
      .localCheckpoint()

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
