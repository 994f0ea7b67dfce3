package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.AnnStore
import graft.streaming.{EmbedStream, MinHashStream, RefIndexSlices,
  SimHashStream}

/** The index kinds behind [[Main]]'s four index stages, one row per
  * `--kind` (the index counterpart of [[graft.schema.Layout.tapes]]).
  * `index_build`, `index_probe`, `index_append` and `index_compact`
  * look their row up and call its function, so a new kind is one row
  * in [[kinds]].
  *
  * Every kind is stored one way: a dir of manifest-committed versions
  * ([[RefIndexSlices]]). A build commits a save, which replaces the
  * index with one compacted slice (and, for pq/ivfpq, a fresh frozen
  * codebook and centroids); an append commits one more slice; a
  * compaction collapses the slices into one. A half-written build or
  * append is never committed, so a probe always reads a whole version.
  */
object IndexKinds {

  /** One stage's options read through one kind's row: an option the
    * stage does not set takes the row's default. */
  final case class Args(opts: Map[String, String], kind: Kind) {
    def apply(knob: String): String = opts.getOrElse(knob, kind.knobs(knob))
    def int(knob: String): Int = apply(knob).toInt
    def id: String = opts.getOrElse("id", kind.id)
    def data: String = opts.getOrElse(kind.dataOpt, kind.data)
  }

  /** One index kind, whose `name` is also the kind its manifests
    * record. `id` and `data` are the default id and data columns, which
    * `--id` and `--{dataOpt}` override; `knobs` maps every other option
    * the kind reads to its default. `build` saves the index; `append`
    * commits a slice; `probe` returns what `index_probe` writes;
    * `compact` collapses the index into one slice. */
  final case class Kind(name: String, id: String, dataOpt: String,
                        data: String, knobs: Map[String, String],
                        build: (Args, DataFrame, String) => Unit,
                        append: (Args, DataFrame, String) => Unit,
                        probe: (Args, DataFrame, String) => DataFrame,
                        compact: (SparkSession, String) => Unit)

  private val dim = "dim" -> "64"
  private val maxBucket = "max-bucket" -> "4096"

  /** `--merge-into` reaches only a streaming kind's build: an ANN
    * build trains afresh. */
  private def refuseMerge(a: Args): Unit =
    if (a.opts.contains("merge-into"))
      sys.error(s"--merge-into does not apply to --kind ${a.kind.name}")

  /** A streaming dedup kind. A build saves a fresh index, or with
    * `--merge-into` the index there merged with the source (which never
    * re-scans old rows). An append on an empty dir creates the index.
    * A probe returns the distinct (id_a, id_b) match pairs. */
  private def streaming[I](name: String, id: String, dataOpt: String,
                           data: String, knobs: Map[String, String])(
      fresh: (Args, DataFrame) => I,
      merge: (I, DataFrame, String, String) => I,
      save: (I, String) => Unit,
      load: (SparkSession, String) => I,
      add: (Args, DataFrame, String) => Unit,
      matches: (DataFrame, I, Args) => DataFrame): Kind =
    Kind(name, id, dataOpt, data, knobs,
      build = (a, src, dir) =>
        save(a.opts.get("merge-into").fold(fresh(a, src))(existing =>
          merge(load(src.sparkSession, existing), src, a.id, a.data)), dir),
      append = add,
      probe = (a, probe, dir) => matches(probe, load(probe.sparkSession, dir),
        a).select("id_a", "id_b").distinct(),
      compact = RefIndexSlices.compact(_, _))

  /** In `--kind` order. */
  val kinds: Seq[Kind] = Seq(
    streaming[EmbedStream.SemanticRefIndex]("semantic", "vec_id", "vec",
        "embedding", Map("bands" -> "0", "bits" -> "0", dim, maxBucket,
          "cos2-num" -> "1", "cos2-den" -> "4"))(
      fresh = (a, src) => EmbedStream.semanticRefIndex(src, a.id, a.data,
        a.int("bands"), a.int("bits"), a.int("dim"), a.int("max-bucket")),
      merge = EmbedStream.mergeRefIndex(_, _, _, _),
      save = RefIndexSlices.saveSemantic(_, _),
      load = RefIndexSlices.loadSemantic(_, _),
      add = (a, src, dir) => RefIndexSlices.appendSemantic(src, dir, a.id,
        a.data, a.int("bands"), a.int("bits"), a.int("dim"),
        a.int("max-bucket")),
      matches = (probe, idx, a) => EmbedStream.semanticDupMatches(probe, idx,
        a.id, a.data, cos2Num = a("cos2-num").toLong,
        cos2Den = a("cos2-den").toLong)),
    streaming[SimHashStream.SimHashRefIndex]("simhash", "doc_id", "text",
        "text", Map("max-hamming" -> "3", maxBucket))(
      fresh = (a, src) => SimHashStream.simhashRefIndex(src, a.id, a.data,
        a.int("max-hamming"), a.int("max-bucket")),
      merge = SimHashStream.mergeRefIndex(_, _, _, _),
      save = RefIndexSlices.saveSimHash(_, _),
      load = RefIndexSlices.loadSimHash(_, _),
      add = (a, src, dir) => RefIndexSlices.appendSimHash(src, dir, a.id,
        a.data, a.int("max-hamming"), a.int("max-bucket")),
      matches = (probe, idx, a) =>
        SimHashStream.simhashDupMatches(probe, idx, a.id, a.data)),
    streaming[MinHashStream.MinHashRefIndex]("minhash", "doc_id", "text",
        "text", Map("ngram" -> "3", "threshold" -> "0.7", maxBucket))(
      fresh = (a, src) => MinHashStream.minhashRefIndex(src, a.id, a.data,
        n = a.int("ngram"), threshold = a("threshold").toDouble,
        maxBucket = a.int("max-bucket")),
      merge = MinHashStream.mergeRefIndex(_, _, _, _),
      save = RefIndexSlices.saveMinHash(_, _),
      load = RefIndexSlices.loadMinHash(_, _),
      add = (a, src, dir) => RefIndexSlices.appendMinHash(src, dir, a.id,
        a.data, n = a.int("ngram"), threshold = a("threshold").toDouble,
        maxBucket = a.int("max-bucket")),
      matches = (probe, idx, a) =>
        MinHashStream.minhashDupMatches(probe, idx, a.id, a.data)),
    // the ANN kinds probe to a RANKING (query_id, rank, corpus_id,
    // score); a build freezes the codebook (and centroids) on the
    // source, so each append costs ∝ its batch
    Kind("pq", "vec_id", "vec", "embedding", Map("subspaces" -> "8",
        "ksub" -> "16", dim, "k" -> "10", "refine" -> "4"),
      build = { (a, src, dir) =>
        refuseMerge(a)
        AnnStore.savePq(AnnStore.buildPq(src, a.id, a.data,
          a.int("subspaces"), a.int("ksub"), a.int("dim")), dir)
      },
      append = (a, src, dir) => AnnStore.appendPq(src, dir, a.id, a.data),
      probe = (a, probe, dir) => AnnStore.pqServe(probe, a.id, a.data,
        AnnStore.loadPq(probe.sparkSession, dir), a.int("k"), a.int("refine")),
      compact = AnnStore.compactPq(_, _)),
    // --payload true persists the float payload (sorted on corpus_id)
    // at ~32x the codes' disk bytes; a probe with --refine N (no
    // default) re-ranks exactly over it, and without it serves ADC ranks
    Kind("ivfpq", "vec_id", "vec", "embedding", Map("subspaces" -> "8",
        "ksub" -> "16", dim, "ncentroids" -> "16", "rounds" -> "2",
        "payload" -> "false", "k" -> "10", "nprobe" -> "4"),
      build = { (a, src, dir) =>
        refuseMerge(a)
        AnnStore.saveIvfPq(AnnStore.buildIvfPq(src, a.id, a.data,
          a.int("subspaces"), a.int("ksub"), a.int("dim"), a.int("ncentroids"),
          a.int("rounds")), dir, a("payload").toBoolean)
      },
      append = (a, src, dir) => AnnStore.appendIvfPq(src, dir, a.id, a.data),
      probe = { (a, probe, dir) =>
        val idx = AnnStore.loadIvfPq(probe.sparkSession, dir)
        a.opts.get("refine").fold(AnnStore.ivfPqServe(probe, a.id, a.data,
          idx, a.int("k"), a.int("nprobe")))(r => AnnStore.ivfPqServeRefined(
          probe, a.id, a.data, idx, a.int("k"), a.int("nprobe"), r.toInt))
      },
      compact = AnnStore.compactIvfPq(_, _)))

  def kind(name: String): Kind =
    kinds.find(_.name == name).getOrElse(sys.error(
      s"invalid --kind $name; expected " +
        s"${kinds.init.map(_.name).mkString(", ")} or ${kinds.last.name}"))

  /** The row of the index at `dir`, from one read of its newest
    * manifest (None when `dir` holds no index), once its kind is
    * checked against `wanted`. */
  def onDisk(spark: SparkSession, dir: String,
             wanted: Option[Kind] = None): Option[Kind] =
    RefIndexSlices.manifest(spark, dir).map { m =>
      val kind = kinds.find(_.name == m.kind).getOrElse(sys.error(
        s"index at $dir is kind=${m.kind}, not an index kind"))
      wanted.filter(_ != kind).foreach(w =>
        sys.error(s"index at $dir is kind=${m.kind}, not ${w.name}"))
      kind
    }
}
