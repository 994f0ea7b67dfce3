package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{AnnStore, Similarity}
import graft.streaming.{EmbedStream, MinHashStream, RefIndexSlices,
  RefIndexStore, SimHashStream}

/** The index kinds behind [[Main]]'s four index stages, one row per
  * `--kind` (the index counterpart of [[graft.schema.Layout.tapes]]).
  * `index_build`, `index_probe`, `index_append` and `index_compact`
  * look their row up and call its function, so a new kind is one row
  * in [[kinds]].
  *
  * Each kind has two layouts (`--layout`, default `store`): `store` is
  * one atomically published dir ([[RefIndexStore]],
  * [[AnnStore.savePq]], [[AnnStore.saveIvfPq]]), rewritten whole by
  * every build; `sliced` commits one slice per append
  * ([[RefIndexSlices]], [[AnnStore.createPqSliced]],
  * [[AnnStore.createIvfPqSliced]]) and is collapsed by
  * `index_compact`.
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

  /** One index kind. `metaKinds` maps each kind string its stores
    * write into `meta/` to whether that store is sliced. `id` and
    * `data` are the default id and data columns, which `--id` and
    * `--{dataOpt}` override; `knobs` maps every other option the kind
    * reads to its default. `build` writes the store, or (sliced) the
    * first slice; `append` commits a slice; `probe` returns what
    * `index_probe` writes; `compact` collapses a sliced index into one
    * slice. */
  final case class Kind(name: String, metaKinds: Map[String, Boolean],
                        id: String, dataOpt: String, data: String,
                        knobs: Map[String, String],
                        build: (Args, DataFrame, String, Boolean) => Unit,
                        append: (Args, DataFrame, String) => Unit,
                        probe: (Args, DataFrame, String, Boolean) => DataFrame,
                        compact: (SparkSession, String) => Unit)

  private val dim = "dim" -> "64"
  private val maxBucket = "max-bucket" -> "4096"

  /** `--merge-into` reaches only a streaming kind's store build: an ANN
    * build trains afresh, and a sliced build starts an index. */
  private def refuseMerge(a: Args, to: String): Unit =
    if (a.opts.contains("merge-into"))
      sys.error(s"--merge-into does not apply to $to")

  /** A streaming dedup kind. A store build saves a fresh index, or with
    * `--merge-into` the index there merged with the source (which never
    * re-scans old rows, and whose save doubles as lineage compaction).
    * A sliced build commits the source as the first slice, as
    * `index_append` does on an empty dir. A probe returns the distinct (id_a, id_b) match pairs. */
  private def streaming[I](name: String, id: String, dataOpt: String,
                           data: String, knobs: Map[String, String])(
      fresh: (Args, DataFrame) => I,
      merge: (I, DataFrame, String, String) => I,
      save: (I, String) => Unit,
      loadStore: (SparkSession, String) => I,
      loadSliced: (SparkSession, String) => I,
      add: (Args, DataFrame, String) => Unit,
      matches: (DataFrame, I, Args) => DataFrame): Kind =
    // a streaming store's kind string is its sliced store's too
    Kind(name, Map(name -> true), id, dataOpt, data, knobs,
      build = { (a, src, dir, sliced) =>
        if (sliced) { refuseMerge(a, "--layout sliced"); add(a, src, dir) }
        else save(a.opts.get("merge-into").fold(fresh(a, src))(existing =>
          merge(loadStore(src.sparkSession, existing), src, a.id, a.data)), dir)
      },
      append = add,
      probe = (a, probe, dir, sliced) => matches(probe, (if (sliced) loadSliced
        else loadStore)(probe.sparkSession, dir), a)
        .select("id_a", "id_b").distinct(),
      compact = RefIndexSlices.compact(_, _))

  /** In `--kind` order. */
  val kinds: Seq[Kind] = Seq(
    streaming[EmbedStream.SemanticRefIndex]("semantic", "vec_id", "vec",
        "embedding", Map("bands" -> "0", "bits" -> "0", dim, maxBucket,
          "cos2-num" -> "1", "cos2-den" -> "4"))(
      fresh = (a, src) => EmbedStream.semanticRefIndex(src, a.id, a.data,
        a.int("bands"), a.int("bits"), a.int("dim"), a.int("max-bucket")),
      merge = EmbedStream.mergeRefIndex(_, _, _, _),
      save = RefIndexStore.saveSemantic(_, _),
      loadStore = RefIndexStore.loadSemantic(_, _),
      loadSliced = RefIndexSlices.loadSemantic(_, _),
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
      save = RefIndexStore.saveSimHash(_, _),
      loadStore = RefIndexStore.loadSimHash(_, _),
      loadSliced = RefIndexSlices.loadSimHash(_, _),
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
      save = RefIndexStore.saveMinHash(_, _),
      loadStore = RefIndexStore.loadMinHash(_, _),
      loadSliced = RefIndexSlices.loadMinHash(_, _),
      add = (a, src, dir) => RefIndexSlices.appendMinHash(src, dir, a.id,
        a.data, n = a.int("ngram"), threshold = a("threshold").toDouble,
        maxBucket = a.int("max-bucket")),
      matches = (probe, idx, a) =>
        MinHashStream.minhashDupMatches(probe, idx, a.id, a.data)),
    // the ANN kinds probe to a RANKING (query_id, rank, corpus_id,
    // score); a sliced build freezes the codebook on the source and
    // commits it as the first slice, so each append costs ∝ its batch
    Kind("pq", Map("pq" -> false, "pq_sliced" -> true), "vec_id", "vec",
      "embedding", Map("subspaces" -> "8", "ksub" -> "16", dim, "k" -> "10",
        "refine" -> "4"),
      build = { (a, src, dir, sliced) =>
        refuseMerge(a, "--kind pq")
        if (sliced) {
          AnnStore.createPqSliced(src.sparkSession, dir,
            Similarity.pqCodebook(src, a.id, a.data, a.int("subspaces"),
              a.int("ksub"), a.int("dim")), a.int("dim"))
          AnnStore.appendPq(src, dir, a.id, a.data)
        } else AnnStore.savePq(AnnStore.buildPq(src, a.id, a.data,
          a.int("subspaces"), a.int("ksub"), a.int("dim")), dir)
      },
      append = (a, src, dir) => AnnStore.appendPq(src, dir, a.id, a.data),
      probe = (a, probe, dir, sliced) => AnnStore.pqServe(probe, a.id, a.data,
        (if (sliced) AnnStore.loadPqSliced _ else AnnStore.loadPq _)(
          probe.sparkSession, dir), a.int("k"), a.int("refine")),
      compact = AnnStore.compactPq(_, _)),
    // --payload true persists the float payload (sorted on corpus_id)
    // at ~32x the codes' disk bytes; a probe with --refine N (no
    // default) re-ranks exactly over it, and without it serves ADC ranks
    Kind("ivfpq", Map("ivfpq" -> false, "ivfpq_sliced" -> true), "vec_id",
      "vec", "embedding", Map("subspaces" -> "8", "ksub" -> "16", dim,
        "ncentroids" -> "16", "rounds" -> "2", "payload" -> "false",
        "k" -> "10", "nprobe" -> "4"),
      build = { (a, src, dir, sliced) =>
        refuseMerge(a, "--kind ivfpq")
        val built = AnnStore.buildIvfPq(src, a.id, a.data, a.int("subspaces"),
          a.int("ksub"), a.int("dim"), a.int("ncentroids"), a.int("rounds"))
        val withPayload = a("payload").toBoolean
        if (sliced) {
          AnnStore.createIvfPqSliced(src.sparkSession, dir, built.codebook,
            built.cents, a.int("dim"), withPayload)
          AnnStore.appendIvfPq(src, dir, a.id, a.data)
        } else AnnStore.saveIvfPq(built, dir, withPayload)
      },
      append = (a, src, dir) => AnnStore.appendIvfPq(src, dir, a.id, a.data),
      probe = { (a, probe, dir, sliced) =>
        val idx = (if (sliced) AnnStore.loadIvfPqSliced _
          else AnnStore.loadIvfPq _)(probe.sparkSession, dir)
        a.opts.get("refine").fold(AnnStore.ivfPqServe(probe, a.id, a.data,
          idx, a.int("k"), a.int("nprobe")))(r => AnnStore.ivfPqServeRefined(
          probe, a.id, a.data, idx, a.int("k"), a.int("nprobe"), r.toInt))
      },
      compact = AnnStore.compactIvfPq(_, _)))

  def kind(name: String): Kind =
    kinds.find(_.name == name).getOrElse(sys.error(
      s"invalid --kind $name; expected " +
        s"${kinds.init.map(_.name).mkString(", ")} or ${kinds.last.name}"))

  private def layout(sliced: Boolean): String = if (sliced) "sliced" else "store"

  /** The row of the index at `dir`, from one read of its `meta/` (None
    * when `dir` holds no index), once its layout is checked against
    * the one the stage expects and its kind against `wanted`. */
  def onDisk(spark: SparkSession, dir: String, sliced: Boolean,
             wanted: Option[Kind] = None): Option[Kind] =
    RefIndexStore.readMetaIfExists(spark, dir).map { meta =>
      val name = meta.getOrElse("kind", "?")
      val kind = kinds.find(_.metaKinds.contains(name)).getOrElse(sys.error(
        s"index at $dir is kind=$name, not an index kind"))
      // only the bucketed streaming store records `buckets`
      val found = !meta.contains("buckets") && kind.metaKinds(name)
      if (found != sliced) sys.error(s"index at $dir has the " +
        s"${layout(found)} layout, not the ${layout(sliced)} layout")
      wanted.filter(_ != kind).foreach(w =>
        sys.error(s"index at $dir is kind=$name, not ${w.name}"))
      kind
    }
}
