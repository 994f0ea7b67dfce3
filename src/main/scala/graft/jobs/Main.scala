package graft.jobs

import graft.GraftSession
import graft.schema.Layout

/** CLI stage dispatcher (SURVEY.md §2 #22; reference
  * `les_main.py:54-202`). Stage name → job, invalid stage → error,
  * mirroring the reference's argparse surface on local paths:
  *
  * {{{
  * runMain graft.jobs.Main --stage-name bronze_asset \
  *   --raw-dir /data/raw/DEAL1 --lake-root /data/lake \
  *   --ed-code DEAL1 --file-key Loan_Data --ingestion-date 2023-07-31
  * }}}
  *
  * Each row of [[graft.schema.Layout.tapes]] gives a `bronze_{stage}`
  * stage and, when the tape has silver, a `silver_{stage}` stage; the
  * row also holds the `--file-key` default.
  */
object Main {

  sealed trait Stage { def name: String }
  final case class Bronze(tape: Layout.Tape) extends Stage {
    val name = s"bronze_${tape.stage}"
  }
  final case class Silver(tape: Layout.Tape) extends Stage {
    val name = s"silver_${tape.stage}"
  }
  /** Whole-lake runner: bronze for every deal under --raw-root with
    * bounded parallelism (default 20, the reference DAG's
    * max_active_tasks), then the silver stages once. */
  case object RunAll extends Stage { val name = "run_all" }
  /** Nightly semantic-index maintenance: build the reference index
    * over --source (parquet of --id/--vec columns) and publish it
    * atomically at --index-dir via
    * [[graft.streaming.RefIndexStore]]; with --merge-into, load the
    * existing index there, merge only the new slice, and save — the
    * incremental path that never re-scans old embeddings (and whose
    * save doubles as lineage compaction). */
  case object IndexBuild extends Stage { val name = "index_build" }
  /** Probe --probe rows against the index at --index-dir and write
    * the result to --out (parquet): the probe-from-many-jobs consumer
    * of a nightly-built index. Dedup kinds (semantic/simhash/minhash)
    * write the match PAIR set; ANN kinds (pq/ivfpq) write the served
    * RANKING (query_id, rank, corpus_id, score). `--layout sliced`
    * probes the append-slices store instead of the one-shot one. */
  case object IndexProbe extends Stage { val name = "index_probe" }
  /** Nightly APPEND to a sliced index
    * ([[graft.streaming.RefIndexSlices]]): band + commit only
    * --source, never rewriting history — the write-optimized cadence;
    * knobs freeze at the first append. */
  case object IndexAppend extends Stage { val name = "index_append" }
  /** Collapse a sliced index's committed slices into one (the full
    * rewrite, paid on THIS stage's cadence instead of per append) and
    * sweep unreferenced slice dirs. */
  case object IndexCompact extends Stage { val name = "index_compact" }

  val stages: Seq[Stage] = Layout.tapes.map(Bronze(_)) ++
    Layout.tapes.filter(_.hasSilver).map(Silver(_)) ++
    Seq(RunAll, IndexBuild, IndexProbe, IndexAppend, IndexCompact)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val spark = GraftSession.build(
      appName = s"graft-${opts.getOrElse("stage-name", "cli")}")
    try run(opts, spark) finally spark.stop()
  }

  /** Dispatcher body, session-injected for testability (the CLI main
    * owns session lifecycle; specs pass the shared test session). */
  def run(opts: Map[String, String],
          spark: org.apache.spark.sql.SparkSession): Unit = {
    def req(k: String): String =
      opts.getOrElse(k, sys.error(s"missing required --$k"))
    def badKind(kind: String): Nothing = sys.error(
      s"invalid --kind $kind; expected semantic, simhash, minhash, pq or ivfpq")

    val stageName = req("stage-name")
    val stage = stages.find(_.name == stageName)
      .getOrElse(sys.error(
        s"invalid stage $stageName; expected one of ${stages.map(_.name).mkString(", ")}"))
    // def, not val: the index stages are lake-free
    def lakeRoot = req("lake-root")
    stage match {
      case Bronze(t) =>
        Jobs.bronze(spark, t, req("raw-dir"), lakeRoot,
          opts.getOrElse("file-key", t.fileKey), req("ed-code"),
          req("ingestion-date"))
      case Silver(t) => Jobs.silver(spark, lakeRoot, t)
      case RunAll =>
        Jobs.runAllDeals(spark, req("raw-root"), lakeRoot,
          req("ingestion-date"),
          opts.getOrElse("parallelism", "20").toInt)
      case IndexBuild =>
        val src = spark.read.parquet(req("source"))
        val dir = req("index-dir")
        val kind = opts.getOrElse("kind", "semantic")
        val merge = opts.get("merge-into")
        kind match {
          case "semantic" =>
            val (id, vec) = (opts.getOrElse("id", "vec_id"),
              opts.getOrElse("vec", "embedding"))
            val idx = merge match {
              case Some(existing) =>
                graft.streaming.EmbedStream.mergeRefIndex(
                  graft.streaming.RefIndexStore.loadSemantic(spark, existing),
                  src, id, vec)
              case None =>
                graft.streaming.EmbedStream.semanticRefIndex(src, id, vec,
                  bands = opts.getOrElse("bands", "0").toInt,
                  bitsPerBand = opts.getOrElse("bits", "0").toInt,
                  dim = opts.getOrElse("dim", "64").toInt,
                  maxBucket = opts.getOrElse("max-bucket", "4096").toInt)
            }
            graft.streaming.RefIndexStore.saveSemantic(idx, dir)
          case "simhash" =>
            val (id, text) = (opts.getOrElse("id", "doc_id"),
              opts.getOrElse("text", "text"))
            val idx = merge match {
              case Some(existing) =>
                graft.streaming.SimHashStream.mergeRefIndex(
                  graft.streaming.RefIndexStore.loadSimHash(spark, existing),
                  src, id, text)
              case None =>
                graft.streaming.SimHashStream.simhashRefIndex(src, id, text,
                  maxHamming = opts.getOrElse("max-hamming", "3").toInt,
                  maxBucket = opts.getOrElse("max-bucket", "4096").toInt)
            }
            graft.streaming.RefIndexStore.saveSimHash(idx, dir)
          case "minhash" =>
            val (id, text) = (opts.getOrElse("id", "doc_id"),
              opts.getOrElse("text", "text"))
            val idx = merge match {
              case Some(existing) =>
                graft.streaming.MinHashStream.mergeRefIndex(
                  graft.streaming.RefIndexStore.loadMinHash(spark, existing),
                  src, id, text)
              case None =>
                graft.streaming.MinHashStream.minhashRefIndex(src, id, text,
                  n = opts.getOrElse("ngram", "3").toInt,
                  threshold = opts.getOrElse("threshold", "0.7").toDouble,
                  maxBucket = opts.getOrElse("max-bucket", "4096").toInt)
            }
            graft.streaming.RefIndexStore.saveMinHash(idx, dir)
          case "pq" =>
            // ANN lifecycle through the same dispatcher: one-shot
            // build+save, or (--layout sliced) freeze the codebook and
            // commit --source as the first slice — subsequent
            // index_append runs cost ∝ their batch
            val (id, vec) = (opts.getOrElse("id", "vec_id"),
              opts.getOrElse("vec", "embedding"))
            val (sub, ksub, dimN) = (opts.getOrElse("subspaces", "8").toInt,
              opts.getOrElse("ksub", "16").toInt,
              opts.getOrElse("dim", "64").toInt)
            if (opts.get("layout").contains("sliced")) {
              val cb = graft.ext.Similarity.pqCodebook(src, id, vec,
                sub, ksub, dimN)
              graft.ext.AnnStore.createPqSliced(spark, dir, cb, dimN)
              graft.ext.AnnStore.appendPq(src, dir, id, vec)
            } else graft.ext.AnnStore.savePq(
              graft.ext.AnnStore.buildPq(src, id, vec, sub, ksub, dimN), dir)
          case "ivfpq" =>
            val (id, vec) = (opts.getOrElse("id", "vec_id"),
              opts.getOrElse("vec", "embedding"))
            val built = graft.ext.AnnStore.buildIvfPq(src, id, vec,
              subspaces = opts.getOrElse("subspaces", "8").toInt,
              ksub = opts.getOrElse("ksub", "16").toInt,
              dim = opts.getOrElse("dim", "64").toInt,
              nCentroids = opts.getOrElse("ncentroids", "16").toInt,
              rounds = opts.getOrElse("rounds", "2").toInt)
            // --payload true persists the float payload (sorted on
            // corpus_id), enabling refined probes at ~32x the codes'
            // disk bytes; ADC-only serving never needs it
            val withPayload =
              opts.getOrElse("payload", "false").toBoolean
            if (opts.get("layout").contains("sliced")) {
              graft.ext.AnnStore.createIvfPqSliced(spark, dir,
                built.codebook, built.cents,
                dim = opts.getOrElse("dim", "64").toInt,
                withPayload = withPayload)
              graft.ext.AnnStore.appendIvfPq(src, dir, id, vec)
            } else graft.ext.AnnStore.saveIvfPq(built, dir,
              withPayload = withPayload)
          case other => badKind(other)
        }
      case IndexProbe =>
        val probe = spark.read.parquet(req("probe"))
        val dir = req("index-dir")
        val sliced = opts.get("layout") match {
          case Some("sliced") => true
          case Some("store") | None => false
          case Some(other) => sys.error(
            s"invalid --layout $other; expected store or sliced")
        }
        val annKind = opts.get("kind").filter(Set("pq", "ivfpq"))
        if (annKind.isDefined) {
          // ANN serving: the output is a RANKING (query_id, rank,
          // corpus_id, score), not a dedup pair set — written at the
          // serve plan's natural parallelism like the pair path
          val (id, vec) = (opts.getOrElse("id", "vec_id"),
            opts.getOrElse("vec", "embedding"))
          val k = opts.getOrElse("k", "10").toInt
          val ranks = annKind.get match {
            case "pq" =>
              graft.ext.AnnStore.pqServe(probe, id, vec,
                if (sliced) graft.ext.AnnStore.loadPqSliced(spark, dir)
                else graft.ext.AnnStore.loadPq(spark, dir),
                k, refine = opts.getOrElse("refine", "4").toInt)
            case "ivfpq" =>
              val idx =
                if (sliced) graft.ext.AnnStore.loadIvfPqSliced(spark, dir)
                else graft.ext.AnnStore.loadIvfPq(spark, dir)
              val nProbe = opts.getOrElse("nprobe", "4").toInt
              // --refine N opts into the exact re-rank (needs an
              // index built with --payload true); without it the
              // probe serves ADC ranks
              opts.get("refine") match {
                case Some(r) => graft.ext.AnnStore.ivfPqServeRefined(
                  probe, id, vec, idx, k, nProbe, refine = r.toInt)
                case None => graft.ext.AnnStore.ivfPqServe(
                  probe, id, vec, idx, k, nProbe)
              }
          }
          opts.get("out-files").map(n => ranks.coalesce(n.toInt))
            .getOrElse(ranks)
            .write.mode("overwrite").parquet(req("out"))
          return
        }
        val matches = opts.getOrElse("kind", "semantic") match {
          case "semantic" =>
            graft.streaming.EmbedStream.semanticDupMatches(probe,
              if (sliced) graft.streaming.RefIndexSlices.loadSemantic(spark, dir)
              else graft.streaming.RefIndexStore.loadSemantic(spark, dir),
              opts.getOrElse("id", "vec_id"),
              opts.getOrElse("vec", "embedding"),
              cos2Num = opts.getOrElse("cos2-num", "1").toLong,
              cos2Den = opts.getOrElse("cos2-den", "4").toLong)
          case "simhash" =>
            graft.streaming.SimHashStream.simhashDupMatches(probe,
              if (sliced) graft.streaming.RefIndexSlices.loadSimHash(spark, dir)
              else graft.streaming.RefIndexStore.loadSimHash(spark, dir),
              opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"))
          case "minhash" =>
            graft.streaming.MinHashStream.minhashDupMatches(probe,
              if (sliced) graft.streaming.RefIndexSlices.loadMinHash(spark, dir)
              else graft.streaming.RefIndexStore.loadMinHash(spark, dir),
              opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"))
          case other => badKind(other)
        }
        // natural write parallelism: a dup-heavy probe can yield an
        // arbitrarily large match set, so never funnel it through one
        // task (the bottleneck/OOM shape at corpus scale) — callers
        // that want few output files opt in via --out-files
        val pairs = matches.select("id_a", "id_b").distinct()
        opts.get("out-files").map(n => pairs.coalesce(n.toInt))
          .getOrElse(pairs)
          .write.mode("overwrite").parquet(req("out"))
      case IndexAppend =>
        val src = spark.read.parquet(req("source"))
        val dir = req("index-dir")
        opts.getOrElse("kind", "semantic") match {
          case "pq" =>
            graft.ext.AnnStore.appendPq(src, dir,
              opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"))
          case "ivfpq" =>
            graft.ext.AnnStore.appendIvfPq(src, dir,
              opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"))
          case "semantic" =>
            graft.streaming.RefIndexSlices.appendSemantic(src, dir,
              opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"),
              bands = opts.getOrElse("bands", "0").toInt,
              bitsPerBand = opts.getOrElse("bits", "0").toInt,
              dim = opts.getOrElse("dim", "64").toInt,
              maxBucket = opts.getOrElse("max-bucket", "4096").toInt)
          case "simhash" =>
            graft.streaming.RefIndexSlices.appendSimHash(src, dir,
              opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
              maxHamming = opts.getOrElse("max-hamming", "3").toInt,
              maxBucket = opts.getOrElse("max-bucket", "4096").toInt)
          case "minhash" =>
            graft.streaming.RefIndexSlices.appendMinHash(src, dir,
              opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
              n = opts.getOrElse("ngram", "3").toInt,
              threshold = opts.getOrElse("threshold", "0.7").toDouble,
              maxBucket = opts.getOrElse("max-bucket", "4096").toInt)
          case other => badKind(other)
        }
      case IndexCompact =>
        // dispatch on the stored kind: the sliced ANN stores compact
        // through AnnStore (codes/payload shapes), the streaming
        // families through RefIndexSlices — one stage, every index
        val dir = req("index-dir")
        val kind = spark.read.parquet(
            new org.apache.hadoop.fs.Path(dir, "meta").toString)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          .getOrElse("kind", "?")
        if (kind == "pq_sliced" || kind == "ivfpq_sliced")
          graft.ext.AnnStore.compactAnn(spark, dir)
        else graft.streaming.RefIndexSlices.compact(spark, dir)
    }
  }
}
