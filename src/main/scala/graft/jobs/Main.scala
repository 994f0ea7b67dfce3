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
  *
  * The four index stages serve the five `--kind`s (default
  * `semantic`): each kind is one row of [[IndexKinds.kinds]], which
  * holds its options and their defaults (README's pipeline-CLI table
  * lists them). Every index is one dir of manifest-committed versions:
  * `index_build` commits a save that replaces the index,
  * `index_append` commits one more slice, `index_compact` collapses
  * the slices into one (it reads the kind from the index), and
  * `index_probe` reads the newest version. A stage ignores the
  * options it does not read.
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
  /** Build the `--kind` index over --source at --index-dir (with
    * --merge-into, a streaming kind's index there merged with
    * --source), replacing any index there in one commit. */
  case object IndexBuild extends Stage { val name = "index_build" }
  /** Probe --probe rows against the index at --index-dir and write
    * the result to --out (parquet): the probe-from-many-jobs consumer
    * of a nightly-built index. Dedup kinds (semantic/simhash/minhash)
    * write the match PAIR set; ANN kinds (pq/ivfpq) write the served
    * RANKING (query_id, rank, corpus_id, score). */
  case object IndexProbe extends Stage { val name = "index_probe" }
  /** Nightly APPEND: commit only --source as a new slice, never
    * rewriting history — the write-optimized cadence. A streaming kind
    * creates the index on an empty dir; knobs freeze when the index is
    * created. */
  case object IndexAppend extends Stage { val name = "index_append" }
  /** Collapse an index's committed slices into one (the full
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
    // read by the index stages that take them
    def indexKind = IndexKinds.kind(opts.getOrElse("kind", "semantic"))

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
        val kind = indexKind
        kind.build(IndexKinds.Args(opts, kind),
          spark.read.parquet(req("source")), req("index-dir"))
      case IndexProbe =>
        val (kind, dir) = (indexKind, req("index-dir"))
        IndexKinds.onDisk(spark, dir, Some(kind))
        val out = kind.probe(IndexKinds.Args(opts, kind),
          spark.read.parquet(req("probe")), dir)
        // natural write parallelism: a dup-heavy probe can yield an
        // arbitrarily large match set, so never funnel it through one
        // task (the bottleneck/OOM shape at corpus scale) — callers
        // that want few output files opt in via --out-files
        opts.get("out-files").fold(out)(n => out.coalesce(n.toInt))
          .write.mode("overwrite").parquet(req("out"))
      case IndexAppend =>
        val (kind, dir) = (indexKind, req("index-dir"))
        IndexKinds.onDisk(spark, dir, Some(kind))
        kind.append(IndexKinds.Args(opts, kind),
          spark.read.parquet(req("source")), dir)
      case IndexCompact =>
        // the kind is the stored one: --kind is not read
        val dir = req("index-dir")
        IndexKinds.onDisk(spark, dir)
          .getOrElse(sys.error(s"no index at $dir")).compact(spark, dir)
    }
  }
}
