package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ad-hoc measurement CLI — the SCALING.md instrument runner. Each
  * subcommand runs ONE audit/measurement exactly as documented in the
  * scaling record and prints a single JSON line (plus wall seconds),
  * so every filed SCALING.md number has a reproducible command:
  *
  * {{{
  * sbt "runMain graft.Audit ivf-recall <sfDir> <cos2Num> <cos2Den> <k>"
  *   // k = 0 resolves the corpus-aware Planes.nClustersFor default;
  *   // exhaustive (docSampleBits = 0), the x192 gate behavior
  * sbt "runMain graft.Audit ivf-recall-planted <sfDir> <m> <cos2Num>
  *   <cos2Den> <k>"
  *   // same audit with m planted ≥0.85-cosine clone pairs, so the
  *   // SemDeDup design threshold has nonzero exact-pair support
  * sbt "runMain graft.Audit time <queryName> <sfDir> [runs]"
  *   // median wall of one SparkEntry query as Bench times it: Bench's
  *   // sizing (SPARK_GRAFT_BENCH_PANEL_CAP / _TRUTH_BITS; both 0 =
  *   // the gate's) and a Harness.settle before each run
  * sbt "runMain graft.Audit stream-ramp <semantic|simhash|minhash> <sfDir>
  *   <session|disk> [probeDiv] [bands] [bits]"
  *   // scaled micro-batch through the dedup-at-ingest path
  * sbt "runMain graft.Audit index-save <sfDir> <dir>"   // then, in a
  * sbt "runMain graft.Audit index-probe <sfDir> <dir>"  // FRESH JVM:
  *   // cross-JVM index-survival pair (counts must agree)
  * sbt "runMain graft.Audit pq-save <sfDir> <dir>"      // AnnStore's
  * sbt "runMain graft.Audit pq-probe <sfDir> <dir>"     // counterpart:
  *   // the probe half ALSO serves two panels from TWO CONCURRENT
  *   // threads over one loaded index (checksums must all agree)
  * sbt "runMain graft.Audit pq-amortize <sfDir> [panels]"
  *   // AnnStore serving economics: served-from-disk vs re-encode
  * sbt "runMain graft.Audit ivfpq-append-cost <sfDir>"
  *   // sliced IVF-PQ economics: full re-encode refresh vs appendIvfPq
  * sbt "runMain graft.Audit ivfpq-amortize <sfDir> [panels]"
  *   // refined-serving economics: served-from-store vs re-encode chain
  * }}}
  *
  * `time` and the two `ivf-recall` audits use Bench's timer
  * ([[Harness.time]]): one discarded warm-up execution, then `runs`
  * (default 3; 1 for the recall audits) runs, each after a
  * [[Harness.settle]]; the reported wall is their median. The
  * cost/amortize rows time single steps with [[Harness.clock]], unsettled.
  */
object Audit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(appName = "graft-audit")
    args.toList match {
      case "ivf-recall" :: sfDir :: num :: den :: k :: rest =>
        val bits = rest.headOption.map(_.toInt).getOrElse(0)
        val (payload, secs) = ivfRecall(spark,
          tables.t(spark, sfDir, "embeddings"), num, den, k, bits)
        println(f"""{"audit":"ivf-recall","sf":"$sfDir","cos2":"$num/$den","k":${k.toInt},"bits":$bits,$payload,"wall_sec":$secs%.2f}""")
      case "ivf-recall-planted" :: sfDir :: m :: num :: den :: k :: Nil =>
        // plant mode (round-10 verdict item 2): the synthetic corpus
        // has NO exact pairs at the SemDeDup production threshold
        // (cos ≥ 0.85 — support ends near |cos| 0.6), so the design
        // point was unmeasurable. Inject m KNOWN near-duplicate pairs:
        // each clone is a scaled copy of a seed vector with a
        // deterministic ±25% per-dimension multiplicative jitter, so
        // cos(seed, clone) ∈ [0.970, 1] ≥ 0.85 by arithmetic (worst
        // case (0.75+0.5t)/sqrt(0.5625+t) at t = 1/2), while the 1.3×
        // scale is free under cosine and the per-vector-anchored int8
        // quantization. Seeds are the m smallest vec_ids; clones are
        // id-tagged +40 000 000 (outside every replica id space).
        val base = tables.t(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val nPlant = m.toInt
        require(nPlant >= 1, "plant at least one clone pair")
        val clones = base.orderBy("vec_id").limit(nPlant)
          .select((col("vec_id") + 40000000L).as("vec_id"),
            transform(col("embedding"), (x, j) =>
              (x * lit(1.3) * when(
                pmod(xxhash64(col("vec_id"), j), lit(2)) === 0,
                lit(1.25)).otherwise(lit(0.75))).cast("float"))
              .as("embedding"))
        // no localCheckpoint here: the between-run unpersist hygiene
        // would drop its blocks and the timed run could not recompute
        // a truncated lineage (the audit materializes what it needs)
        val (payload, secs) = ivfRecall(spark, base.unionByName(clones),
          num, den, k, bits = 0)
        println(f"""{"audit":"ivf-recall-planted","sf":"$sfDir","planted":$nPlant,"cos2":"$num/$den","k":${k.toInt},$payload,"wall_sec":$secs%.2f}""")
      case "time" :: name :: sfDir :: rest =>
        val runs = rest.headOption.map(_.toInt).getOrElse(3)
        val fn = Harness.benchQueries(name)
        val (_, times) = Harness.time(spark, runs, warmUp = true) {
          fn(spark, sfDir).count()
        }
        println(f"""{"audit":"time","query":"$name","sf":"$sfDir","runs":$runs,"median_sec":${times(times.length / 2)}%.3f,"min":${times.head}%.3f,"max":${times.last}%.3f}""")
      case "index-save" :: sfDir :: dir :: Nil =>
        // cross-JVM survival instrument, save half: build the semantic
        // reference index over the SF corpus and persist it. Run
        // index-probe in a SEPARATE JVM to prove the index outlives
        // the driver that built it (the RefIndexSlices deployment claim
        // a single-session spec cannot prove).
        val emb = tables.t(spark, sfDir, "embeddings")
        val idx = streaming.EmbedStream.semanticRefIndex(
          emb, "vec_id", "embedding")
        streaming.RefIndexSlices.saveSemantic(idx, dir)
        val probe = emb.select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"))
        val n = streaming.EmbedStream.semanticDupMatches(probe, idx,
            "vec_id", "embedding", cos2Num = 4, cos2Den = 25)
          .select("id_a", "id_b").distinct().count()
        println(s"""{"audit":"index-save","sf":"$sfDir","dir":"$dir","builder_matches":$n}""")
      case "index-probe" :: sfDir :: dir :: Nil =>
        // cross-JVM survival instrument, probe half: a FRESH driver
        // loads the persisted index (knobs + bucket spec re-registered
        // from the manifest) and must reproduce the building JVM's match count
        // exactly.
        val emb = tables.t(spark, sfDir, "embeddings")
        val idx = streaming.RefIndexSlices.loadSemantic(spark, dir)
        val probe = emb.select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"))
        val n = streaming.EmbedStream.semanticDupMatches(probe, idx,
            "vec_id", "embedding", cos2Num = 4, cos2Den = 25)
          .select("id_a", "id_b").distinct().count()
        println(s"""{"audit":"index-probe","sf":"$sfDir","dir":"$dir","loader_matches":$n}""")
      case "pq-save" :: sfDir :: dir :: Nil =>
        // cross-JVM + concurrent serving instrument, save half: build
        // and persist the PQ index, then serve two fixed panels from
        // the builder JVM and print their deterministic checksums.
        val emb = tables.t(spark, sfDir, "embeddings")
        ext.AnnStore.savePq(
          ext.AnnStore.buildPq(emb, "vec_id", "embedding"), dir)
        val loaded = ext.AnnStore.loadPq(spark, dir)
        val sums = (0 to 1).map(i => pqPanelChecksum(spark, sfDir, loaded, i))
        println(s"""{"audit":"pq-save","sf":"$sfDir","dir":"$dir","panel_checksums":[${sums.mkString(",")}]}""")
      case "pq-probe" :: sfDir :: dir :: Nil =>
        // probe half, run in a FRESH JVM: load the persisted index and
        // serve the same two panels from TWO CONCURRENT THREADS over
        // the ONE loaded handle — serving is pure parquet scans plus a
        // driver-local codebook (no catalog or session mutation), so
        // concurrent probes from any number of JVMs/threads must
        // reproduce the builder's checksums exactly.
        val loaded = ext.AnnStore.loadPq(spark, dir)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val sums = Await.result(
          Future.sequence((0 to 1).map(i =>
            Future(pqPanelChecksum(spark, sfDir, loaded, i)))), Duration.Inf)
        println(s"""{"audit":"pq-probe","sf":"$sfDir","dir":"$dir","panel_checksums":[${sums.mkString(",")}]}""")
      case "slice-append-cost" :: sfDir :: Nil =>
        // the RefIndexSlices economics: with 90% of the corpus already
        // indexed, what does tonight's 10% slice cost under (a) the
        // bucketed store's merge-then-save (full-index rewrite) vs
        // (b) an append-slices commit (∝ slice)? Plus the read-side
        // price the append layout charges: the combined load's census
        // merge + a probe batch against the 2-slice index.
        val emb = tables.t(spark, sfDir, "embeddings")
        val hist = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        val slice = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
        val base = java.nio.file.Files.createTempDirectory("graft_slicecost")
        val (dirA, dirB) =
          (base.resolve("store").toString, base.resolve("slices").toString)
        // setup (untimed): both layouts hold the 90% history
        val histIdx = streaming.EmbedStream.semanticRefIndex(
          hist, "vec_id", "embedding")
        streaming.RefIndexSlices.saveSemantic(histIdx, dirA)
        streaming.RefIndexSlices.appendSemantic(hist, dirB,
          "vec_id", "embedding",
          bands = histIdx.bands, bitsPerBand = histIdx.bitsPerBand)
        val (_, tRewrite) = Harness.clock {
          val merged = streaming.EmbedStream.mergeRefIndex(
            streaming.RefIndexSlices.loadSemantic(spark, dirA),
            slice, "vec_id", "embedding")
          streaming.RefIndexSlices.saveSemantic(merged, dirA)
        }
        val bytesRewrite = dirBytes(spark, dirA)
        val bytesB0 = dirBytes(spark, dirB)
        val (_, tAppend) = Harness.clock {
          streaming.RefIndexSlices.appendSemantic(slice, dirB,
            "vec_id", "embedding")
        }
        val bytesAppend = dirBytes(spark, dirB) - bytesB0
        val probe = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
        def probeCount(idx: streaming.EmbedStream.SemanticRefIndex): Long =
          streaming.EmbedStream.semanticDupMatches(probe, idx,
              "vec_id", "embedding", cos2Num = 4, cos2Den = 25)
            .select("id_a", "id_b").distinct().count()
        val (nStore, tProbeStore) = Harness.clock(
          probeCount(streaming.RefIndexSlices.loadSemantic(spark, dirA)))
        val (nSliced, tProbeSliced) = Harness.clock(
          probeCount(streaming.RefIndexSlices.loadSemantic(spark, dirB)))
        require(nStore == nSliced,
          s"layout mismatch: store probe $nStore != sliced probe $nSliced")
        println(f"""{"audit":"slice-append-cost","sf":"$sfDir","rewrite_sec":$tRewrite%.2f,"append_sec":$tAppend%.2f,"rewrite_bytes":$bytesRewrite,"append_bytes":$bytesAppend,"probe_store_sec":$tProbeStore%.2f,"probe_sliced_sec":$tProbeSliced%.2f,"matches":$nStore}""")
      case "pq-append-cost" :: sfDir :: Nil =>
        // the sliced-PQ economics (x213): with 90% of the corpus
        // already encoded under a frozen codebook, what does tonight's
        // 10% batch cost under (a) the flat store's refresh
        // (re-encode + full rewrite via savePq) vs (b) an appendPq
        // commit (encode + write ∝ batch)? Plus serve parity + cost
        // from both layouts afterwards.
        val emb = tables.t(spark, sfDir, "embeddings")
        val hist = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        val slice = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
        val base = java.nio.file.Files.createTempDirectory("graft_pqappend")
        val (dirA, dirB) =
          (base.resolve("flat").toString, base.resolve("sliced").toString)
        val cb = ext.Similarity.pqCodebook(hist, "vec_id", "embedding",
          subspaces = 8, ksub = 16, dim = 64)
        def fullIndex(df: org.apache.spark.sql.DataFrame) =
          ext.AnnStore.PqServeIndex(8, 16, 64, cb,
            ext.Similarity.pqEncode(df, "vec_id", "embedding", cb)
              .select(col("vec_id").as("corpus_id"), col("codes")),
            df.select(col("vec_id").as("corpus_id"),
              col("embedding").as("_cv")))
        // setup (untimed): both layouts hold the 90% history
        ext.AnnStore.savePq(fullIndex(hist), dirA)
        ext.AnnStore.savePq(fullIndex(hist), dirB)
        val (_, tRewrite) = Harness.clock(ext.AnnStore.savePq(fullIndex(emb), dirA))
        val bytesRewrite = dirBytes(spark, dirA)
        val bytesB0 = dirBytes(spark, dirB)
        val (_, tAppend) = Harness.clock(
          ext.AnnStore.appendPq(slice, dirB, "vec_id", "embedding"))
        val bytesAppend = dirBytes(spark, dirB) - bytesB0
        val (sumA, tServeFlat) = Harness.clock(pqPanelChecksum(spark, sfDir,
          ext.AnnStore.loadPq(spark, dirA), 0))
        val (sumB, tServeSliced) = Harness.clock(pqPanelChecksum(spark, sfDir,
          ext.AnnStore.loadPq(spark, dirB), 0))
        require(sumA == sumB,
          s"layout mismatch: flat checksum $sumA != sliced $sumB")
        println(f"""{"audit":"pq-append-cost","sf":"$sfDir","rewrite_sec":$tRewrite%.2f,"append_sec":$tAppend%.2f,"rewrite_bytes":$bytesRewrite,"append_bytes":$bytesAppend,"serve_flat_sec":$tServeFlat%.2f,"serve_sliced_sec":$tServeSliced%.2f,"checksum":$sumA}""")
      case "ivfpq-append-cost" :: sfDir :: Nil =>
        // the sliced IVF-PQ economics (x214): with 90% of the corpus
        // already assigned + encoded under FROZEN centroids + codebook
        // (trained on the history — the production posture), what does
        // tonight's 10% batch cost under (a) a full-corpus re-encode +
        // rewrite (the refresh the one-shot layout pays) vs (b) an
        // appendIvfPq commit (assign + encode + write ∝ batch)? Both
        // stores hold identical per-row codes afterwards, so the serve
        // checksums must agree exactly.
        val emb = tables.t(spark, sfDir, "embeddings")
        val hist = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        val slice = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
        val base = java.nio.file.Files.createTempDirectory("graft_ivfpqappend")
        val (dirA, dirB) =
          (base.resolve("rebuild").toString, base.resolve("sliced").toString)
        val built = ext.AnnStore.buildIvfPq(hist, "vec_id", "embedding")
        // setup (untimed): the sliced store holds the 90% history
        ext.AnnStore.saveIvfPq(built, dirB)
        val (_, tRebuild) = Harness.clock {
          val cq = emb.select(col("vec_id").as("vid"), ext.Similarity
            .int8Quantize(col("embedding")).getField("q").as("q8"))
          ext.AnnStore.saveIvfPq(built.copy(codes = ext.Similarity
            .ivfPqEncodeAssigned(cq, built.cents, built.codebook)), dirA)
        }
        val bytesRebuild = dirBytes(spark, dirA)
        val bytesB0 = dirBytes(spark, dirB)
        val (_, tAppend) = Harness.clock(
          ext.AnnStore.appendIvfPq(slice, dirB, "vec_id", "embedding"))
        val bytesAppend = dirBytes(spark, dirB) - bytesB0
        val (sumA, tServeRebuild) = Harness.clock(ivfPqPanelChecksum(spark,
          sfDir, ext.AnnStore.loadIvfPq(spark, dirA), 0))
        val (sumB, tServeSliced) = Harness.clock(ivfPqPanelChecksum(spark,
          sfDir, ext.AnnStore.loadIvfPq(spark, dirB), 0))
        require(sumA == sumB,
          s"layout mismatch: rebuild checksum $sumA != sliced $sumB")
        println(f"""{"audit":"ivfpq-append-cost","sf":"$sfDir","rebuild_sec":$tRebuild%.2f,"append_sec":$tAppend%.2f,"rebuild_bytes":$bytesRebuild,"append_bytes":$bytesAppend,"serve_rebuild_sec":$tServeRebuild%.2f,"serve_sliced_sec":$tServeSliced%.2f,"checksum":$sumA}""")
      case "ivfpq-amortize" :: sfDir :: rest =>
        // the refined-serving economics (x216): one build+save
        // (withPayload) then N panels served refined from the LOADED
        // index — against (a) ADC-only serving from the same index
        // (the refine price) and (b) the in-session one-call chain
        // re-encoding the corpus per panel (what the store saves).
        // Panels are disjoint id slices so no caching flatters a side.
        val panels = rest.headOption.map(_.toInt).getOrElse(5)
        val emb = tables.t(spark, sfDir, "embeddings")
        val dir = new java.io.File(
          sys.props("java.io.tmpdir"), "graft_ivfpq_amort").getAbsolutePath
        val (loaded, buildSec) = Harness.clock {
          ext.AnnStore.saveIvfPq(ext.AnnStore.buildIvfPq(emb, "vec_id",
            "embedding"), dir, withPayload = true)
          ext.AnnStore.loadIvfPq(spark, dir)
        }
        def panel(i: Int) = emb.filter(
          pmod(col("vec_id"), lit(97)) === i).limit(21)
        ext.AnnStore.ivfPqServeRefined(panel(0), "vec_id", "embedding",
          loaded, k = 10).count() // warm-up
        val refined = panelSecs(panels)(i => ext.AnnStore.ivfPqServeRefined(
          panel(i), "vec_id", "embedding", loaded, k = 10))
        val adcOnly = panelSecs(panels)(i => ext.AnnStore.ivfPqServe(
          panel(i), "vec_id", "embedding", loaded, k = 10))
        val pipelined = panelSecs(panels)(i => ext.Similarity.ivfPqTopK(
          panel(i), "vec_id", "embedding", emb, "vec_id", "embedding",
          loaded.codebook, k = 10))
        println(f"""{"audit":"ivfpq-amortize","sf":"$sfDir","panels":$panels,"build_save_load_sec":$buildSec%.2f,"refined_sec":$refined,"adc_sec":$adcOnly,"pipeline_sec":$pipelined}""")
      case "pq-amortize" :: sfDir :: rest =>
        // the serving-economics measurement behind AnnStore: one
        // build+save, then N panels served from the LOADED index,
        // vs the one-call pipeline (re-encode per panel). Panels are
        // disjoint id slices so no result caching can flatter either
        // side.
        val panels = rest.headOption.map(_.toInt).getOrElse(5)
        val emb = tables.t(spark, sfDir, "embeddings")
        val dir = new java.io.File(
          sys.props("java.io.tmpdir"), "graft_pq_amort").getAbsolutePath
        val (loaded, buildSec) = Harness.clock {
          ext.AnnStore.savePq(
            ext.AnnStore.buildPq(emb, "vec_id", "embedding"), dir)
          ext.AnnStore.loadPq(spark, dir)
        }
        def panel(i: Int) = emb.filter(
          pmod(col("vec_id"), lit(97)) === i).limit(21)
        ext.AnnStore.pqServe(panel(0), "vec_id", "embedding", loaded,
          k = 10).count() // warm-up
        val served = panelSecs(panels)(i => ext.AnnStore.pqServe(
          panel(i), "vec_id", "embedding", loaded, k = 10))
        val pipelined = panelSecs(panels)(i => ext.Similarity.pqTopKRefined(
          panel(i), "vec_id", "embedding", emb, "vec_id", "embedding",
          loaded.codebook, k = 10))
        println(f"""{"audit":"pq-amortize","sf":"$sfDir","panels":$panels,"build_save_load_sec":$buildSec%.2f,"served_sec":$served,"pipeline_sec":$pipelined}""")
      case "stream-ramp" :: kind :: sfDir :: refMode :: rest =>
        // optional probe divisor: probe keeps ids ≡ 0 (mod d), so a
        // 10×-corpus run with d = 10 holds the MICRO-BATCH size fixed
        // while the reference grows — isolating the per-batch
        // reference term the design claims is only the equi-join
        streamRamp(spark, kind, sfDir, refMode,
          rest.headOption.map(_.toInt).getOrElse(1),
          rest.drop(1).headOption.map(_.toInt).getOrElse(0),
          rest.drop(2).headOption.map(_.toInt).getOrElse(0))
      case other =>
        System.err.println(s"Audit: unknown args ${other.mkString(" ")}")
        sys.exit(2)
    }
    spark.stop()
  }

  /** One settled timed run of the x192 IVF recall audit over `df`,
    * after a discarded warm-up (JIT + file listing): the count fields
    * as JSON, and the run's wall seconds. */
  private def ivfRecall(spark: SparkSession, df: DataFrame, num: String,
                        den: String, k: String, bits: Int): (String, Double) = {
    val (row, secs) = Harness.time(spark, runs = 1, warmUp = true) {
      ext.Dedup.semanticIvfAudit(df, "vec_id", "embedding",
        cos2Num = num.toLong, cos2Den = den.toLong,
        nClusters = k.toInt, rounds = 2, docSampleBits = bits)
        .collect().head
    }
    (s""""n_exact":${row.getLong(0)},"n_ivf":${row.getLong(1)},""" +
      s""""n_hits":${row.getLong(2)},"recall_ppm":${row.get(3)}""", secs.head)
  }

  /** Wall seconds of serving panels 1..`panels` (unsettled, one count
    * each), as a JSON array. */
  private def panelSecs(panels: Int)(serve: Int => DataFrame): String =
    (1 to panels).map(i => f"${Harness.clock(serve(i).count())._2}%.3f")
      .mkString("[", ",", "]")

  /** Deterministic checksum of one served panel (panel `i` = vec_ids
    * ≡ i mod 97 below 3000 — a fixed set, no limit() nondeterminism):
    * Σ over `serve`'s result rows of a rank-weighted id mix. Equal
    * checksums ⇒ identical served rankings. */
  private def panelChecksum(spark: SparkSession, sfDir: String, i: Int)(
      serve: DataFrame => DataFrame): Long = {
    val panel = tables.t(spark, sfDir, "embeddings")
      .filter(pmod(col("vec_id"), lit(97)) === i && col("vec_id") < 3000)
    serve(panel)
      .agg(sum(col("query_id") * 1000003L + col("rank") * 97L +
        col("corpus_id")))
      .collect().head.getLong(0)
  }

  /** [[panelChecksum]] of panel `i` served from a PQ index (k = 10). */
  private def pqPanelChecksum(spark: SparkSession, sfDir: String,
                              idx: ext.AnnStore.PqServeIndex, i: Int): Long =
    panelChecksum(spark, sfDir, i)(
      ext.AnnStore.pqServe(_, "vec_id", "embedding", idx, k = 10))

  /** [[panelChecksum]] of panel `i` served from an IVF-PQ index at the
    * gate knobs (k = 10, nProbe = 4). */
  private def ivfPqPanelChecksum(spark: SparkSession, sfDir: String,
                                 idx: ext.AnnStore.IvfPqServeIndex, i: Int): Long =
    panelChecksum(spark, sfDir, i)(
      ext.AnnStore.ivfPqServe(_, "vec_id", "embedding", idx, k = 10, nProbe = 4))

  /** Total on-disk bytes under `dir` (0 when absent) — the write-
    * volume term the append-economics rows extrapolate on. */
  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Streaming dedup-at-ingest at a SCALED micro-batch (SCALING.md
    * round-10 instrument, r9 verdict item 4): builds the reference
    * index over the given SF's corpus (`kind` = "semantic" →
    * [[graft.streaming.EmbedStream]] over embeddings; "simhash" →
    * [[graft.streaming.SimHashStream]] and "minhash" →
    * [[graft.streaming.MinHashStream]] over documents),
    * optionally round-trips it through [[graft.streaming.RefIndexSlices]]
    * (`refMode` = "disk" vs "session"), then drives TWO identical
    * corpus-sized micro-batches through the match path (trigger 1
    * warms file listing/codegen; trigger 2 is the filed number).
    * Prints one JSON line with per-trigger batch wall, input rows,
    * match count, and the state-store row count (0 by design — the
    * match path is stateless stream-static joins). */
  private def streamRamp(spark: SparkSession,
                         kind: String, sfDir: String, refMode: String,
                         probeDiv: Int, bands: Int, bits: Int): Unit = {
    import streaming.{EmbedStream, MinHashStream, RefIndexSlices, SimHashStream}
    val stage = java.nio.file.Files.createTempDirectory("graft_ramp")
    val (table, id, payload) = kind match {
      case "semantic" => ("embeddings", "vec_id", "embedding")
      case "simhash" | "minhash" => ("documents", "doc_id", "text")
      case other => throw new IllegalArgumentException(
        s"stream-ramp kind must be semantic|simhash|minhash, got $other")
    }
    // the index as built in session, or after a save + load round trip
    def ref[I](idx: I)(save: (I, String) => Unit,
                       load: (SparkSession, String) => I): I =
      if (refMode != "disk") idx else {
        val dir = stage.resolve("idx").toString
        save(idx, dir)
        load(spark, dir)
      }
    val ((matches, perTrigger), buildSec) = Harness.clock {
      val src = tables.t(spark, sfDir, table)
      val matchesOf: DataFrame => DataFrame = kind match {
        case "semantic" =>
          // bands/bits = 0 -> corpus-aware defaults; passing them pins
          // the knobs across a ramp, isolating the pure equi-join
          // reference term from the recall-holding knob growth
          val idx = ref(EmbedStream.semanticRefIndex(src, id, payload,
            bands = bands, bitsPerBand = bits))(
            RefIndexSlices.saveSemantic(_, _), RefIndexSlices.loadSemantic)
          EmbedStream.semanticDupMatches(_, idx, id, payload,
            cos2Num = 4, cos2Den = 25)
        case "simhash" =>
          val idx = ref(SimHashStream.simhashRefIndex(src, id, payload,
            maxHamming = 3))(RefIndexSlices.saveSimHash(_, _), RefIndexSlices.loadSimHash)
          SimHashStream.simhashDupMatches(_, idx, id, payload)
        case _ =>
          // x50/x209's at-ingest family: shingle-MinHash banding
          // against a static reference index — knobs at the gate defaults
          val idx = ref(MinHashStream.minhashRefIndex(src, id, payload,
            n = 3, threshold = 0.7))(RefIndexSlices.saveMinHash(_, _), RefIndexSlices.loadMinHash)
          MinHashStream.minhashDupMatches(_, idx, id, payload)
      }
      // two identical copies of the probe, each coalesced to a known
      // file count so maxFilesPerTrigger cuts exactly two micro-batches
      val c0 = stage.resolve("c0").toString
      src.filter(pmod(col(id), lit(probeDiv)) === 0)
        .select((col(id) + 10000000L).as(id), col(payload))
        .repartition(4).write.mode("overwrite").parquet(c0)
      val files = new java.io.File(c0).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      val probeDir = stage.resolve("probe").toString
      new java.io.File(probeDir).mkdirs()
      for (c <- 0 to 1; (f, i) <- files.zipWithIndex)
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(probeDir, s"copy$c-$i.parquet"))
      val stream = spark.readStream.schema(spark.read.parquet(probeDir).schema)
        .option("maxFilesPerTrigger", files.length.toString).parquet(probeDir)
      (matchesOf(stream), files.length)
    }
    val q = matches.writeStream.outputMode("append").format("noop").start()
    q.processAllAvailable()
    val progresses = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    val triggers = progresses.map { p =>
      val state = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum)
        .getOrElse(0L)
      f"""{"batch_sec":${p.batchDuration / 1000.0}%.3f,"rows":${p.numInputRows},"state_rows":$state}"""
    }.mkString("[", ",", "]")
    println(f"""{"audit":"stream-ramp","kind":"$kind","sf":"$sfDir","ref":"$refMode","probe_div":$probeDiv,"bands":$bands,"bits":$bits,"build_sec":$buildSec%.2f,"files_per_trigger":$perTrigger,"triggers":$triggers}""")
  }
}
