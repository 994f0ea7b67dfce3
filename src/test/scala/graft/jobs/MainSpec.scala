package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.TestSpark

/** CLI dispatcher (#22): stage routing, required-arg errors, invalid
  * stage error — driven through Main.run with the shared session. */
class MainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeAssets(dir: String, deal: String): Unit = {
    val rows = Seq(
      "AL1,AL2,AL5,AL30",
      "Cut-off,Pool,Lease,Price",
      s"2023-07-31,P1,L1,10.50",
    ).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, s"${deal}_2023_07_31_Loan_Data.csv"),
      rows.getBytes(StandardCharsets.UTF_8))
  }

  test("bronze_asset + silver_asset stages route and run") {
    val raw = Files.createTempDirectory("mainraw").toString
    val lake = Files.createTempDirectory("mainlake").toString
    writeAssets(raw, "DEALM")
    Main.run(Map(
      "stage-name" -> "bronze_asset", "raw-dir" -> raw,
      "lake-root" -> lake, "ed-code" -> "DEALM",
      "ingestion-date" -> "2023-07-31"), spark)
    Main.run(Map("stage-name" -> "silver_asset", "lake-root" -> lake), spark)
    assert(spark.read.parquet(s"$lake/silver/assets/lease_info").count() == 1)
  }

  test("run_all stage routes to the fan-out runner") {
    val rawRoot = Files.createTempDirectory("mainrawall").toString
    val lake = Files.createTempDirectory("mainlakeall").toString
    writeAssets(s"$rawRoot/DEALN", "DEALN")
    Main.run(Map(
      "stage-name" -> "run_all", "raw-root" -> rawRoot,
      "lake-root" -> lake, "ingestion-date" -> "2023-07-31",
      "parallelism" -> "2"), spark)
    assert(spark.read.parquet(s"$lake/silver/assets/lease_info").count() == 1)
  }

  // ------------------------------------------------------ index stages
  private def stage(opts: Map[String, String]): Unit = Main.run(opts, spark)

  /** One row per index kind. `refA` builds the index, and `refB` is
    * appended to it, merged into it (`streaming` kinds, with
    * `--merge-into`) and rebuilt from. `knobs` go only to the stage
    * that creates the index: every later stage runs at the CLI
    * defaults, so it must serve the knobs frozen in the manifest. Each
    * `probes` option set is checked against `serve`: the library
    * composition `index_probe` stands for, over the dir the CLI wrote.
    * The first set is also checked against an answer from the corpus
    * alone: `oracle(all)` for an index built on `all`, and
    * `appendOracle(first, all)` for an index built on `first` that
    * holds `all` (None for ivfpq: no in-session operator takes frozen
    * centroids). */
  private case class KindCase(kind: String, streaming: Boolean,
      cols: Seq[String], refA: DataFrame, refB: DataFrame, probe: DataFrame,
      knobs: Map[String, String], probes: Seq[Map[String, String]],
      serve: (String, Map[String, String]) => DataFrame,
      oracle: DataFrame => DataFrame,
      appendOracle: Option[(DataFrame, DataFrame) => DataFrame])

  private lazy val kindCases: Seq[KindCase] = {
    import spark.implicits._
    import graft.ext.{AnnStore, Dedup, Similarity}
    import graft.streaming.{EmbedStream, MinHashStream, RefIndexSlices,
      SimHashStream}
    def vecs(ids: Seq[Long], mod: Int, step: Double, dim: Int,
             idBase: Long = 0L) =
      ids.map(i => (idBase + i, Array.tabulate(dim)(j =>
        math.cos((i % mod + 1) * (j + 2) * step)))).toDF("vec_id", "embedding")
    def docs(ids: Seq[Long]) = ids.map(i => (i,
      (0 until 24).map(j => s"w${(i % 3) * 7 + j}").mkString(" ")))
      .toDF("doc_id", "text")
    // a dedup kind trains nothing: an appended index answers as one
    // built on all it holds
    def dedup(kind: String, refA: DataFrame, refB: DataFrame,
              probe: DataFrame, knobs: Map[String, String],
              probes: Seq[Map[String, String]],
              serve: (String, Map[String, String]) => DataFrame,
              oracle: DataFrame => DataFrame) =
      KindCase(kind, streaming = true, Seq("id_a", "id_b"), refA, refB, probe,
        knobs, probes, serve, oracle,
        Some((_: DataFrame, all: DataFrame) => oracle(all)))
    val ranks = Seq("query_id", "rank", "corpus_id")
    val sem = vecs(0L until 20L, 5, 0.31, 8)
    val text = docs(0L until 12L)
    val ann = vecs(0L until 60L by 11, 7, 0.23, 16, idBase = 1000L)
    val annKnobs = Map("subspaces" -> "4", "ksub" -> "8", "dim" -> "16")
    def cb(corpus: DataFrame) =
      Similarity.pqCodebook(corpus, "vec_id", "embedding", 4, 8, 16)
    // x197's in-session pipeline at the first corpus's codebook
    val pqOracle = (first: DataFrame, all: DataFrame) =>
      Similarity.pqTopKRefined(ann, "vec_id", "embedding", all, "vec_id",
        "embedding", cb(first), k = 5, refine = 3)
    Seq(
      dedup("semantic", vecs(100L until 120L, 5, 0.31, 8),
        vecs(120L until 140L, 5, 0.31, 8), sem,
        Map("bands" -> "4", "bits" -> "4", "dim" -> "8"),
        Seq(Map("cos2-num" -> "4", "cos2-den" -> "25")),
        (dir, _) => EmbedStream.semanticDupMatches(sem,
          RefIndexSlices.loadSemantic(spark, dir),
          "vec_id", "embedding", cos2Num = 4, cos2Den = 25),
        all => Dedup.semanticDupPairsInt8Across(sem, all, "vec_id",
          "embedding", cos2Num = 4, cos2Den = 25, bands = 4,
          bitsPerBand = 4, dim = 8)),
      dedup("simhash", docs(100L until 115L), docs(115L until 130L), text,
        Map.empty, Seq(Map.empty),
        (dir, _) => SimHashStream.simhashDupMatches(text,
          RefIndexSlices.loadSimHash(spark, dir), "doc_id", "text"),
        all => Dedup.simhashPairsAcross(text, all, "doc_id", "text",
          maxHamming = 3)),
      dedup("minhash", docs(100L until 115L), docs(115L until 130L), text,
        Map.empty, Seq(Map.empty),
        (dir, _) => MinHashStream.minhashDupMatches(text,
          RefIndexSlices.loadMinHash(spark, dir), "doc_id", "text"),
        all => Dedup.minhashLshPairsAcross(text, all, "doc_id", "text",
          n = 3, threshold = 0.7)),
      KindCase("pq", streaming = false, ranks,
        vecs(0L until 30L, 7, 0.23, 16), vecs(30L until 60L, 7, 0.23, 16),
        ann, annKnobs, Seq(Map("k" -> "5", "refine" -> "3")),
        (dir, _) => AnnStore.pqServe(ann, "vec_id", "embedding",
          AnnStore.loadPq(spark, dir), k = 5, refine = 3),
        all => pqOracle(all, all), Some(pqOracle)),
      KindCase("ivfpq", streaming = false, ranks,
        vecs(0L until 30L, 7, 0.23, 16), vecs(30L until 60L, 7, 0.23, 16),
        ann, annKnobs ++ Map("ncentroids" -> "8", "rounds" -> "2"),
        Seq(Map("k" -> "5", "nprobe" -> "2")),
        { (dir, opts) =>
          val idx = AnnStore.loadIvfPq(spark, dir)
          opts.get("refine").fold(AnnStore.ivfPqServe(ann, "vec_id",
            "embedding", idx, k = 5, nProbe = 2))(r =>
            AnnStore.ivfPqServeRefined(ann, "vec_id", "embedding", idx,
              k = 5, nProbe = 2, refine = r.toInt))
        },
        // x181's in-session operator (deterministic Lloyd) at the knobs
        all => Similarity.ivfPqTopK(ann, "vec_id", "embedding", all,
          "vec_id", "embedding", cb(all), k = 5, nCentroids = 8, nProbe = 2,
          rounds = 2), None))
  }

  private def rowsOf(c: KindCase, df: DataFrame): Set[Row] =
    df.select(c.cols.map(col): _*).collect().toSet

  /** A temp dir holding the case's `ref_a`, `ref_b` and `probe`. */
  private def fixture(c: KindCase): String = {
    val base = Files.createTempDirectory(s"mainidx_${c.kind}").toString
    c.refA.write.parquet(s"$base/ref_a")
    c.refB.write.parquet(s"$base/ref_b")
    c.probe.write.parquet(s"$base/probe")
    base
  }

  /** Probe `dir` through the CLI with each of the case's option sets;
    * each output must equal the library composition. Returns the first
    * set's rows. */
  private def probeAll(c: KindCase, base: String, dir: String,
                       tag: String): Set[Row] =
    c.probes.zipWithIndex.map { case (p, n) =>
      val out = s"$base/out_${tag}_$n"
      stage(Map("stage-name" -> "index_probe", "kind" -> c.kind,
        "index-dir" -> dir, "probe" -> s"$base/probe", "out" -> out) ++ p)
      val got = rowsOf(c, spark.read.parquet(out))
      assert(got == rowsOf(c, c.serve(dir, p)) && got.nonEmpty,
        s"${c.kind} $tag probe $p != the library composition")
      got
    }.head

  private def kindCase(kind: String): KindCase =
    kindCases.find(_.kind == kind).get

  private def build(c: KindCase, base: String, source: String,
                    dir: String): Unit =
    stage(Map("stage-name" -> "index_build", "kind" -> c.kind,
      "source" -> s"$base/$source", "index-dir" -> dir) ++ c.knobs)

  private def append(c: KindCase, base: String, source: String,
                     dir: String, opts: Map[String, String] = Map.empty): Unit =
    stage(Map("stage-name" -> "index_append", "kind" -> c.kind,
      "source" -> s"$base/$source", "index-dir" -> dir) ++ opts)

  /** Compaction collapses the slices into one and moves no row. */
  private def compact(c: KindCase, base: String, dir: String,
                      before: Set[Row]): Unit = {
    stage(Map("stage-name" -> "index_compact", "index-dir" -> dir))
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 1)
    assert(probeAll(c, base, dir, "compacted") == before,
      s"${c.kind} compaction moved a row")
  }

  /** One kind's life: build → probe → append → probe; compact → probe;
    * build again over the dir → probe, equal to a fresh build's. A
    * streaming kind also merges `refB` into a second dir. */
  private def lifecycle(c: KindCase): Unit = {
    val base = fixture(c)
    val dir = s"$base/idx"
    build(c, base, "ref_a", dir)
    assert(probeAll(c, base, dir, "built") == rowsOf(c, c.oracle(c.refA)),
      s"${c.kind} build != oracle")
    if (c.streaming) {
      // the incremental merge publishes into a SECOND dir (the source
      // index stays as it was)
      stage(Map("stage-name" -> "index_build", "kind" -> c.kind,
        "source" -> s"$base/ref_b", "merge-into" -> dir,
        "index-dir" -> s"$base/idx2"))
      assert(probeAll(c, base, s"$base/idx2", "merged") ==
        rowsOf(c, c.oracle(c.refA.unionByName(c.refB))),
        s"${c.kind} merge != oracle")
    }
    append(c, base, "ref_b", dir)
    val appended = probeAll(c, base, dir, "appended")
    for (o <- c.appendOracle)
      assert(appended == rowsOf(c, o(c.refA, c.refA.unionByName(c.refB))),
        s"${c.kind} append != oracle")
    compact(c, base, dir, appended)
    build(c, base, "ref_b", dir)
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 1)
    build(c, base, "ref_b", s"$base/fresh")
    assert(probeAll(c, base, dir, "rebuilt") ==
      probeAll(c, base, s"$base/fresh", "fresh"),
      s"${c.kind} build over an index != a fresh build")
  }

  test("index_build + index_probe stages: nightly build, merge, probe") {
    lifecycle(kindCase("semantic"))
  }

  test("index_append + index_compact + sliced probe: nightly-append stages") {
    // a streaming kind's first append creates the index, with knobs
    // frozen from that stage
    val c = kindCase("semantic")
    val base = fixture(c)
    val dir = s"$base/idx"
    append(c, base, "ref_a", dir, c.knobs)
    append(c, base, "ref_b", dir)
    val appended = probeAll(c, base, dir, "appended")
    for (o <- c.appendOracle)
      assert(appended == rowsOf(c, o(c.refA, c.refA.unionByName(c.refB))),
        s"${c.kind} append != oracle")
    compact(c, base, dir, appended)
  }

  test("index stages: --kind simhash and minhash route through the same dirs") {
    for (k <- Seq("simhash", "minhash")) lifecycle(kindCase(k))
  }

  test("ANN lifecycle through the CLI: pq sliced build/append/compact/probe at exact rank parity") {
    lifecycle(kindCase("pq"))
  }

  test("ANN lifecycle through the CLI: ivfpq one-shot and sliced serve at exact rank parity") {
    val c = kindCase("ivfpq")
    lifecycle(c)
    // --payload true: a probe with --refine re-ranks over the payload
    lifecycle(c.copy(knobs = c.knobs + ("payload" -> "true"),
      probes = c.probes :+ (c.probes.head + ("refine" -> "2"))))
  }

  test("index stages: an unknown --kind or --layout is refused by name") {
    val base = fixture(kindCases.head)
    // every index stage names the same five kinds
    for (s <- Seq("index_build", "index_append", "index_probe")) {
      val e = intercept[RuntimeException](stage(Map("stage-name" -> s,
        "kind" -> "nope", "source" -> s"$base/ref_a",
        "index-dir" -> s"$base/idx", "probe" -> s"$base/probe",
        "out" -> s"$base/out_bad")))
      assert(e.getMessage == "invalid --kind nope; expected semantic, " +
        "simhash, minhash, pq or ivfpq", s"$s: ${e.getMessage}")
    }
  }

  test("index stages: layout mistakes and a misplaced --merge-into are named errors") {
    val c = kindCases.head
    val base = fixture(c)
    val dir = s"$base/idx"
    build(c, base, "ref_a", dir)
    def error(opts: (String, String)*): String =
      intercept[RuntimeException](stage(Map("source" -> s"$base/ref_b",
        "probe" -> s"$base/probe", "out" -> s"$base/out_bad") ++
        opts)).getMessage
    for (k <- Seq("pq", "ivfpq"))
      assert(error("stage-name" -> "index_build", "kind" -> k,
        "merge-into" -> dir, "index-dir" -> s"$base/idx_bad") ==
        s"--merge-into does not apply to --kind $k")
    // the kind on disk is named next to the one the stage expects
    for (s <- Seq("index_probe", "index_append"))
      assert(error("stage-name" -> s, "kind" -> "simhash",
        "index-dir" -> dir) == s"index at $dir is kind=semantic, not simhash", s)
    // an ANN append, a probe and a compaction need an index
    val empty = s"$base/empty"
    assert(error("stage-name" -> "index_append", "kind" -> "pq",
      "index-dir" -> empty) == s"no index at $empty")
    assert(error("stage-name" -> "index_probe", "index-dir" -> empty) ==
      s"no index at $empty")
    assert(error("stage-name" -> "index_compact", "index-dir" -> empty) ==
      s"no index at $empty")
  }

  test("index_build --layout sliced commits a streaming kind's source as its first slice") {
    // --layout is not an option any stage reads: a build ignores it
    for (c <- kindCases if c.streaming) {
      val base = fixture(c)
      val dir = s"$base/idx"
      stage(Map("stage-name" -> "index_build", "kind" -> c.kind,
        "layout" -> "sliced", "source" -> s"$base/ref_a",
        "index-dir" -> dir) ++ c.knobs)
      assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 1)
      assert(probeAll(c, base, dir, "built") == rowsOf(c, c.oracle(c.refA)),
        s"${c.kind} build != oracle")
    }
  }

  test("invalid stage and missing args error clearly") {
    val e1 = intercept[RuntimeException] {
      Main.run(Map("stage-name" -> "nope", "lake-root" -> "/tmp"), spark)
    }
    assert(e1.getMessage.contains("invalid stage"))
    val e2 = intercept[RuntimeException] {
      Main.run(Map("stage-name" -> "bronze_asset", "lake-root" -> "/tmp"), spark)
    }
    assert(e2.getMessage.contains("missing required --raw-dir"))
  }

  test("invalid stage message lists the 12 stages in CLI order") {
    val e = intercept[RuntimeException] {
      Main.run(Map("stage-name" -> "nope"), spark)
    }
    assert(e.getMessage == "invalid stage nope; expected one of " +
      "bronze_asset, bronze_bond_info, bronze_amortisation, " +
      "bronze_deal_details, silver_asset, silver_bond_info, " +
      "silver_deal_details, run_all, index_build, index_probe, " +
      "index_append, index_compact")
  }
}
