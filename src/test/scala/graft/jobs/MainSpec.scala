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

  /** One row per index kind. `refA` builds the index or its first
    * slice, and `refB` is merged into it (`streaming` kinds) or
    * appended to it. `knobs` go only to the stage that creates the
    * index (a store build or the first slice): every later stage runs
    * at the CLI defaults, so it must serve the knobs frozen in `meta/`.
    * Each `probes` option set is checked against `serve`: the library
    * composition `index_probe` stands for, over the dir the CLI wrote.
    * The first set is also checked against an answer from the corpus
    * alone: `oracle(all)` for an index built on `all`, and
    * `appendOracle(first, all)` for a sliced index first built on
    * `first` that holds `all` (None for ivfpq: no in-session operator
    * takes frozen centroids). */
  private case class KindCase(kind: String, streaming: Boolean,
      cols: Seq[String], refA: DataFrame, refB: DataFrame, probe: DataFrame,
      knobs: Map[String, String], probes: Seq[Map[String, String]],
      serve: (String, Boolean, Map[String, String]) => DataFrame,
      oracle: DataFrame => DataFrame,
      appendOracle: Option[(DataFrame, DataFrame) => DataFrame])

  private lazy val kindCases: Seq[KindCase] = {
    import spark.implicits._
    import graft.ext.{AnnStore, Dedup, Similarity}
    import graft.streaming.{EmbedStream, MinHashStream, RefIndexSlices,
      RefIndexStore, SimHashStream}
    def vecs(ids: Seq[Long], mod: Int, step: Double, dim: Int,
             idBase: Long = 0L) =
      ids.map(i => (idBase + i, Array.tabulate(dim)(j =>
        math.cos((i % mod + 1) * (j + 2) * step)))).toDF("vec_id", "embedding")
    def docs(ids: Seq[Long]) = ids.map(i => (i,
      (0 until 24).map(j => s"w${(i % 3) * 7 + j}").mkString(" ")))
      .toDF("doc_id", "text")
    // a dedup kind trains nothing: a sliced index answers as one built
    // on all it holds
    def dedup(kind: String, refA: DataFrame, refB: DataFrame,
              probe: DataFrame, knobs: Map[String, String],
              probes: Seq[Map[String, String]],
              serve: (String, Boolean, Map[String, String]) => DataFrame,
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
        (dir, sliced, _) => EmbedStream.semanticDupMatches(sem,
          if (sliced) RefIndexSlices.loadSemantic(spark, dir)
          else RefIndexStore.loadSemantic(spark, dir),
          "vec_id", "embedding", cos2Num = 4, cos2Den = 25),
        all => Dedup.semanticDupPairsInt8Across(sem, all, "vec_id",
          "embedding", cos2Num = 4, cos2Den = 25, bands = 4,
          bitsPerBand = 4, dim = 8)),
      dedup("simhash", docs(100L until 115L), docs(115L until 130L), text,
        Map.empty, Seq(Map.empty),
        (dir, sliced, _) => SimHashStream.simhashDupMatches(text,
          if (sliced) RefIndexSlices.loadSimHash(spark, dir)
          else RefIndexStore.loadSimHash(spark, dir), "doc_id", "text"),
        all => Dedup.simhashPairsAcross(text, all, "doc_id", "text",
          maxHamming = 3)),
      dedup("minhash", docs(100L until 115L), docs(115L until 130L), text,
        Map.empty, Seq(Map.empty),
        (dir, sliced, _) => MinHashStream.minhashDupMatches(text,
          if (sliced) RefIndexSlices.loadMinHash(spark, dir)
          else RefIndexStore.loadMinHash(spark, dir), "doc_id", "text"),
        all => Dedup.minhashLshPairsAcross(text, all, "doc_id", "text",
          n = 3, threshold = 0.7)),
      KindCase("pq", streaming = false, ranks,
        vecs(0L until 30L, 7, 0.23, 16), vecs(30L until 60L, 7, 0.23, 16),
        ann, annKnobs, Seq(Map("k" -> "5", "refine" -> "3")),
        (dir, sliced, _) => AnnStore.pqServe(ann, "vec_id", "embedding",
          if (sliced) AnnStore.loadPqSliced(spark, dir)
          else AnnStore.loadPq(spark, dir), k = 5, refine = 3),
        all => pqOracle(all, all), Some(pqOracle)),
      KindCase("ivfpq", streaming = false, ranks,
        vecs(0L until 30L, 7, 0.23, 16), vecs(30L until 60L, 7, 0.23, 16),
        ann, annKnobs ++ Map("ncentroids" -> "8", "rounds" -> "2"),
        Seq(Map("k" -> "5", "nprobe" -> "2")),
        { (dir, sliced, opts) =>
          val idx = if (sliced) AnnStore.loadIvfPqSliced(spark, dir)
            else AnnStore.loadIvfPq(spark, dir)
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
                       sliced: Boolean, tag: String): Set[Row] =
    c.probes.zipWithIndex.map { case (p, n) =>
      val out = s"$base/out_${tag}_$n"
      stage(Map("stage-name" -> "index_probe", "kind" -> c.kind,
        "index-dir" -> dir, "probe" -> s"$base/probe", "out" -> out) ++
        (if (sliced) Map("layout" -> "sliced") else Map.empty) ++ p)
      val got = rowsOf(c, spark.read.parquet(out))
      assert(got == rowsOf(c, c.serve(dir, sliced, p)) && got.nonEmpty,
        s"${c.kind} $tag probe $p != the library composition")
      got
    }.head

  private def kindCase(kind: String): KindCase =
    kindCases.find(_.kind == kind).get

  private def compact(dir: String): Unit = {
    stage(Map("stage-name" -> "index_compact", "index-dir" -> dir))
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 1)
  }

  /** Store layout: a nightly build, probed; a streaming kind then
    * merges `refB` into a second dir, probed again. */
  private def storeLifecycle(c: KindCase): Unit = {
    val base = fixture(c)
    stage(Map("stage-name" -> "index_build", "kind" -> c.kind,
      "source" -> s"$base/ref_a", "index-dir" -> s"$base/idx") ++ c.knobs)
    assert(probeAll(c, base, s"$base/idx", sliced = false, "built") ==
      rowsOf(c, c.oracle(c.refA)), s"${c.kind} build != oracle")
    if (c.streaming) {
      // the incremental merge publishes into a SECOND dir (the source
      // index stays as it was: publish is whole-dir atomic)
      stage(Map("stage-name" -> "index_build", "kind" -> c.kind,
        "source" -> s"$base/ref_b", "merge-into" -> s"$base/idx",
        "index-dir" -> s"$base/idx2"))
      assert(probeAll(c, base, s"$base/idx2", sliced = false, "merged") ==
        rowsOf(c, c.oracle(c.refA.unionByName(c.refB))),
        s"${c.kind} merge != oracle")
    }
  }

  /** Sliced layout: a first slice and an append, probed; compaction
    * to one slice, probed again. */
  private def slicedLifecycle(c: KindCase): Unit = {
    val base = fixture(c)
    val dir = s"$base/idx"
    // the first slice: a streaming kind's knobs freeze at its first
    // append; an ANN kind's sliced build freezes its codebook (and
    // centroids) on the first source
    stage(Map("stage-name" -> (if (c.streaming) "index_append"
      else "index_build"), "kind" -> c.kind, "layout" -> "sliced",
      "source" -> s"$base/ref_a", "index-dir" -> dir) ++ c.knobs)
    stage(Map("stage-name" -> "index_append", "kind" -> c.kind,
      "source" -> s"$base/ref_b", "index-dir" -> dir))
    val appended = probeAll(c, base, dir, sliced = true, "appended")
    for (o <- c.appendOracle)
      assert(appended == rowsOf(c, o(c.refA, c.refA.unionByName(c.refB))),
        s"${c.kind} sliced != oracle")
    // compaction collapses the slices and moves no row
    compact(dir)
    assert(probeAll(c, base, dir, sliced = true, "compacted") == appended,
      s"${c.kind} compaction moved a row")
  }

  /** A sliced build alone holds just the corpus it was built on, so it
    * answers as a store build does, before and after compaction. */
  private def slicedBuild(c: KindCase): Unit = {
    val base = fixture(c)
    val dir = s"$base/idx"
    stage(Map("stage-name" -> "index_build", "kind" -> c.kind,
      "layout" -> "sliced", "source" -> s"$base/ref_a",
      "index-dir" -> dir) ++ c.knobs)
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 1)
    val want = rowsOf(c, c.oracle(c.refA))
    assert(probeAll(c, base, dir, sliced = true, "built") == want,
      s"${c.kind} sliced build != oracle")
    compact(dir)
    assert(probeAll(c, base, dir, sliced = true, "compacted") == want,
      s"${c.kind} compaction moved a row")
  }

  test("index_build + index_probe stages: nightly build, merge, probe") {
    storeLifecycle(kindCase("semantic"))
  }

  test("index_append + index_compact + sliced probe: nightly-append stages") {
    slicedLifecycle(kindCase("semantic"))
  }

  test("index stages: --kind simhash and minhash route through the same dirs") {
    for (k <- Seq("simhash", "minhash")) {
      storeLifecycle(kindCase(k))
      slicedLifecycle(kindCase(k))
    }
  }

  test("ANN lifecycle through the CLI: pq sliced build/append/compact/probe at exact rank parity") {
    storeLifecycle(kindCase("pq"))
    slicedLifecycle(kindCase("pq"))
  }

  test("ANN lifecycle through the CLI: ivfpq one-shot and sliced serve at exact rank parity") {
    val c = kindCase("ivfpq")
    storeLifecycle(c)
    slicedBuild(c)
    // --payload true: a probe with --refine re-ranks over the payload
    val paid = c.copy(knobs = c.knobs + ("payload" -> "true"),
      probes = c.probes :+ (c.probes.head + ("refine" -> "2")))
    storeLifecycle(paid)
    slicedLifecycle(paid)
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
    val e = intercept[RuntimeException](stage(Map(
      "stage-name" -> "index_probe", "layout" -> "nope",
      "index-dir" -> s"$base/idx", "probe" -> s"$base/probe",
      "out" -> s"$base/out_bad")))
    assert(e.getMessage == "invalid --layout nope; expected store or sliced")
  }

  test("index stages: layout mistakes and a misplaced --merge-into are named errors") {
    val c = kindCases.head
    val base = fixture(c)
    val (store, sliced) = (s"$base/idx", s"$base/idx_sliced")
    for ((s, dir) <- Seq("index_build" -> store, "index_append" -> sliced))
      stage(Map("stage-name" -> s, "source" -> s"$base/ref_a",
        "index-dir" -> dir) ++ c.knobs)
    def error(opts: (String, String)*): String =
      intercept[RuntimeException](stage(Map("source" -> s"$base/ref_b",
        "probe" -> s"$base/probe", "out" -> s"$base/out_bad") ++
        opts)).getMessage
    assert(error("stage-name" -> "index_build", "layout" -> "nope",
      "index-dir" -> s"$base/idx_bad") ==
      "invalid --layout nope; expected store or sliced")
    assert(error("stage-name" -> "index_build", "kind" -> "pq",
      "merge-into" -> store, "index-dir" -> s"$base/idx_bad") ==
      "--merge-into does not apply to --kind pq")
    assert(error("stage-name" -> "index_build", "layout" -> "sliced",
      "merge-into" -> store, "index-dir" -> s"$base/idx_bad") ==
      "--merge-into does not apply to --layout sliced")
    // the layout on disk is named next to the one the stage expects
    def mismatch(dir: String, found: String, wanted: String) =
      s"index at $dir has the $found layout, not the $wanted layout"
    assert(error("stage-name" -> "index_probe", "index-dir" -> sliced) ==
      mismatch(sliced, "sliced", "store"))
    assert(error("stage-name" -> "index_probe", "layout" -> "sliced",
      "index-dir" -> store) == mismatch(store, "store", "sliced"))
    for (s <- Seq("index_append", "index_compact"))
      assert(error("stage-name" -> s, "index-dir" -> store) ==
        mismatch(store, "store", "sliced"), s)
    assert(error("stage-name" -> "index_build", "layout" -> "sliced",
      "index-dir" -> store) == mismatch(store, "store", "sliced"))
    // a sliced build starts an index; the one read names what is there
    assert(error("stage-name" -> "index_build", "layout" -> "sliced",
      "index-dir" -> sliced) ==
      s"sliced semantic index already exists at $sliced")
    assert(error("stage-name" -> "index_probe", "kind" -> "simhash",
      "index-dir" -> store) == s"index at $store is kind=semantic, not simhash")
  }

  test("index_build --layout sliced commits a streaming kind's source as its first slice") {
    for (c <- kindCases if c.streaming) slicedBuild(c)
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
