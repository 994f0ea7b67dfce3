package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
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

  test("index_build + index_probe stages: nightly build, merge, probe") {
    import spark.implicits._
    def mkVec(i: Long): Array[Double] =
      Array.tabulate(8)(j => math.cos((i % 5 + 1) * (j + 2) * 0.31))
    val base = Files.createTempDirectory("mainidx").toString
    (100L until 120L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$base/ref_a")
    (120L until 140L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$base/ref_b")
    (0L until 20L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$base/probe")
    // nightly build, then an incremental merge into a SECOND dir
    // (source index untouched — publish is whole-dir atomic)
    Main.run(Map("stage-name" -> "index_build",
      "source" -> s"$base/ref_a", "index-dir" -> s"$base/idx",
      "bands" -> "4", "bits" -> "4", "dim" -> "8"), spark)
    Main.run(Map("stage-name" -> "index_build",
      "source" -> s"$base/ref_b", "merge-into" -> s"$base/idx",
      "index-dir" -> s"$base/idx2"), spark)
    Main.run(Map("stage-name" -> "index_probe",
      "index-dir" -> s"$base/idx2", "probe" -> s"$base/probe",
      "cos2-num" -> "4", "cos2-den" -> "25", "out" -> s"$base/matches"),
      spark)
    val got = spark.read.parquet(s"$base/matches")
      .as[(Long, Long)].collect().toSet
    // oracle: the batch cross operator over the merged reference
    val want = graft.ext.Dedup.semanticDupPairsInt8Across(
        (0L until 20L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
        (100L until 140L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cos2Num = 4, cos2Den = 25,
        bands = 4, bitsPerBand = 4, dim = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("index stages: --kind simhash and minhash route through the same dirs") {
    import spark.implicits._
    def doc(i: Long) = (0 until 24).map(j => s"w${(i % 3) * 7 + j}").mkString(" ")
    val base = Files.createTempDirectory("mainidxsig").toString
    (100L until 130L).map(i => (i, doc(i))).toDF("doc_id", "text")
      .write.parquet(s"$base/ref")
    (0L until 12L).map(i => (i, doc(i))).toDF("doc_id", "text")
      .write.parquet(s"$base/probe")
    val refDf = (100L until 130L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val probeDf = (0L until 12L).map(i => (i, doc(i))).toDF("doc_id", "text")
    for (kind <- Seq("simhash", "minhash")) {
      Main.run(Map("stage-name" -> "index_build", "kind" -> kind,
        "source" -> s"$base/ref", "index-dir" -> s"$base/idx_$kind"), spark)
      Main.run(Map("stage-name" -> "index_probe", "kind" -> kind,
        "index-dir" -> s"$base/idx_$kind", "probe" -> s"$base/probe",
        "out" -> s"$base/out_$kind"), spark)
      val got = spark.read.parquet(s"$base/out_$kind")
        .as[(Long, Long)].collect().toSet
      // exact oracle: the batch cross operator at the CLI defaults,
      // mirroring the semantic case (the x208/x209 stream==batch
      // parity makes this the same pair set by construction)
      val want = (kind match {
        case "simhash" => graft.ext.Dedup.simhashPairsAcross(
          probeDf, refDf, "doc_id", "text", maxHamming = 3)
        case _ => graft.ext.Dedup.minhashLshPairsAcross(
          probeDf, refDf, "doc_id", "text", n = 3, threshold = 0.7)
      }).select($"id_a", $"id_b").distinct()
        .as[(Long, Long)].collect().toSet
      assert(got == want && got.nonEmpty,
        s"$kind probe stage != batch cross oracle")
    }
    // an unknown kind string is refused loudly, and every index stage
    // names the same five kinds
    for (stage <- Seq("index_build", "index_append", "index_probe")) {
      val e = intercept[RuntimeException](Main.run(
        Map("stage-name" -> stage, "kind" -> "nope",
          "source" -> s"$base/ref", "index-dir" -> s"$base/idx_simhash",
          "probe" -> s"$base/probe", "out" -> s"$base/out_bad"), spark))
      assert(e.getMessage == "invalid --kind nope; expected semantic, " +
        "simhash, minhash, pq or ivfpq", s"$stage: ${e.getMessage}")
    }
  }

  test("index_append + index_compact + sliced probe: nightly-append stages") {
    import spark.implicits._
    def mkVec(i: Long): Array[Double] =
      Array.tabulate(8)(j => math.cos((i % 5 + 1) * (j + 2) * 0.31))
    val base = Files.createTempDirectory("mainslices").toString
    (100L until 120L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$base/ref_a")
    (120L until 140L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$base/ref_b")
    (0L until 20L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$base/probe")
    // two nightly appends (knobs freeze at the first), sliced probe
    Main.run(Map("stage-name" -> "index_append",
      "source" -> s"$base/ref_a", "index-dir" -> s"$base/idx",
      "bands" -> "4", "bits" -> "4", "dim" -> "8"), spark)
    Main.run(Map("stage-name" -> "index_append",
      "source" -> s"$base/ref_b", "index-dir" -> s"$base/idx"), spark)
    def probeTo(out: String): Set[(Long, Long)] = {
      Main.run(Map("stage-name" -> "index_probe", "layout" -> "sliced",
        "index-dir" -> s"$base/idx", "probe" -> s"$base/probe",
        "cos2-num" -> "4", "cos2-den" -> "25", "out" -> out), spark)
      spark.read.parquet(out).as[(Long, Long)].collect().toSet
    }
    val got = probeTo(s"$base/matches")
    val want = graft.ext.Dedup.semanticDupPairsInt8Across(
        (0L until 20L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
        (100L until 140L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cos2Num = 4, cos2Den = 25,
        bands = 4, bitsPerBand = 4, dim = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // compaction collapses the slices and changes no pair
    Main.run(Map("stage-name" -> "index_compact",
      "index-dir" -> s"$base/idx"), spark)
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, s"$base/idx") == 1)
    assert(probeTo(s"$base/matches2") == want)
    // a bad layout string is refused loudly
    val e = intercept[RuntimeException](Main.run(
      Map("stage-name" -> "index_probe", "layout" -> "nope",
        "index-dir" -> s"$base/idx", "probe" -> s"$base/probe",
        "out" -> s"$base/bad"), spark))
    assert(e.getMessage.contains("invalid --layout"))
  }

  test("ANN lifecycle through the CLI: pq sliced build/append/compact/probe at exact rank parity") {
    import spark.implicits._
    def mkVec(i: Long): Array[Double] =
      Array.tabulate(16)(j => math.cos((i % 7 + 1) * (j + 2) * 0.23))
    val base = Files.createTempDirectory("mainann").toString
    val refA = (0L until 30L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val refB = (30L until 60L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val probeDf = (0L until 60L by 11).map(i => (1000L + i, mkVec(i)))
      .toDF("vec_id", "embedding")
    refA.write.parquet(s"$base/ref_a")
    refB.write.parquet(s"$base/ref_b")
    probeDf.write.parquet(s"$base/probe")
    val knobs = Map("subspaces" -> "4", "ksub" -> "8", "dim" -> "16")
    // nightly lifecycle: sliced build (codebook freezes on the first
    // source), a second append, serve, compact, serve again
    Main.run(Map("stage-name" -> "index_build", "kind" -> "pq",
      "layout" -> "sliced", "source" -> s"$base/ref_a",
      "index-dir" -> s"$base/pq") ++ knobs, spark)
    Main.run(Map("stage-name" -> "index_append", "kind" -> "pq",
      "source" -> s"$base/ref_b", "index-dir" -> s"$base/pq"), spark)
    def ranksOf(out: String, extra: Map[String, String]): Set[(Long, Long, Long)] = {
      Main.run(Map("stage-name" -> "index_probe", "layout" -> "sliced",
        "index-dir" -> s"$base/pq", "probe" -> s"$base/probe",
        "out" -> out, "k" -> "5") ++ extra, spark)
      spark.read.parquet(out).select($"query_id", $"rank", $"corpus_id")
        .as[(Long, Long, Long)].collect().toSet
    }
    // exact oracle: x197's in-session pipeline at the frozen (first-
    // source) codebook over the full appended corpus
    val cbA = graft.ext.Similarity.pqCodebook(refA, "vec_id", "embedding",
      subspaces = 4, ksub = 8, dim = 16)
    val want = graft.ext.Similarity.pqTopKRefined(probeDf, "vec_id",
        "embedding", refA.unionByName(refB), "vec_id", "embedding", cbA,
        k = 5, refine = 3)
      .select($"query_id", $"rank", $"corpus_id")
      .as[(Long, Long, Long)].collect().toSet
    val got = ranksOf(s"$base/pq_out", Map("kind" -> "pq", "refine" -> "3"))
    assert(got == want && got.nonEmpty)
    // index_compact dispatches on the stored kind (pq_sliced) and
    // must not move a rank
    Main.run(Map("stage-name" -> "index_compact",
      "index-dir" -> s"$base/pq"), spark)
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, s"$base/pq") == 1)
    assert(ranksOf(s"$base/pq_out2",
      Map("kind" -> "pq", "refine" -> "3")) == want)
  }

  test("ANN lifecycle through the CLI: ivfpq one-shot and sliced serve at exact rank parity") {
    import spark.implicits._
    def mkVec(i: Long): Array[Double] =
      Array.tabulate(16)(j => math.cos((i % 7 + 1) * (j + 2) * 0.23))
    val base = Files.createTempDirectory("mainannivf").toString
    val union = (0L until 60L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val probeDf = (0L until 60L by 11).map(i => (1000L + i, mkVec(i)))
      .toDF("vec_id", "embedding")
    union.write.parquet(s"$base/ref")
    probeDf.write.parquet(s"$base/probe")
    val knobs = Map("subspaces" -> "4", "ksub" -> "8", "dim" -> "16",
      "ncentroids" -> "8", "rounds" -> "2")
    // exact oracle: x181's in-session operator (deterministic Lloyd)
    // at the same knobs over the same corpus
    val cb = graft.ext.Similarity.pqCodebook(union, "vec_id", "embedding",
      subspaces = 4, ksub = 8, dim = 16)
    val want = graft.ext.Similarity.ivfPqTopK(probeDf, "vec_id", "embedding",
        union, "vec_id", "embedding", cb, k = 5, nCentroids = 8,
        nProbe = 2, rounds = 2)
      .select($"query_id", $"rank", $"corpus_id")
      .as[(Long, Long, Long)].collect().toSet
    def cliServe(dir: String, out: String, layout: Map[String, String]) = {
      Main.run(Map("stage-name" -> "index_probe", "kind" -> "ivfpq",
        "index-dir" -> dir, "probe" -> s"$base/probe", "out" -> out,
        "k" -> "5", "nprobe" -> "2") ++ layout, spark)
      spark.read.parquet(out).select($"query_id", $"rank", $"corpus_id")
        .as[(Long, Long, Long)].collect().toSet
    }
    // one-shot layout
    Main.run(Map("stage-name" -> "index_build", "kind" -> "ivfpq",
      "source" -> s"$base/ref", "index-dir" -> s"$base/flat") ++ knobs, spark)
    assert(cliServe(s"$base/flat", s"$base/flat_out", Map.empty) == want
      && want.nonEmpty)
    // sliced layout: same artifacts (trained on the one source),
    // served through the slice union — and compact keeps the ranks
    Main.run(Map("stage-name" -> "index_build", "kind" -> "ivfpq",
      "layout" -> "sliced", "source" -> s"$base/ref",
      "index-dir" -> s"$base/sliced") ++ knobs, spark)
    assert(cliServe(s"$base/sliced", s"$base/sliced_out",
      Map("layout" -> "sliced")) == want)
    Main.run(Map("stage-name" -> "index_compact",
      "index-dir" -> s"$base/sliced"), spark)
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, s"$base/sliced") == 1)
    assert(cliServe(s"$base/sliced", s"$base/sliced_out2",
      Map("layout" -> "sliced")) == want)
    // --payload true build + --refine probe routes the refined serve
    // (library-level parity vs the loaded index; the refined chain's
    // independent oracle lives in AnnStoreSpec)
    Main.run(Map("stage-name" -> "index_build", "kind" -> "ivfpq",
      "payload" -> "true", "source" -> s"$base/ref",
      "index-dir" -> s"$base/flatp") ++ knobs, spark)
    val gotRefined = cliServe(s"$base/flatp", s"$base/ref_out",
      Map("refine" -> "2"))
    val wantRefined = graft.ext.AnnStore.ivfPqServeRefined(probeDf,
        "vec_id", "embedding",
        graft.ext.AnnStore.loadIvfPq(spark, s"$base/flatp"),
        k = 5, nProbe = 2, refine = 2)
      .select($"query_id", $"rank", $"corpus_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(gotRefined == wantRefined && gotRefined.nonEmpty)
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
