package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Persistence parity for the PQ serving index: a loaded index must
  * serve every panel exactly like the in-session pipeline it encodes
  * (codes, codebook and payload all survive byte-exactly), appends and
  * compactions must move no rank, and a save replaces the index in one
  * manifest commit. */
class AnnStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkVec(i: Long): Array[Double] =
    Array.tabulate(16)(j => math.cos((i % 7 + 1) * (j + 2) * 0.23))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  test("pq index: build/save/load round-trip; served ranking == in-session") {
    val corpus = (0L until 60L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val queries = (0L until 60L by 7).map(i => (1000L + i, mkVec(i)))
      .toDF("vec_id", "embedding")
    val idx = AnnStore.buildPq(corpus, "vec_id", "embedding",
      subspaces = 4, ksub = 8, dim = 16)
    val dir = tmp("annstore")
    AnnStore.savePq(idx, dir)
    val loaded = AnnStore.loadPq(spark, dir)
    assert(loaded.codebook == idx.codebook) // integer entries, order and all
    assert(loaded.codes.as[(Long, Seq[Int])].collect().toSet ==
      idx.codes.as[(Long, Seq[Int])].collect().toSet)
    def ranking(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"corpus_id")
        .as[(Long, Long, Long)].collect().toSet
    // served-from-disk == the one-call in-session pipeline
    val inSession = ranking(Similarity.pqTopKRefined(queries, "vec_id",
      "embedding", corpus, "vec_id", "embedding", idx.codebook,
      k = 5, refine = 3))
    val fromDisk = ranking(AnnStore.pqServe(queries, "vec_id", "embedding",
      loaded, k = 5, refine = 3))
    assert(fromDisk == inSession && fromDisk.nonEmpty)
  }

  test("served payload scan is pruned: read rows scale with candidates, not corpus") {
    // 600-row corpus, sorted payload at save time, 2-query panel with
    // k·refine = 6 candidates each (≤ 12 distinct ids): the refine
    // stage must push the candidate ids into the payload scan so
    // row-group stats prune it — the scan's output rows must be far
    // below the corpus size (a corpus-sized stream here is the
    // inverted-PQ-economics defect this gate keeps extinct)
    val n = 600L
    val corpus = (0L until n).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .repartition(8)
    val dir = tmp("annstore_prune")
    // tiny parquet row groups for the fixture: at production scale the
    // 128 MB default gives each file many prunable groups; 600 rows
    // would land in ONE group and hide the pruning this test asserts
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 4096)
    try {
      AnnStore.savePq(AnnStore.buildPq(corpus, "vec_id", "embedding",
        subspaces = 4, ksub = 8, dim = 16), dir)
    } finally {
      if (oldBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", oldBlock)
    }
    val loaded = AnnStore.loadPq(spark, dir)
    // mkVec repeats with period 7, and ADC ties break to the SMALLER
    // corpus id — so each query's k·refine candidates are the lowest
    // ids of its residue class, clustered in the first sorted row
    // group(s) by construction
    val queries = Seq((9001L, mkVec(3)), (9002L, mkVec(5)))
      .toDF("vec_id", "embedding")
    val served = AnnStore.pqServe(queries, "vec_id", "embedding", loaded,
      k = 3, refine = 2)
    served.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }) ++ p.subqueries.flatMap(scans)
    val payloadScans = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("payload")))
    assert(payloadScans.nonEmpty, "no payload scan found in the served plan")
    // the candidate-id predicate reached the parquet scan…
    assert(payloadScans.exists(_.metadata.get("PushedFilters")
        .exists(f => f.contains("In(corpus_id") || f.contains("corpus_id"))),
      s"no pushed corpus_id filter: ${payloadScans.map(_.metadata.get("PushedFilters"))}")
    // …and actually pruned: rows read ≪ corpus (sorted row groups)
    val rows = payloadScans.map(_.metrics("numOutputRows").value).sum
    assert(rows < n / 2,
      s"payload scan read $rows of $n rows — candidate pruning did not engage")
    // and the pruned serving path still ranks exactly like in-session
    val inSession = Similarity.pqTopKRefined(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", loaded.codebook, k = 3, refine = 2)
      .select($"query_id", $"rank", $"corpus_id")
      .as[(Long, Long, Long)].collect().toSet
    val got = served.select($"query_id", $"rank", $"corpus_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == inSession && got.nonEmpty)
  }

  test("sliced pq: frozen-codebook appends == one-shot build; serve parity") {
    val b = (30L until 60L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val union = (0L until 60L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    // codebook frozen at the save (trained wherever the caller likes —
    // here the union, matching the one-shot build it must equal); the
    // save holds ids below 30, and `b` is appended
    val full = AnnStore.buildPq(union, "vec_id", "embedding",
      subspaces = 4, ksub = 8, dim = 16)
    val cb = full.codebook
    val dir = tmp("annstore_sliced")
    AnnStore.savePq(full.copy(codes = full.codes.filter($"corpus_id" < 30L),
      payload = full.payload.filter($"corpus_id" < 30L)), dir)
    AnnStore.appendPq(b, dir, "vec_id", "embedding")
    val loaded = AnnStore.loadPq(spark, dir)
    assert(loaded.codebook == cb)
    // encoding is per-row, so slice-wise appends must be bit-identical
    // to one encode over the union
    assert(loaded.codes.as[(Long, Seq[Int])].collect().toSet ==
      Similarity.pqEncode(union, "vec_id", "embedding", cb)
        .select($"vec_id".as("corpus_id"), $"codes")
        .as[(Long, Seq[Int])].collect().toSet)
    // served ranking == the in-session pipeline at the same codebook
    val queries = (0L until 60L by 11).map(i => (1000L + i, mkVec(i)))
      .toDF("vec_id", "embedding")
    def ranking(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"corpus_id")
        .as[(Long, Long, Long)].collect().toSet
    val got = ranking(AnnStore.pqServe(queries, "vec_id", "embedding",
      loaded, k = 5, refine = 3))
    val want = ranking(Similarity.pqTopKRefined(queries, "vec_id",
      "embedding", union, "vec_id", "embedding", cb, k = 5, refine = 3))
    assert(got == want && got.nonEmpty)
  }

  test("ivfpq index: round-trip; served == in-session; partition pruning engages") {
    // 400 rows over 7 distinct embeddings (mkVec period 7) and 8
    // coarse centroids: every cluster holds ~n/7 rows, so a 2-probe
    // query must read well under half the codes if directory pruning
    // works — and exactly all of them if it doesn't
    val n = 400L
    val corpus = (0L until n).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .repartition(8)
    val idx = AnnStore.buildIvfPq(corpus, "vec_id", "embedding",
      subspaces = 4, ksub = 8, dim = 16, nCentroids = 8, rounds = 2)
    val dir = tmp("annstore_ivfpq")
    AnnStore.saveIvfPq(idx, dir)
    val loaded = AnnStore.loadIvfPq(spark, dir)
    assert(loaded.codebook == idx.codebook)
    assert(loaded.cents.as[(Long, Seq[Long])].collect().toSet ==
      idx.cents.as[(Long, Seq[Long])].collect().toSet)
    val queries = Seq((9001L, mkVec(3)), (9002L, mkVec(5)))
      .toDF("vec_id", "embedding")
    val served = AnnStore.ivfPqServe(queries, "vec_id", "embedding",
      loaded, k = 5, nProbe = 2)
    def ranking(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"corpus_id", $"adc_d2")
        .as[(Long, Long, Long, Long)].collect().toSet
    val got = ranking(served)
    // lloydLoop is deterministic (smallest-id seeds, integer means),
    // so the in-session operator retrained on the same corpus + knobs
    // is the exact oracle
    val want = ranking(Similarity.ivfPqTopK(queries, "vec_id", "embedding",
      corpus, "vec_id", "embedding", idx.codebook, k = 5,
      nCentroids = 8, nProbe = 2, rounds = 2))
    assert(got == want && got.nonEmpty)
    // the probed-cluster predicate pruned the partitioned codes read
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }) ++ p.subqueries.flatMap(scans)
    val codeScans = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("codes")))
    assert(codeScans.nonEmpty, "no codes scan found in the served plan")
    val rows = codeScans.map(_.metrics("numOutputRows").value).sum
    assert(rows < n / 2,
      s"codes scan read $rows of $n rows — cluster partition pruning did not engage")
  }

  test("sliced ivfpq: frozen centroids+codebook appends == one-shot build; compact keeps ranks and pruning") {
    val n = 400L
    val union = (0L until n).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .repartition(8)
    val b = union.filter($"vec_id" >= 200L)
    // centroids + codebook frozen at the save — trained here on the
    // union so the one-shot build is the exact oracle (production
    // trains on the seed corpus under the retune-audit discipline);
    // the save holds ids below 200, and `b` is appended
    val idx = AnnStore.buildIvfPq(union, "vec_id", "embedding",
      subspaces = 4, ksub = 8, dim = 16, nCentroids = 8, rounds = 2)
    val dir = tmp("annstore_ivfpq_sliced")
    AnnStore.saveIvfPq(idx.copy(codes = idx.codes.filter($"_cid" < 200L)), dir)
    AnnStore.appendIvfPq(b, dir, "vec_id", "embedding")
    val loaded = AnnStore.loadIvfPq(spark, dir)
    assert(loaded.codebook == idx.codebook)
    // assignment + encoding are per-row for frozen artifacts, so
    // slice-wise appends must be bit-identical to the one-shot build
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"cluster".cast("long"), $"_cid", $"codes")
        .as[(Long, Long, Seq[Int])].collect().toSet
    assert(codeSet(loaded.codes) == codeSet(idx.codes))
    val queries = Seq((9001L, mkVec(3)), (9002L, mkVec(5)))
      .toDF("vec_id", "embedding")
    def ranking(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"corpus_id", $"adc_d2")
        .as[(Long, Long, Long, Long)].collect().toSet
    val want = ranking(Similarity.ivfPqTopK(queries, "vec_id", "embedding",
      union, "vec_id", "embedding", idx.codebook, k = 5,
      nCentroids = 8, nProbe = 2, rounds = 2))
    assert(ranking(AnnStore.ivfPqServe(queries, "vec_id", "embedding",
      loaded, k = 5, nProbe = 2)) == want && want.nonEmpty)
    // compaction: one slice, not a rank moved, pruning layout kept
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 2)
    AnnStore.compactIvfPq(spark, dir, graceMs = 0)
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 1)
    val compacted = AnnStore.loadIvfPq(spark, dir)
    val served = AnnStore.ivfPqServe(queries, "vec_id", "embedding",
      compacted, k = 5, nProbe = 2)
    assert(ranking(served) == want)
    // the one compacted slice holds one codes file per cluster
    val slices = graft.streaming.RefIndexSlices
    val (fs, root) = slices.fsOf(spark, dir)
    val Seq(slice) = slices.manifest(spark, dir).get.slices: @unchecked
    val clusters = fs.listStatus(new org.apache.hadoop.fs.Path(
        slices.slicePath(root, slice), "codes"))
      .filter(_.getPath.getName.startsWith("cluster="))
    assert(clusters.nonEmpty)
    clusters.foreach { c =>
      val files = fs.listStatus(c.getPath).map(_.getPath.getName)
        .filterNot(f => f.startsWith(".") || f.startsWith("_"))
      assert(files.length == 1, s"${c.getPath.getName} holds ${files.length} files")
    }
    // the probed-cluster predicate still prunes the compacted,
    // cluster-partitioned codes read
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case ad: AdaptiveSparkPlanExec => scans(ad.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }) ++ p.subqueries.flatMap(scans)
    val codeScans = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("codes")))
    assert(codeScans.nonEmpty)
    val rows = codeScans.map(_.metrics("numOutputRows").value).sum
    assert(rows < n / 2,
      s"compacted codes scan read $rows of $n rows — pruning lost")
  }

  test("ivfpq refined serve: == independent re-rank; payload optional and guarded") {
    import org.apache.spark.sql.expressions.Window
    val n = 400L
    val union = (0L until n).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
      .repartition(8)
    val idx = AnnStore.buildIvfPq(union, "vec_id", "embedding",
      subspaces = 4, ksub = 8, dim = 16, nCentroids = 8, rounds = 2)
    val queries = Seq((9001L, mkVec(3)), (9002L, mkVec(5)))
      .toDF("vec_id", "embedding")
    // independent oracle: the in-session ADC operator widened to
    // k·refine, then a test-local exact-cosine re-rank (no AnnStore
    // code on this path)
    val cand = Similarity.ivfPqTopK(queries, "vec_id", "embedding",
        union, "vec_id", "embedding", idx.codebook, k = 3 * 2,
        nCentroids = 8, nProbe = 2, rounds = 2)
      .select($"query_id", $"corpus_id")
    val rer = cand
      .join(queries.select($"vec_id".as("query_id"), $"embedding".as("_q")),
        Seq("query_id"))
      .join(union.select($"vec_id".as("corpus_id"), $"embedding".as("_c")),
        Seq("corpus_id"))
      .select($"query_id", $"corpus_id",
        (Similarity.dot($"_q", $"_c") /
          (Similarity.norm($"_q") * Similarity.norm($"_c"))).as("_cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy($"_cos".desc, $"corpus_id")))
      .filter($"rank" <= 3)
    val want = rer.select($"query_id", $"rank".cast("long"), $"corpus_id")
      .as[(Long, Long, Long)].collect().toSet
    def ranking(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"corpus_id")
        .as[(Long, Long, Long)].collect().toSet
    // a payload-less save serves ADC but REFUSES the refined path
    val bare = tmp("annstore_ivfpq_bare")
    AnnStore.saveIvfPq(idx, bare)
    val e = intercept[IllegalArgumentException](
      AnnStore.ivfPqServeRefined(queries, "vec_id", "embedding",
        AnnStore.loadIvfPq(spark, bare), k = 3, nProbe = 2, refine = 2))
    assert(e.getMessage.contains("payload"))
    // withPayload: refined serve == the independent composition
    val dir = tmp("annstore_ivfpq_ref")
    AnnStore.saveIvfPq(idx, dir, withPayload = true)
    assert(ranking(AnnStore.ivfPqServeRefined(queries, "vec_id", "embedding",
      AnnStore.loadIvfPq(spark, dir), k = 3, nProbe = 2, refine = 2))
      == want && want.nonEmpty)
    // with payload, a save of ids below 200 plus an append of the rest
    // == same refined ranks; compact collapses to one slice and moves
    // nothing
    val sdir = tmp("annstore_ivfpq_refsliced")
    AnnStore.saveIvfPq(idx.copy(codes = idx.codes.filter($"_cid" < 200L),
      payload = idx.payload.map(_.filter($"corpus_id" < 200L))), sdir,
      withPayload = true)
    AnnStore.appendIvfPq(union.filter($"vec_id" >= 200L), sdir,
      "vec_id", "embedding")
    assert(ranking(AnnStore.ivfPqServeRefined(queries, "vec_id", "embedding",
      AnnStore.loadIvfPq(spark, sdir), k = 3, nProbe = 2,
      refine = 2)) == want)
    AnnStore.compactIvfPq(spark, sdir, graceMs = 0)
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, sdir) == 1)
    assert(ranking(AnnStore.ivfPqServeRefined(queries, "vec_id", "embedding",
      AnnStore.loadIvfPq(spark, sdir), k = 3, nProbe = 2,
      refine = 2)) == want)
  }

  test("sliced pq compaction: one slice, ranks unchanged, graced orphan sweep") {
    val union = (0L until 60L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val dir = tmp("annstore_sliced_compact")
    AnnStore.savePq(AnnStore.buildPq(union.filter($"vec_id" < 30L), "vec_id",
      "embedding", subspaces = 4, ksub = 8, dim = 16), dir)
    AnnStore.appendPq(union.filter($"vec_id" >= 30L), dir, "vec_id", "embedding")
    val queries = (0L until 60L by 11).map(i => (1000L + i, mkVec(i)))
      .toDF("vec_id", "embedding")
    def ranking(dirIdx: AnnStore.PqServeIndex) =
      AnnStore.pqServe(queries, "vec_id", "embedding", dirIdx, k = 5,
          refine = 3)
        .select($"query_id", $"rank", $"corpus_id")
        .as[(Long, Long, Long)].collect().toSet
    val want = ranking(AnnStore.loadPq(spark, dir))
    // a crashed append's orphan: fresh → survives the graced compact,
    // aged → swept (the RefIndexSlices discipline, pq shape)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/slices/orphan-uuid")
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, Seq(1, 2))).toDF("corpus_id", "codes")
      .write.parquet(s"$dir/slices/orphan-uuid/codes")
    AnnStore.compactPq(spark, dir)
    assert(fs.exists(orphan),
      "a young unreferenced dir may be an in-flight append — keep it")
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 1)
    assert(ranking(AnnStore.loadPq(spark, dir)) == want && want.nonEmpty)
    AnnStore.compactPq(spark, dir, graceMs = 0)
    assert(!fs.exists(orphan), "compact must sweep AGED orphans")
    assert(ranking(AnnStore.loadPq(spark, dir)) == want)
    // the CLI stage dispatches on the stored kind
    graft.jobs.Main.run(Map("stage-name" -> "index_compact",
      "index-dir" -> dir), spark)
    assert(graft.streaming.RefIndexSlices.sliceCount(spark, dir) == 1)
    assert(ranking(AnnStore.loadPq(spark, dir)) == want)
  }

  test("save over an existing pq index swaps atomically") {
    val mk = (n: Long) => AnnStore.buildPq(
      (0L until n).map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", subspaces = 4, ksub = 8, dim = 16)
    val dir = tmp("annstore_swap")
    AnnStore.savePq(mk(20), dir)
    AnnStore.savePq(mk(40), dir)
    assert(AnnStore.loadPq(spark, dir).codes.count() == 40)
    // the replaced version's frozen codebook and slice are swept
    val live = graft.streaming.RefIndexSlices.manifest(spark, dir).get
    assert(new java.io.File(s"$dir/frozen").list().toSeq == live.frozen.toSeq)
    assert(new java.io.File(s"$dir/slices").list().toSeq == live.slices)
    // kind guard: a streaming loader refuses a pq dir loudly
    val e = intercept[IllegalArgumentException](
      graft.streaming.RefIndexSlices.loadSemantic(spark, dir))
    assert(e.getMessage.contains("kind"))
  }
}
