package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Append-slices layout: a combined load over N appended slices must
  * equal a FULL REBUILD over the union exactly (band rows, census,
  * sub assignment, payload — and therefore every probe answer),
  * including when the slices only cross the oversized-bucket cap
  * TOGETHER; per-slice probing must union to the same pair set;
  * compaction must change nothing; uncommitted slice data must stay
  * invisible. */
class RefIndexSlicesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkVec(i: Long): Array[Double] =
    Array.tabulate(8)(j => math.cos((i % 5 + 1) * (j + 2) * 0.31))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  private def matchSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"band", $"bucket", $"sub", $"id_b")
      .as[(Int, Long, Long, Long)].collect().toSet

  test("semantic: two appends == full rebuild, incl. a merge-induced hot bucket") {
    // 6 + 34 identical-class vectors with maxBucket = 8: NEITHER slice
    // alone crosses the cap for the hot keys — only the merged census
    // can; stored per-slice counts must SUM to the rebuild's ns and
    // re-derive every row's sub identically
    val a = (100L until 106L).map(i => (i, mkVec(0))).toDF("vec_id", "embedding")
    val b = (106L until 140L).map(i => (i, mkVec(0))).toDF("vec_id", "embedding")
    val dir = tmp("slices_sem")
    assert(RefIndexSlices.appendSemantic(a, dir, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8, maxBucket = 8) == 1L)
    assert(RefIndexSlices.appendSemantic(b, dir, "vec_id", "embedding") == 2L)
    val loaded = RefIndexSlices.loadSemantic(spark, dir)
    val full = EmbedStream.semanticRefIndex(a.unionByName(b),
      "vec_id", "embedding", bands = 4, bitsPerBand = 4, dim = 8,
      maxBucket = 8)
    assert(loaded.ns.as[(Int, Long, Long)].collect().toSet ==
      full.ns.as[(Int, Long, Long)].collect().toSet)
    assert(loaded.ns.count() > 0, "the merge must have crossed the cap")
    assert(rows(loaded.bandRows) == rows(full.bandRows))
    assert(loaded.payload.select($"id_b", $"_qb")
        .as[(Long, Seq[Long])].collect().toSet ==
      full.payload.select($"id_b", $"_qb")
        .as[(Long, Seq[Long])].collect().toSet)
    // probe parity: combined load == rebuild; per-slice union == both
    val probe = (0L until 4L).map(i => (i, mkVec(0))).toDF("vec_id", "embedding")
    def m(idx: EmbedStream.SemanticRefIndex) = matchSet(
      EmbedStream.semanticDupMatches(probe, idx, "vec_id", "embedding",
        cos2Num = 4, cos2Den = 25))
    val viaRebuild = m(full)
    assert(m(loaded) == viaRebuild && viaRebuild.nonEmpty)
    val viaSlices = RefIndexSlices.loadSemanticSlices(spark, dir)
      .map(m).reduce(_ union _)
    assert(viaSlices == viaRebuild)
    // compaction collapses to one slice and changes nothing
    assert(RefIndexSlices.sliceCount(spark, dir) == 2)
    RefIndexSlices.compact(spark, dir)
    assert(RefIndexSlices.sliceCount(spark, dir) == 1)
    val compacted = RefIndexSlices.loadSemantic(spark, dir)
    assert(rows(compacted.bandRows) == rows(full.bandRows))
    assert(m(compacted) == viaRebuild)
    // and the read-optimized publish path: round-trip the combined
    // index through the bucketed store
    val servingDir = tmp("slices_sem_serving")
    RefIndexStore.saveSemantic(compacted, servingDir, buckets = 4)
    assert(m(RefIndexStore.loadSemantic(spark, servingDir)) == viaRebuild)
  }

  test("simhash + minhash slices == rebuild on the probe answer") {
    def doc(i: Long) = (0 until 24).map(j => s"w${(i % 3) * 7 + j}").mkString(" ")
    val a = (100L until 115L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val b = (115L until 130L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val probe = (0L until 9L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val sDir = tmp("slices_sim")
    RefIndexSlices.appendSimHash(a, sDir, "doc_id", "text", maxHamming = 3)
    RefIndexSlices.appendSimHash(b, sDir, "doc_id", "text")
    val simGot = matchSet(SimHashStream.simhashDupMatches(probe,
      RefIndexSlices.loadSimHash(spark, sDir), "doc_id", "text"))
    val simWant = matchSet(SimHashStream.simhashDupMatches(probe,
      SimHashStream.simhashRefIndex(a.unionByName(b), "doc_id", "text",
        maxHamming = 3), "doc_id", "text"))
    assert(simGot == simWant && simGot.nonEmpty)
    val mDir = tmp("slices_min")
    RefIndexSlices.appendMinHash(a, mDir, "doc_id", "text",
      n = 3, threshold = 0.7)
    RefIndexSlices.appendMinHash(b, mDir, "doc_id", "text")
    val minGot = matchSet(MinHashStream.minhashDupMatches(probe,
      RefIndexSlices.loadMinHash(spark, mDir), "doc_id", "text"))
    val minWant = matchSet(MinHashStream.minhashDupMatches(probe,
      MinHashStream.minhashRefIndex(a.unionByName(b), "doc_id", "text",
        n = 3, threshold = 0.7), "doc_id", "text"))
    assert(minGot == minWant && minGot.nonEmpty)
  }

  test("knob drift and kind drift are rejected loudly") {
    val a = (0L until 5L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val dir = tmp("slices_knobs")
    RefIndexSlices.appendSemantic(a, dir, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    // appendSemantic PINS knobs from meta, so drift can only come from
    // a mismatched maxBucket-style override in appendParts — assert the
    // kind guard (the cross-family mistake) here
    val e = intercept[IllegalArgumentException](
      RefIndexSlices.appendSimHash(
        Seq((0L, "a b c")).toDF("doc_id", "text"), dir, "doc_id", "text"))
    assert(e.getMessage.contains("kind"))
    val e2 = intercept[IllegalArgumentException](
      RefIndexSlices.loadSimHash(spark, dir))
    assert(e2.getMessage.contains("kind"))
  }

  test("an unreferenced slice dir is invisible until committed; compact sweeps it") {
    val a = (0L until 10L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val dir = tmp("slices_orphan")
    RefIndexSlices.appendSemantic(a, dir, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    // simulate a crashed append: slice data on disk, no manifest commit
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/slices/orphan-uuid")
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L until 99L).map(i => (1, 1L, i)).toDF("band", "bucket", "id_b")
      .write.parquet(s"$dir/slices/orphan-uuid/band_rows")
    assert(RefIndexSlices.loadSemantic(spark, dir).payload.count() == 10)
    // a FRESH unreferenced dir is indistinguishable from a concurrent
    // append mid-write: the graced compact must leave it alone
    RefIndexSlices.compact(spark, dir)
    assert(fs.exists(orphan),
      "a young unreferenced dir may be an in-flight append — keep it")
    assert(RefIndexSlices.loadSemantic(spark, dir).payload.count() == 10)
    // once its content has aged past the grace it is a dead orphan
    RefIndexSlices.compact(spark, dir, graceMs = 0)
    assert(!fs.exists(orphan), "compact must sweep AGED unreferenced slices")
    assert(RefIndexSlices.loadSemantic(spark, dir).payload.count() == 10)
  }

  test("a replace commit against a moved manifest refuses (no lost append)") {
    // the r11 verdict race: compact reads the slice list at v, a
    // concurrent append commits v+1, compact's replace commit must
    // now REFUSE — a retry with the stale list would both drop the
    // appended slice from the live set and let the sweep delete its
    // data. The CAS primitive is what compactCore runs on.
    val a = (0L until 6L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val b = (6L until 12L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val dir = tmp("slices_cas")
    RefIndexSlices.appendSemantic(a, dir, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    val e = intercept[IllegalStateException] {
      RefIndexSlices.compactCore(spark, dir, graceMs = 0) { (_, slice) =>
        // mid-compact, an append wins the next version
        RefIndexSlices.appendSemantic(b, dir, "vec_id", "embedding")
        (0L until 3L).map(i => (1, 1L, i)).toDF("band", "bucket", "id_b")
          .write.parquet(new org.apache.hadoop.fs.Path(slice, "band_rows").toString)
      }
    }
    assert(e.getMessage.contains("moved"))
    // the appended slice survived, data intact, and the half-built
    // compacted slice was cleaned up; a re-run compacts both slices
    assert(RefIndexSlices.sliceCount(spark, dir) == 2)
    assert(RefIndexSlices.loadSemantic(spark, dir).payload.count() == 12)
    RefIndexSlices.compact(spark, dir, graceMs = 0)
    assert(RefIndexSlices.sliceCount(spark, dir) == 1)
    assert(RefIndexSlices.loadSemantic(spark, dir).payload.count() == 12)
  }
}
