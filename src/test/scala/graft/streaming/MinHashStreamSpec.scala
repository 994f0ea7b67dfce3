package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.Dedup

class MinHashStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // i % 5 classes: identical 10-token texts across stream and reference
  private def mkText(i: Long): String =
    (0 until 10).map(j => s"tok_${i % 5}_$j").mkString(" ")

  test("streaming minhash dedup matches == batch Across, across triggers") {
    val ref = (100L until 120L).map(i => (i, mkText(i))).toDF("doc_id", "text")
    val idx = MinHashStream.minhashRefIndex(ref, "doc_id", "text",
      n = 3, threshold = 0.6)
    val streamRows = (0L until 20L).map(i => (i, mkText(i)))
    val stage = java.nio.file.Files.createTempDirectory("minhash_stream")
    streamRows.take(10).toDF("doc_id", "text").repartition(1)
      .write.parquet(stage.resolve("b0.dir").toString)
    streamRows.drop(10).toDF("doc_id", "text").repartition(1)
      .write.parquet(stage.resolve("b1.dir").toString)
    val flat = java.nio.file.Files.createTempDirectory("minhash_flat")
    Seq("b0.dir", "b1.dir").zipWithIndex.foreach { case (f, i) =>
      val src = new java.io.File(stage.resolve(f).toString).listFiles()
        .filter(_.getName.endsWith(".parquet"))(0)
      java.nio.file.Files.copy(src.toPath, flat.resolve(s"$i.parquet"))
    }
    val schema = spark.read.parquet(flat.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat.toString)
    val q = MinHashStream.minhashDupMatches(stream, idx, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_minhash_matches").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("graft_minhash_matches")
      .select("id_a", "id_b", "jaccard").distinct()
      .as[(Long, Long, Double)].collect().toSet
    val batch = Dedup.minhashLshPairsAcross(
        streamRows.toDF("doc_id", "text"), ref, "doc_id", "text",
        n = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty) // i % 5 classes span stream and reference
  }

  test("hot-bucket parity: oversized reference bucket, stream path == batch") {
    // 40 identical reference texts share every band bucket; maxBucket
    // = 8 forces the reference-only sub-split on both paths
    val ref = (100L until 140L).map(i => (i, mkText(0)))
      .toDF("doc_id", "text")
    val probe = (0L until 6L).map(i => (i, mkText(0))).toDF("doc_id", "text")
    val idx = MinHashStream.minhashRefIndex(ref, "doc_id", "text",
      n = 3, threshold = 0.6, maxBucket = 8)
    val matched = MinHashStream.minhashDupMatches(probe, idx, "doc_id", "text")
      .select("id_a", "id_b", "jaccard").distinct()
      .as[(Long, Long, Double)].collect().toSet
    // the round-9 contract: both paths census the REFERENCE side only,
    // so the stream index and the batch operator at the same cap must
    // emit the identical pair set even with the oversized bucket
    val batch = Dedup.minhashLshPairsAcross(probe, ref, "doc_id", "text",
        n = 3, threshold = 0.6, maxBucket = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(matched == batch)
    assert(matched.nonEmpty && matched.size < 6 * 40,
      "sub-split must prune the flood")
    // every emitted pair is an exact-Jaccard match (identical texts)
    assert(matched.forall(_._3 == 1.0))
  }

  test("mergeRefIndex == full rebuild; downstream matches agree") {
    // one hot text: 6 reference docs stay under maxBucket = 8 until
    // the merge adds 34 more — the bucket crosses the cap THROUGH the
    // merge, so pre-merge rows must re-sub-split
    val a = (100L until 106L).map(i => (i, mkText(0))).toDF("doc_id", "text")
    val b = (106L until 140L).map(i => (i, mkText(0))).toDF("doc_id", "text")
    val merged = MinHashStream.mergeRefIndex(
      MinHashStream.minhashRefIndex(a, "doc_id", "text",
        n = 3, threshold = 0.6, maxBucket = 8),
      b, "doc_id", "text")
    val full = MinHashStream.minhashRefIndex(a.unionByName(b), "doc_id",
      "text", n = 3, threshold = 0.6, maxBucket = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case arr: Seq[_] => arr.toList
        case v => v
      }).toSet
    assert(rows(merged.ns) == rows(full.ns))
    assert(merged.ns.count() > 0, "the merge must have crossed the cap")
    assert(rows(merged.bandRows) == rows(full.bandRows))
    assert(rows(merged.payload) == rows(full.payload))
    val probe = (0L until 4L).map(i => (i, mkText(0))).toDF("doc_id", "text")
    val viaMerged = MinHashStream.minhashDupMatches(probe, merged,
        "doc_id", "text")
      .select("id_a", "id_b", "jaccard").distinct()
      .as[(Long, Long, Double)].collect().toSet
    val viaFull = MinHashStream.minhashDupMatches(probe, full,
        "doc_id", "text")
      .select("id_a", "id_b", "jaccard").distinct()
      .as[(Long, Long, Double)].collect().toSet
    assert(viaMerged == viaFull && viaMerged.nonEmpty)
  }

  test("minhashDupMatches: dedupWatermark without ts fails the contract early") {
    val ref = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val idx = MinHashStream.minhashRefIndex(ref, "doc_id", "text",
      n = 3, threshold = 0.6)
    val e = intercept[IllegalArgumentException] {
      MinHashStream.minhashDupMatches(
        Seq((0L, "a b c d")).toDF("doc_id", "text"),
        idx, "doc_id", "text", dedupWatermark = "10 minutes")
    }
    assert(e.getMessage.contains("ts must name the event-time column"))
  }
}
