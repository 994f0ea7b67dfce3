package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.Dedup

class EmbedStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkVec(i: Long): Array[Double] =
    Array.tabulate(8)(j => math.cos((i % 5 + 1) * (j + 2) * 0.31))

  test("streaming semantic dedup matches == batch Across, across triggers") {
    // reference corpus: ids 100-119; stream: ids 0-19 over TWO triggers
    val ref = (100L until 120L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val idx = EmbedStream.semanticRefIndex(ref, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    val streamRows = (0L until 20L).map(i => (i, mkVec(i)))
    // stage as two parquet files -> two micro-batches
    val stage = java.nio.file.Files.createTempDirectory("embed_stream")
    streamRows.take(10).toDF("vec_id", "embedding").repartition(1)
      .write.parquet(stage.resolve("b0.dir").toString)
    streamRows.drop(10).toDF("vec_id", "embedding").repartition(1)
      .write.parquet(stage.resolve("b1.dir").toString)
    val flat = java.nio.file.Files.createTempDirectory("embed_flat")
    Seq("b0.dir", "b1.dir").zipWithIndex.foreach { case (f, i) =>
      val src = new java.io.File(stage.resolve(f).toString).listFiles()
        .filter(_.getName.endsWith(".parquet"))(0)
      java.nio.file.Files.copy(src.toPath, flat.resolve(s"$i.parquet"))
    }
    val schema = spark.read.parquet(flat.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat.toString)
    val q = EmbedStream.semanticDupMatches(stream, idx, "vec_id",
        "embedding", cos2Num = 4, cos2Den = 25)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_embed_matches").start()
    q.processAllAvailable()
    q.stop()
    // duplicates per matching band collapse via distinct for compare
    val streamed = spark.table("graft_embed_matches")
      .select("id_a", "id_b", "dotq", "na", "nb").distinct()
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val batch = Dedup.semanticDupPairsInt8Across(
        streamRows.toDF("vec_id", "embedding"), ref, "vec_id", "embedding",
        cos2Num = 4, cos2Den = 25, bands = 4, bitsPerBand = 4, dim = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty) // i % 5 classes span stream and reference
  }

  test("hot-bucket parity: oversized reference bucket, stream path == batch Across") {
    // 40 IDENTICAL reference vectors all land in one (band, bucket)
    // key; maxBucket = 8 forces the oversized-bucket sub-split (ns=5).
    // The round-9 contract: both paths census the REFERENCE side only,
    // so the emitted pair sets must be equal even here — exactly the
    // case the pre-fix census populations diverged on.
    val hot = Array.tabulate(8)(j => math.cos((j + 2) * 0.31))
    val ref = (100L until 140L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val probe = (0L until 6L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val idx = EmbedStream.semanticRefIndex(ref, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8, maxBucket = 8)
    // batch-DF evaluation exercises the identical stream-static plan
    val matched = EmbedStream.semanticDupMatches(probe, idx, "vec_id",
        "embedding", cos2Num = 4, cos2Den = 25)
      .select("id_a", "id_b", "dotq", "na", "nb").distinct()
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val batch = Dedup.semanticDupPairsInt8Across(probe, ref, "vec_id",
        "embedding", cos2Num = 4, cos2Den = 25, bands = 4, bitsPerBand = 4,
        dim = 8, maxBucket = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(matched == batch)
    // the sub-split engaged: each probe row pairs with ~1/ns of the
    // flood, not all 40 of it
    assert(matched.nonEmpty && matched.size < 6 * 40)
  }

  test("dedupWatermark collapses multi-band hits to one row per pair, in-stream") {
    // identical vectors match in EVERY band (4 here), so without the
    // bounded-state dedup each (stream, ref) pair emits 4 rows; with
    // ts + dedupWatermark the stream emits exactly one row per pair
    val hot = Array.tabulate(8)(j => math.cos((j + 2) * 0.31))
    val ref = (100L until 103L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val idx = EmbedStream.semanticRefIndex(ref, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    val dir = java.nio.file.Files.createTempDirectory("embed_wm")
    (0L until 4L).map(i => (i, hot, new java.sql.Timestamp(1700000000000L + i)))
      .toDF("vec_id", "embedding", "ts")
      .repartition(1).write.parquet(dir.resolve("b0").toString)
    val flat = java.nio.file.Files.createTempDirectory("embed_wm_flat")
    new java.io.File(dir.resolve("b0").toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) =>
          java.nio.file.Files.copy(f.toPath, flat.resolve(s"$i.parquet"))
      }
    val schema = spark.read.parquet(flat.toString).schema
    val stream = spark.readStream.schema(schema).parquet(flat.toString)
    val q = EmbedStream.semanticDupMatches(stream, idx, "vec_id",
        "embedding", cos2Num = 4, cos2Den = 25, carry = Seq("ts"),
        ts = "ts", dedupWatermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_embed_wm").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("graft_embed_wm")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    // exactly one row per (stream, ref) pair — 4 x 3, no band dups
    assert(rows.size == 12)
    assert(rows.toSet.size == 12)
    assert(rows.toSet == (for (a <- 0L until 4L; b <- 100L until 103L)
      yield (a, b)).toSet)
  }

  test("semanticDupMatches: dedupWatermark without ts fails the contract early") {
    val ref = (100L until 104L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val idx = EmbedStream.semanticRefIndex(ref, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    val in = (0L until 4L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      EmbedStream.semanticDupMatches(in, idx, "vec_id", "embedding",
        dedupWatermark = "10 minutes")
    }
    assert(e.getMessage.contains("ts must name the event-time column"))
  }

  test("mergeRefIndex == full rebuild, including a merge-induced hot bucket") {
    // first batch: 6 identical vectors in one bucket (under maxBucket
    // = 8); merged batch: 34 more of the same — the bucket crosses the
    // cap THROUGH the merge, so pre-merge rows must be re-sub-split
    val hot = Array.tabulate(8)(j => math.cos((j + 2) * 0.31))
    val a = (100L until 106L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val b = (106L until 140L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val merged = EmbedStream.mergeRefIndex(
      EmbedStream.semanticRefIndex(a, "vec_id", "embedding",
        bands = 4, bitsPerBand = 4, dim = 8, maxBucket = 8),
      b, "vec_id", "embedding")
    val full = EmbedStream.semanticRefIndex(a.unionByName(b), "vec_id",
      "embedding", bands = 4, bitsPerBand = 4, dim = 8, maxBucket = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case arr: Seq[_] => arr.toList
        case v => v
      }).toSet
    assert(rows(merged.ns) == rows(full.ns))
    assert(merged.ns.count() > 0, "the merge must have crossed the cap")
    assert(rows(merged.bandRows) == rows(full.bandRows))
    assert(rows(merged.payload) == rows(full.payload))
    // and the downstream answer agrees with the batch operator
    val probe = (0L until 4L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val viaMerged = EmbedStream.semanticDupMatches(probe, merged, "vec_id",
        "embedding", cos2Num = 4, cos2Den = 25)
      .select("id_a", "id_b", "dotq", "na", "nb").distinct()
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val batch = Dedup.semanticDupPairsInt8Across(probe, a.unionByName(b),
        "vec_id", "embedding", cos2Num = 4, cos2Den = 25, bands = 4,
        bitsPerBand = 4, dim = 8, maxBucket = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(viaMerged == batch && viaMerged.nonEmpty)
  }

  test("batch mode works on a plain DataFrame and honors the decision") {
    val ref = (100L until 110L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val idx = EmbedStream.semanticRefIndex(ref, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    val in = (0L until 10L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val rows = EmbedStream.semanticDupMatches(in, idx, "vec_id", "embedding",
        cos2Num = 4, cos2Den = 25).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dotq, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(dotq > 0 && 25 * dotq * dotq >= 4 * na * nb)
    }
  }
}
