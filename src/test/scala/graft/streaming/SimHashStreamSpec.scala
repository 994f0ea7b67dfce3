package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.Dedup

class SimHashStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // i % 5 classes: identical texts across stream and reference ids
  private def mkText(i: Long): String =
    (0 until 10).map(j => s"tok_${i % 5}_$j").mkString(" ")

  test("streaming simhash dedup matches == batch Across, across triggers") {
    val ref = (100L until 120L).map(i => (i, mkText(i))).toDF("doc_id", "text")
    val idx = SimHashStream.simhashRefIndex(ref, "doc_id", "text",
      maxHamming = 3)
    val streamRows = (0L until 20L).map(i => (i, mkText(i)))
    val stage = java.nio.file.Files.createTempDirectory("simhash_stream")
    streamRows.take(10).toDF("doc_id", "text").repartition(1)
      .write.parquet(stage.resolve("b0.dir").toString)
    streamRows.drop(10).toDF("doc_id", "text").repartition(1)
      .write.parquet(stage.resolve("b1.dir").toString)
    val flat = java.nio.file.Files.createTempDirectory("simhash_flat")
    Seq("b0.dir", "b1.dir").zipWithIndex.foreach { case (f, i) =>
      val src = new java.io.File(stage.resolve(f).toString).listFiles()
        .filter(_.getName.endsWith(".parquet"))(0)
      java.nio.file.Files.copy(src.toPath, flat.resolve(s"$i.parquet"))
    }
    val schema = spark.read.parquet(flat.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat.toString)
    val q = SimHashStream.simhashDupMatches(stream, idx, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_simhash_matches").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("graft_simhash_matches")
      .select("id_a", "id_b", "hamming").distinct()
      .as[(Long, Long, Int)].collect().toSet
    val batch = Dedup.simhashPairsAcross(
        streamRows.toDF("doc_id", "text"), ref, "doc_id", "text",
        maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming".cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty) // i % 5 classes span stream and reference
  }

  test("hot-bucket parity: oversized reference bucket, stream path == batch") {
    // 40 identical reference texts — one signature, one (band, chunk)
    // key per band; maxBucket = 8 forces the sub-split. Reference-only
    // census on both paths ⇒ the emitted pair sets must be equal.
    val ref = (100L until 140L).map(i => (i, "hot dup text payload"))
      .toDF("doc_id", "text")
    val probe = (0L until 6L).map(i => (i, "hot dup text payload"))
      .toDF("doc_id", "text")
    val idx = SimHashStream.simhashRefIndex(ref, "doc_id", "text",
      maxHamming = 3, maxBucket = 8)
    val matched = SimHashStream.simhashDupMatches(probe, idx, "doc_id", "text")
      .select($"id_a", $"id_b", $"hamming".cast("int")).distinct()
      .as[(Long, Long, Int)].collect().toSet
    val batch = Dedup.simhashPairsAcross(probe, ref, "doc_id", "text",
        maxHamming = 3, maxBucket = 8)
      .select($"id_a", $"id_b", $"hamming".cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    assert(matched == batch)
    // sub-split engaged: each probe pairs with ~1/ns of the flood
    assert(matched.nonEmpty && matched.size < 6 * 40)
  }

  test("mergeRefIndex == full rebuild, including a merge-induced hot bucket") {
    val a = (100L until 106L).map(i => (i, "hot dup text payload"))
      .toDF("doc_id", "text")
    val b = (106L until 140L).map(i => (i, "hot dup text payload"))
      .toDF("doc_id", "text")
    val merged = SimHashStream.mergeRefIndex(
      SimHashStream.simhashRefIndex(a, "doc_id", "text",
        maxHamming = 3, maxBucket = 8),
      b, "doc_id", "text")
    val full = SimHashStream.simhashRefIndex(a.unionByName(b), "doc_id",
      "text", maxHamming = 3, maxBucket = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(merged.ns) == rows(full.ns))
    assert(merged.ns.count() > 0, "the merge must have crossed the cap")
    assert(rows(merged.bandRows) == rows(full.bandRows))
    assert(rows(merged.payload) == rows(full.payload))
    val probe = (0L until 4L).map(i => (i, "hot dup text payload"))
      .toDF("doc_id", "text")
    val viaMerged = SimHashStream.simhashDupMatches(probe, merged,
        "doc_id", "text")
      .select($"id_a", $"id_b", $"hamming".cast("int")).distinct()
      .as[(Long, Long, Int)].collect().toSet
    val batch = Dedup.simhashPairsAcross(probe, a.unionByName(b),
        "doc_id", "text", maxHamming = 3, maxBucket = 8)
      .select($"id_a", $"id_b", $"hamming".cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    assert(viaMerged == batch && viaMerged.nonEmpty)
  }

  test("simhashDupMatches: dedupWatermark without ts fails the contract early") {
    val ref = Seq((100L, "a b c")).toDF("doc_id", "text")
    val idx = SimHashStream.simhashRefIndex(ref, "doc_id", "text",
      maxHamming = 3)
    val e = intercept[IllegalArgumentException] {
      SimHashStream.simhashDupMatches(Seq((0L, "a b c")).toDF("doc_id", "text"),
        idx, "doc_id", "text", dedupWatermark = "10 minutes")
    }
    assert(e.getMessage.contains("ts must name the event-time column"))
  }
}
