package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.Multimodal

/** Perceptual media dedup-at-ingest: audio fingerprints stream through
  * the SAME signature-level index machinery as text SimHash
  * ([[SimHashStream.sigRefIndex]]/[[SimHashStream.sigDupMatches]]) —
  * stateless stream-static equi-joins, reference-only census. Parity
  * oracle here is LOCAL brute force (every stream×reference
  * fingerprint pair within the hamming ball), which the banded path
  * must reproduce exactly: pigeonhole banding is lossless at
  * maxHamming and the verify is exact. */
class AudioStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  import graft.TestWav.envWav

  test("streaming audio near-dup matches == local brute force, two triggers") {
    // reference: 8 envelope families (ids 100-107); stream: 16 clips
    // over two triggers — same families at different gains (dups) plus
    // shifted families (non-dups)
    def pat(f: Int)(w: Int): Int = 1 + ((w + f) * 7) % 13
    val ref = (0 until 8).map(f => (100L + f, envWav(pat(f), 100)))
      .toDF("media_id", "payload")
    val refSigs = Multimodal.audioFingerprint(ref)
      .select($"media_id".as("_id"), $"afp".as("sig"))
      .filter($"sig".isNotNull)
    val idx = SimHashStream.sigRefIndex(refSigs, maxHamming = 2)

    val streamRows = (0 until 16).map { i =>
      (i.toLong, envWav(pat(i % 10), 100 + 50 * (i % 4)))
    }
    val flat = java.nio.file.Files.createTempDirectory("audio_stream")
    streamRows.take(8).toDF("media_id", "payload").repartition(1)
      .write.mode("append").parquet(flat.toString)
    streamRows.drop(8).toDF("media_id", "payload").repartition(1)
      .write.mode("append").parquet(flat.toString)
    val schema = spark.read.parquet(flat.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat.toString)

    val q = SimHashStream.sigDupMatches(
        Multimodal.audioFingerprint(stream)
          .filter($"afp".isNotNull)
          .select($"media_id".as("_id"), $"afp".as("sig")),
        idx)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_audio_matches").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("graft_audio_matches")
      .select("id_a", "id_b", "hamming").distinct()
      .as[(Long, Long, Int)].collect().toSet

    // local brute force over the same fingerprints
    def fp(rows: Seq[(Long, Array[Byte])]): Map[Long, Long] =
      Multimodal.audioFingerprint(rows.toDF("media_id", "payload"))
        .filter($"afp".isNotNull)
        .select($"media_id", $"afp").as[(Long, Long)].collect().toMap
    val rf = fp((0 until 8).map(f => (100L + f, envWav(pat(f), 100))))
    val sf = fp(streamRows)
    val brute = (for {
      (sa, va) <- sf.toSeq; (sb, vb) <- rf.toSeq
      h = java.lang.Long.bitCount(va ^ vb) if h <= 2
    } yield (sa, sb, h)).toSet
    assert(streamed == brute)
    assert(streamed.nonEmpty) // the gain-varied family clones match
  }
}
