package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ChunkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val span = (1 to 40).map(i => s"w$i").mkString(" ")

  test("cdcChunks: partition into chunks, token counts preserved") {
    val docs = Seq((1L, span)).toDF("doc_id", "text")
    val chunks = Chunk.cdcChunks(docs, "doc_id", "text").collect()
    assert(chunks.map(_.getLong(2)).sum == 40L)
    // chunk indices are contiguous from 0
    val idxs = chunks.map(_.getLong(1)).sorted.toSeq
    assert(idxs == (0L until idxs.length).toSeq)
    assert(chunks.length > 1, "40 tokens at divisor 8 must split")
  }

  test("cdcChunks: shift-invariance — chunks realign after one boundary") {
    val docs = Seq(
      (1L, span),
      (2L, "inserted prefix tokens " + span)).toDF("doc_id", "text")
    val byDoc = Chunk.cdcChunks(docs, "doc_id", "text").collect()
      .groupBy(_.getLong(0))
    val d1 = byDoc(1L).map(_.getString(3)).toSet
    val d2 = byDoc(2L).map(_.getString(3)).toSet
    // every chunk of the clean doc except (at most) the one straddling
    // the first in-span boundary must reappear despite the offset shift
    assert((d1 intersect d2).size >= d1.size - 1,
      s"shift broke realignment: ${d1.size} vs shared ${(d1 intersect d2).size}")
  }

  test("mergeRetrievedChunks bridges maxGap missing chunks, splits beyond") {
    val hits = Seq((1L, 0L, 10L), (1L, 1L, 10L), (1L, 3L, 10L),
      (1L, 7L, 10L), (1L, 8L, 10L), (2L, 5L, 4L))
      .toDF("doc_id", "idx", "toks").repartition(3)
    val got = Chunk.mergeRetrievedChunks(hits, "doc_id", "idx", "toks",
        maxGap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // 0,1,3 fuse (gap 2 ≤ maxGap+1); 7,8 are a second span (gap 4)
    assert(got == Set((1L, 0L, 3L, 3L, 30L), (1L, 7L, 8L, 2L, 20L),
      (2L, 5L, 5L, 1L, 4L)))
  }
}
