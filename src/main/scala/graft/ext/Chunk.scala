package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Content-defined chunking — split documents at positions chosen by
  * the CONTENT, not by offset (gear/Rabin CDC family, here at token
  * granularity): a token whose salted hash bucket divides `divisor`
  * closes the current chunk. An insertion or deletion therefore only
  * perturbs chunking up to the next boundary token; every chunk after
  * it re-aligns and its digest is unchanged. That shift-invariance is
  * what fixed-size chunking (x32's `chunkTokens`) lacks, and it is
  * the standard primitive for dedup storage, incremental sync, and
  * shared-span discovery across near-identical documents.
  *
  * Scale shape: one posexplode (narrow), a per-document running sum
  * (window partitioned by doc id — never unpartitioned), one
  * (doc, chunk) aggregation whose collect is bounded by chunk length
  * (expected `divisor` tokens, content-capped). Boundary decisions
  * reuse [[Sampling.hashBucket256]]'s md5-byte convention, so an
  * external engine reproduces every boundary bit-for-bit.
  */
object Chunk {

  /** One row per content-defined chunk: `(doc, chunk_idx, n_tokens,
    * digest)` with digest = md5 of the space-joined chunk tokens.
    * Expected chunk length ≈ `divisor` tokens (boundary probability
    * is ~1/divisor per token, content-determined). */
  def cdcChunks(df: DataFrame, id: String, text: String,
                divisor: Int = 8, salt: String = "cdc"): DataFrame = {
    require(divisor >= 2 && 256 % divisor == 0,
      "divisor must divide 256 so the boundary rate is exactly 1/divisor")
    val toks = filter(split(col(text), " "), t => t =!= "")
    val tk = df
      .select(col(id).as("doc"), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("flag",
        (Sampling.hashBucket256(col("tok"), salt) % divisor === 0)
          .cast("long"))
    // chunk index = boundaries strictly BEFORE this token (a boundary
    // token closes its chunk), as a per-doc running sum
    val w = Window.partitionBy("doc").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    tk.withColumn("chunk_idx", coalesce(sum(col("flag")).over(w), lit(0L)))
      .groupBy("doc", "chunk_idx")
      .agg(
        count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok"))).cast("binary")).as("digest"))
  }

  /** RAG context assembly — merge a retriever's per-chunk hits into
    * contiguous document SPANS before prompt construction: hits whose
    * chunk indices are within `maxGap` missing chunks of each other
    * fuse into one span (the standard "expand and merge overlapping
    * retrieved windows" step; feeding adjacent chunks separately
    * wastes context budget on duplicated boundaries and shreds
    * coherent passages). Returns one row per span: (doc, span_start,
    * span_end, n_hits, span_tokens) — span_tokens sums the HIT
    * chunks' tokens (bridged-over missing chunks are not fetched
    * here; the caller decides whether to hydrate them).
    *
    * Plan shape: one lag window per document (bounded partitions —
    * a doc's hit count, never corpus-wide), one running-sum island
    * labeling over the same window, one (doc, island) aggregation.
    * The islands-and-gaps shape shared with sessionization, on chunk
    * space instead of time. */
  def mergeRetrievedChunks(hits: DataFrame, doc: String, chunkIdx: String,
                           tokens: String, maxGap: Int): DataFrame = {
    require(maxGap >= 0, "maxGap must be non-negative")
    val w = Window.partitionBy(col("doc")).orderBy(col("_i"))
    val cum = Window.partitionBy(col("doc")).orderBy(col("_i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .select(col(doc).as("doc"), col(chunkIdx).cast("long").as("_i"),
        col(tokens).cast("long").as("_t"))
      // a chunk retrieved by several queries (rank fusion, the normal
      // RAG case) is still ONE chunk of context: collapse duplicates
      // before the island pass or n_hits/span_tokens double-count
      .groupBy("doc", "_i").agg(max(col("_t")).as("_t"))
      .withColumn("_prev", lag(col("_i"), 1).over(w))
      .withColumn("_brk",
        when(col("_prev").isNull ||
          col("_i") - col("_prev") > maxGap + 1, 1L).otherwise(0L))
      .withColumn("_isl", sum(col("_brk")).over(cum))
      .groupBy(col("doc"), col("_isl"))
      .agg(min(col("_i")).as("span_start"), max(col("_i")).as("span_end"),
        count(lit(1)).as("n_hits"), sum(col("_t")).as("span_tokens"))
      .drop("_isl")
  }
}
