package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Linear text-quality classifier over hashed unigram counts — the
  * fastText-shaped quality filter every published curation pipeline
  * applies at corpus scale (CCNet / GPT-3 / RefinedWeb: positive =
  * curated seed, negative = random crawl, score the whole crawl).
  * Training is the Rocchio centroid difference, which has an EXACT
  * integer closed form — no gradient loop, no float log — so the
  * DuckDB oracle (x198) replays weights and scores bit-for-bit:
  *
  * {{{
  *   w_b   = cntPos_b · nNeg − cntNeg_b · nPos     (integers)
  *   score = Σ_tokens w_{bucket(token)}            (DECIMAL(38,0))
  * }}}
  *
  * `w` is the per-bucket token-rate difference scaled by the positive
  * nPos·nNeg > 0 (class-length normalization cross-multiplied away),
  * so sign(score) is EXACTLY the sign of the Rocchio rate-difference
  * dot product — classification decisions carry no rounding at all.
  *
  * Scale shape: training is one map-combined groupBy over the SEED's
  * hashed token stream (seeds are small by nature — labeled data) and
  * the weight table is ≤ `buckets` rows; scoring broadcasts that
  * table and reduces per doc — one explode + one broadcast-hash join
  * + one map-combined aggregation over the corpus, no shuffle wider
  * than (doc_id). The feature hash follows the §7.6.3 portability
  * convention: md5-derived ([[Planes.subHash]]) when an oracle must
  * replay, codegen'd xxhash64 when only within-Spark determinism
  * matters.
  */
object Classify {

  private val d38 = DecimalType(38, 0)

  private def bucketOf(f: Column, buckets: Int, portableHash: Boolean): Column =
    if (portableHash) pmod(Planes.subHash(f), lit(buckets.toLong))
    else pmod(xxhash64(f), lit(buckets.toLong))

  /** Exploded (keep*, _b) hashed-unigram stream; whitespace tokens via
    * the native one-pass [[graft.functions.TokenNgrams]] (empty tokens
    * dropped — the x185 oracle convention). Docs with no tokens
    * contribute no rows. */
  private def hashedTokens(df: DataFrame, text: String, keep: Seq[Column],
                           buckets: Int, portableHash: Boolean): DataFrame =
    df.select(keep :+ explode(
        graft.functions.TokenNgrams.tokenNgrams(col(text), 1)).as("_t"): _*)
      .withColumn("_b", bucketOf(col("_t"), buckets, portableHash))
      .drop("_t")

  /** Train: per-bucket integer weights from a labeled seed. Rows with
    * a NULL label are ignored. Returns (_b, w DECIMAL(38,0)) — one row
    * per bucket the seed touches (absent buckets weigh 0 by
    * construction; [[rocchioScore]] coalesces). Degenerate one-class
    * seeds yield all-zero weights (nNeg = 0 ⇒ w = −cntNeg·nPos = 0):
    * every score is 0 and nothing is predicted positive — documented
    * rather than raised, because a filtered seed partition may
    * legitimately be single-class and downstream thresholds on the
    * score handle it. */
  def rocchioWeights(seed: DataFrame, text: String, label: Column,
                     buckets: Int = 4096,
                     portableHash: Boolean = true): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      "buckets must be in [2, 2^20]")
    val tk = hashedTokens(seed.filter(label.isNotNull).withColumn("_y", label),
      text, Seq(col("_y")), buckets, portableHash)
    val cnt = tk.groupBy("_b").agg(
      sum(when(col("_y"), 1L).otherwise(0L)).as("_cp"),
      sum(when(col("_y"), 0L).otherwise(1L)).as("_cn"))
    val tot = cnt.agg(sum(col("_cp")).as("_np"), sum(col("_cn")).as("_nn"))
    cnt.crossJoin(broadcast(tot))
      .select(col("_b"),
        (col("_cp").cast(d38) * col("_nn").cast(d38) -
          col("_cn").cast(d38) * col("_np").cast(d38)).as("w"))
  }

  /** Score a corpus against trained weights: per doc,
    * (doc_id, n_toks, score DECIMAL(38,0), pred = score > 0). Docs
    * with no tokens produce no row (no features ⇒ no decision — the
    * dsirWeights convention). `buckets`/`portableHash` must match the
    * training call — the weight table carries no provenance, so a
    * mismatch silently scores against the wrong feature space. */
  def rocchioScore(docs: DataFrame, id: String, text: String,
                   weights: DataFrame, buckets: Int = 4096,
                   portableHash: Boolean = true): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      "buckets must be in [2, 2^20]")
    hashedTokens(docs, text, Seq(col(id).as("doc_id")), buckets, portableHash)
      .join(broadcast(weights), Seq("_b"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("w"), lit(0L).cast(d38))).as("score"))
      .withColumn("pred", (col("score") > 0).cast("long"))
  }
}
