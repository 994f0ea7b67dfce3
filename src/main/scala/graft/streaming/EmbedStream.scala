package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Planes, Similarity}

/** Streaming SEMANTIC dedup-at-ingest: flag embedding rows arriving on
  * a stream that are near-duplicates of a STATIC reference corpus —
  * the online counterpart of [[graft.ext.Dedup.semanticDupPairsInt8Across]]
  * (same deterministic plane banding, same integer int8 cosine²
  * decision, and — since round 9 — the same REFERENCE-ONLY
  * oversized-bucket census on both paths, so the stream and a batch
  * replay can never disagree on a match: the census is a pure
  * function of the reference, which the build-once index and the
  * batch operator both compute identically, hot buckets included).
  *
  * Built as a stream-static equi-join pipeline, which is STATELESS in
  * Structured Streaming: the stream side explodes to (band, bucket)
  * probe rows per micro-batch, joins the pre-banded reference index,
  * and scores candidates in-row — no watermark or state store needed
  * for the matching itself. The only stateful piece is the OPTIONAL
  * per-pair dedup (a pair matching in k bands emits k rows), which
  * rides `dropDuplicatesWithinWatermark` so its state stays bounded
  * like [[EventStream.dedupByDigest]]'s.
  */
object EmbedStream {

  /** Pre-banded, pre-quantized static reference for
    * [[semanticDupMatches]]: build once (e.g. nightly from the
    * accumulated corpus), reuse across micro-batches. `ns` is the
    * oversized-bucket census over the REFERENCE (≤ refRows/maxBucket
    * keys — always broadcastable); `bandRows` carries
    * (band, bucket, sub, id_b) only; `payload` the int8 vectors.
    * Sub-splitting is IDENTICAL to the batch operator's — both
    * census the reference side only
    * ([[graft.ext.Planes.cappedCrossPairs]]), so the emitted pair
    * sets agree even when buckets are oversized; a stream-side flood
    * is bounded per probe row by the ≤ maxBucket post-split
    * reference buckets. */
  case class SemanticRefIndex(bands: Int, bitsPerBand: Int, dim: Int,
                              maxBucket: Int, ns: DataFrame,
                              bandRows: DataFrame, payload: DataFrame)

  def semanticRefIndex(ref: DataFrame, id: String, vec: String,
                       bands: Int = 0, bitsPerBand: Int = 0,
                       dim: Int = 64, maxBucket: Int = 4096)
      : SemanticRefIndex = {
    require(maxBucket >= 1, "maxBucket must be positive")
    val parts = ref.sparkSession.sessionState.conf.numShufflePartitions
    val (nBands, nBits) =
      if (bands > 0 && bitsPerBand > 0) (bands, bitsPerBand)
      else {
        val bits = if (bitsPerBand > 0) bitsPerBand
                   else Planes.bitsFor(ref.count())
        (if (bands > 0) bands else Planes.bandsFor(bits), bits)
      }
    val planes = Planes.components(nBands * nBits, dim)
    // sketch through the Generate pipeline (see semanticDupPairsInt8)
    val banded = ref.select(col(id).as("id_b"), col(vec).as("_fv"))
      .repartition(parts)
      .select(col("id_b"),
        posexplode(Planes.bandBuckets(col("_fv"), planes, nBands, nBits))
          .as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("id_b"))
      .localCheckpoint()
    val (ns, withSub) = Planes.refCensusSub(banded, maxBucket)
    val payload = ref.select(col(id).as("id_b"),
        Similarity.int8Quantize(col(vec)).getField("q").as("_qb"))
      .localCheckpoint()
    SemanticRefIndex(nBands, nBits, dim, maxBucket, ns, withSub, payload)
  }

  /** Incrementally MERGE newly-ingested reference rows into an
    * existing [[SemanticRefIndex]] — the index-maintenance half of
    * dedup-at-ingest: without it, a build-once index forces a nightly
    * full rebuild that re-scans the whole corpus' embeddings at
    * 100 TB. The merge re-uses the old index's band rows verbatim
    * (banding and quantization are PER-ROW functions of the
    * deterministic planes, so previously-computed rows can never go
    * stale), bands + quantizes only the new rows, and refreshes the
    * oversized-bucket census over the combined ids-only band rows —
    * re-assigning every row's sub against the new census, since a
    * bucket that crossed `maxBucket` through this merge must now
    * sub-split rows that were indexed before it.
    *
    * Parity contract (spec-gated): merge(semanticRefIndex(a), b) ==
    * semanticRefIndex(a ∪ b) EXACTLY — band rows, census, payload,
    * and therefore every downstream [[semanticDupMatches]] answer.
    * The honest cost accounting: what the merge avoids is the
    * corpus-sized EMBEDDING scan (plane dots + int8 quantization of
    * every old vector); the census refresh still scans the ids-only
    * band rows (24-byte rows, no vector math) — the cheap, unavoidable
    * part, since one new row can flip any bucket over the cap.
    * Banding knobs are fixed at index creation (they derive from the
    * INITIAL corpus count when auto): re-derive them only with a full
    * rebuild, at the usual retune-audit discipline
    * ([[graft.ext.Dedup.semanticBandingAudit]]). */
  def mergeRefIndex(idx: SemanticRefIndex, more: DataFrame, id: String,
                    vec: String): SemanticRefIndex = {
    val parts = more.sparkSession.sessionState.conf.numShufflePartitions
    val planes = Planes.components(idx.bands * idx.bitsPerBand, idx.dim)
    val banded = more.select(col(id).as("_id"), col(vec).as("_fv"))
      .repartition(parts)
      .select(col("_id").as("id_b"),
        posexplode(Planes.bandBuckets(col("_fv"), planes, idx.bands,
          idx.bitsPerBand)).as(Seq("band", "bucket")))
    val allRows = idx.bandRows.select(col("band"), col("bucket"), col("id_b"))
      .unionByName(banded.select(col("band"), col("bucket"), col("id_b")))
      .localCheckpoint()
    val (ns, withSub) = Planes.refCensusSub(allRows, idx.maxBucket)
    // only the NEW slice's payload materializes — re-checkpointing the
    // full accumulated payload would copy the entire reference (the
    // index's largest object) on EVERY merge, exactly the corpus-sized
    // rescan the merge exists to avoid; the union over already-
    // materialized frames stays lazy and per-batch reads resolve to
    // the checkpointed slices
    val payload = idx.payload.unionByName(
      more.select(col(id).as("id_b"),
          Similarity.int8Quantize(col(vec)).getField("q").as("_qb"))
        .localCheckpoint())
    SemanticRefIndex(idx.bands, idx.bitsPerBand, idx.dim, idx.maxBucket,
      ns, withSub, payload)
  }

  /** Match stream rows against the reference index: emits
    * (id_a, id_b, dotq, na, nb) — plus any `carry` columns from the
    * stream row (e.g. its event time) — for every stream row whose
    * int8 cosine² against a reference vector passes
    * cos² ≥ cos2Num/cos2Den (and dotq > 0). Works identically on a
    * batch DataFrame (the spec's stream==batch gate).
    *
    * A pair sharing k (band, bucket) keys emits k rows — pass
    * `dedupWatermark` (with `ts` naming the stream's event-time
    * column) to collapse them through bounded-state
    * `dropDuplicatesWithinWatermark`; leave it None on batch inputs
    * or when a downstream exact-dedup already handles it. */
  def semanticDupMatches(stream: DataFrame, idx: SemanticRefIndex,
                         id: String, vec: String,
                         cos2Num: Long = 1, cos2Den: Long = 4,
                         carry: Seq[String] = Seq.empty,
                         ts: String = "", dedupWatermark: String = "")
      : DataFrame = {
    require(dedupWatermark.isEmpty || ts.nonEmpty,
      "ts must name the event-time column when dedupWatermark is set")
    val planes = Planes.components(idx.bands * idx.bitsPerBand, idx.dim)
    val dotL = graft.functions.VectorExpressions.dot_long _
    val carryCols = carry.map(c => col(c))
    // ‖q‖² hoists out of the match row (r12, guide §1.2-2; corrected
    // r13): the probe side computes it once per STREAM row — in a
    // projection BELOW the banding Generate, so the exploded band rows
    // carry `_na` as a column instead of re-evaluating the dot per
    // band (the r12 `withColumn` above the Generate paid bands×). The
    // two stacked projections don't collapse: CollapseProject declines
    // to inline the non-cheap quantize HOF referenced twice by the dot
    // (the documented Rules.profile behavior), so the quantize still
    // evaluates once per row. Reference side: once per payload row at
    // scan time, unchanged.
    val probes = stream.select(
        Seq(col(id).as("id_a"), col(vec).as("_fv"),
          Similarity.int8Quantize(col(vec)).getField("q").as("_qa")) ++
          carryCols: _*)
      .withColumn("_na", dotL(col("_qa"), col("_qa")))
      .select(
        Seq(col("id_a"), col("_qa"), col("_na"),
          posexplode(Planes.bandBuckets(col("_fv"), planes, idx.bands,
            idx.bitsPerBand)).as(Seq("band", "bucket"))) ++ carryCols: _*)
      .join(broadcast(idx.ns), Seq("band", "bucket"), "left")
      .withColumn("sub", when(col("_ns").isNull, lit(0L))
        .otherwise(pmod(Planes.subHash(col("id_a")), col("_ns"))))
    // the reference index is corpus-sized: NEVER broadcast it (the
    // x152-class mistake). These are per-micro-batch equi-joins; AQE
    // sizes the exchanges — and an index saved through
    // [[RefIndexStore]] IS bucketed on the join keys, so the static
    // side re-shuffles zero times across micro-batches and jobs.
    val matches = probes
      .join(idx.bandRows, Seq("band", "bucket", "sub"))
      .join(idx.payload.withColumn("_nb", dotL(col("_qb"), col("_qb"))),
        Seq("id_b"))
      .select(Seq(col("id_a"), col("id_b"),
        dotL(col("_qa"), col("_qb")).as("dotq"),
        col("_na").as("na"),
        col("_nb").as("nb")) ++ carryCols.map(identity): _*)
      .filter(col("dotq") > 0 && col("na") > 0 && col("nb") > 0 &&
        col("dotq") * col("dotq") * lit(cos2Den) >=
          lit(cos2Num) * col("na") * col("nb"))
    if (dedupWatermark.isEmpty) matches
    else matches.withWatermark(ts, dedupWatermark)
      .dropDuplicatesWithinWatermark("id_a", "id_b")
  }
}
