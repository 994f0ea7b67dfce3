package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Planes}

/** Streaming TEXT near-dup-at-ingest: flag documents arriving on a
  * stream whose SimHash signature is within a hamming ball of a
  * STATIC reference corpus — the signature-space counterpart of
  * [[EmbedStream]] (which does the same for embeddings) and the
  * online counterpart of [[graft.ext.Dedup.simhashPairsAcross]].
  * The signature is a PER-ROW expression (the native codegen'd
  * [[graft.functions.SimHash64]] — no aggregate, no state), the
  * banding is the deterministic disjoint-chunk split, and the
  * oversized-bucket census counts the REFERENCE side only — a pure
  * function of the reference, identical in the build-once index and
  * the batch operator, so stream and batch replay agree EXACTLY,
  * hot buckets included (the round-9 census contract).
  *
  * Stream-static equi-joins only — STATELESS in Structured Streaming;
  * the optional per-pair dedup (a pair sharing k chunks emits k rows)
  * rides bounded-state `dropDuplicatesWithinWatermark`, exactly
  * [[EmbedStream.semanticDupMatches]]'s shape.
  */
object SimHashStream {

  /** Pre-banded static signature reference for [[simhashDupMatches]]:
    * `ns` is the oversized-bucket census over the REFERENCE
    * (≤ refRows·bands/maxBucket keys — broadcastable); `bandRows`
    * carries (band, bucket, sub, id_b); `payload` the 8-byte
    * signatures for the exact hamming verify. */
  case class SimHashRefIndex(maxHamming: Int, maxBucket: Int,
                             ns: DataFrame, bandRows: DataFrame,
                             payload: DataFrame)

  def simhashRefIndex(ref: DataFrame, id: String, text: String,
                      maxHamming: Int, maxBucket: Int = 4096)
      : SimHashRefIndex =
    sigRefIndex(ref.select(col(id).as("_id"),
      Dedup.simhash64(col(text)).as("sig")), maxHamming, maxBucket)

  /** Signature-level index build: `sigs` carries (_id, sig) where
    * `sig` is ANY 64-bit signature family with the hamming-ball
    * contract — the text path signs with the native SimHash64. */
  def sigRefIndex(sigs: DataFrame, maxHamming: Int, maxBucket: Int = 4096)
      : SimHashRefIndex = {
    require(maxBucket >= 1, "maxBucket must be positive")
    val sigsM = sigs.select(col("_id"), col("sig")).localCheckpoint()
    val banded = Dedup.simhashBandRows(sigsM, maxHamming)
      .select(col("band"), col("bucket"), col("_id").as("id_b"))
      .localCheckpoint()
    val (ns, withSub) = Planes.refCensusSub(banded, maxBucket)
    val payload = sigsM.select(col("_id").as("id_b"), col("sig").as("sig_b"))
    SimHashRefIndex(maxHamming, maxBucket, ns, withSub, payload)
  }

  /** Incrementally merge newly-accumulated reference documents into
    * an existing [[SimHashRefIndex]] — [[EmbedStream.mergeRefIndex]]'s
    * signature sibling, with the same parity contract: old band rows
    * are reused verbatim (the signature and its chunks are per-row
    * functions), only the new slice is signed and banded, and the
    * ids-only census refresh re-assigns every row's sub (a bucket
    * crossing `maxBucket` through this merge must sub-split rows
    * indexed before it). merge == full rebuild, spec-gated. */
  def mergeRefIndex(idx: SimHashRefIndex, more: DataFrame, id: String,
                    text: String): SimHashRefIndex =
    mergeSigRefIndex(idx, more.select(col(id).as("_id"),
      Dedup.simhash64(col(text)).as("sig")))

  /** [[mergeRefIndex]]'s signature-level form — the maintenance path
    * for [[sigRefIndex]]-built media indexes. */
  def mergeSigRefIndex(idx: SimHashRefIndex, moreSigs: DataFrame)
      : SimHashRefIndex = {
    val sigs = moreSigs.select(col("_id"), col("sig")).localCheckpoint()
    val allRows = idx.bandRows
      .select(col("band"), col("bucket"), col("id_b"))
      .unionByName(Dedup.simhashBandRows(sigs, idx.maxHamming)
        .select(col("band"), col("bucket"), col("_id").as("id_b")))
      .localCheckpoint()
    val (ns, withSub) = Planes.refCensusSub(allRows, idx.maxBucket)
    // only the NEW slice's payload materializes (see
    // EmbedStream.mergeRefIndex): sigs is already checkpointed, so
    // the union over materialized frames stays lazy
    val payload = idx.payload.unionByName(
      sigs.select(col("_id").as("id_b"), col("sig").as("sig_b")))
    SimHashRefIndex(idx.maxHamming, idx.maxBucket, ns, withSub, payload)
  }

  /** Match stream documents against the reference index: emits
    * (id_a, id_b, hamming) — plus any `carry` columns from the stream
    * row — for every stream document within the index's hamming ball
    * of a reference document. Works identically on a batch DataFrame
    * (the spec's stream==batch gate). Pass `dedupWatermark` (with
    * `ts` naming the event-time column) to collapse the per-chunk
    * duplicate rows through bounded-state
    * `dropDuplicatesWithinWatermark`. */
  def simhashDupMatches(stream: DataFrame, idx: SimHashRefIndex,
                        id: String, text: String,
                        carry: Seq[String] = Seq.empty,
                        ts: String = "", dedupWatermark: String = "")
      : DataFrame =
    sigDupMatches(stream.select(
        Seq(col(id).as("_id"), Dedup.simhash64(col(text)).as("sig")) ++
          carry.map(c => col(c)): _*),
      idx, carry, ts, dedupWatermark)

  /** [[simhashDupMatches]]'s signature-level form: `sigStream`
    * carries (_id, sig, carry...) — sign upstream with whatever
    * scan-speed expression fits the modality (SimHash64 for text;
    * a fingerprinted media frame for images/audio). Stateless
    * stream-static equi-joins, same census contract. */
  def sigDupMatches(sigStream: DataFrame, idx: SimHashRefIndex,
                    carry: Seq[String] = Seq.empty,
                    ts: String = "", dedupWatermark: String = "")
      : DataFrame = {
    require(dedupWatermark.isEmpty || ts.nonEmpty,
      "ts must name the event-time column when dedupWatermark is set")
    val carryCols = carry.map(c => col(c))
    // the signature and carry columns ride THROUGH the chunk Generate
    // (simhashBandRows preserves input columns) — a streaming frame
    // cannot join back to itself to re-fetch them
    val probes = Dedup.simhashBandRows(sigStream, idx.maxHamming)
      .join(broadcast(idx.ns), Seq("band", "bucket"), "left")
      .withColumn("sub", when(col("_ns").isNull, lit(0L))
        .otherwise(pmod(Planes.subHash(col("_id")), col("_ns"))))
    // the reference index is corpus-sized: never broadcast it
    val matches = probes
      .join(idx.bandRows, Seq("band", "bucket", "sub"))
      .join(idx.payload, Seq("id_b"))
      .select(Seq(col("_id").as("id_a"), col("id_b"),
        bit_count(col("sig").bitwiseXOR(col("sig_b"))).as("hamming")) ++
        carryCols.map(identity): _*)
      .filter(col("hamming") <= idx.maxHamming)
    if (dedupWatermark.isEmpty) matches
    else matches.withWatermark(ts, dedupWatermark)
      .dropDuplicatesWithinWatermark("id_a", "id_b")
  }
}
