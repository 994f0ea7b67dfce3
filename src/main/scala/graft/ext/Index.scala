package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverted-index construction — the IR-side consumer of a curated
  * corpus (search/retrieval over the training set, deduplication
  * forensics, RAG stores all start here).
  *
  * Shape: one (term, doc) partial-aggregated shuffle builds the
  * posting rows, one term-keyed aggregation builds the lists. The
  * full posting list of a stop-grade term is corpus-sized, so the
  * operator never materializes it: per term it keeps the document
  * frequency, the collection frequency, and a bounded CHAMPION LIST
  * (the top `k` postings by term frequency — the impact-ordered
  * prefix classic IR keeps hot in memory; Manning et al., IIR §7.1.3).
  * The bound rides INSIDE the aggregation — the native
  * [[graft.functions.TopKAgg]] keeps ≤ k (tf, doc) pairs per partial,
  * so shuffle and reducer memory stay O(terms · k) even for a term
  * present in every document; nothing ever collects a full posting
  * list or sorts the posting stream.
  *
  * At 100 TB the posting rows themselves would additionally be
  * hash-sharded (bucketed) by term to make term lookups single-shard;
  * the champion build here is that pipeline's final aggregation stage.
  */
object Index {

  /** Structured champion index: one row per term with `df`, `cf` and
    * `top` — the ≤ k highest-tf postings as (v=tf, id=doc) structs in
    * (tf desc, doc asc) rank order. The string-rendered gate form
    * ([[championIndex]]) derives from this. */
  def championPostings(df: DataFrame, id: String, text: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"championPostings needs k >= 1, got $k")
    val toks = filter(split(col(text), " "), t => t =!= "")
    df.select(col(id).as("doc"), explode(toks).as("term"))
      .groupBy("term", "doc").agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        graft.functions.TopKAgg.topk(col("tf"), col("doc"), k).as("top"))
  }

  /** [[championPostings]] rendered for the correctness gate: the
    * champion list as `"doc:tf"` joined by `";"` — (tf desc, doc asc)
    * is a total order, so the string is engine-deterministic. */
  def championIndex(df: DataFrame, id: String, text: String,
                    k: Int): DataFrame =
    render(championPostings(df, id, text, k))

  /** Render a structured champion index's `top` column to the
    * gate-comparable string form. */
  def render(idx: DataFrame): DataFrame =
    idx.select(col("term"), col("df"), col("cf"),
      concat_ws(";", transform(col("top"),
        s => concat(s("id").cast("string"), lit(":"),
          s("v").cast("long").cast("string")))).as("champions"))

  /** Reciprocal-rank fusion (Cormack et al. 2009) of N independent
    * rankings of the same id space — the standard hybrid-retrieval
    * combiner (lexical BM25 list ⊕ ANN vector list) and, in a
    * curation pipeline, the way several quality orderings merge into
    * one sampling priority without score calibration.
    *
    * Each input is (id, rank) with rank ≥ 1. The textbook score
    * Σ 1/(k + rank) is float; here each contribution is the exact
    * integer floor(scale / (k + rank)) so the fused ordering is
    * bit-stable across engines and partitionings (ties broken by id).
    * An id missing from a list simply contributes nothing (standard
    * RRF semantics — union, not intersection).
    *
    * Scale shape: a union of the (already tiny, top-k-sized) ranking
    * frames + one map-combined sum per id + a TakeOrdered limit —
    * never touches the corpus itself. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, topN: Int,
              scale: Long = 1000000000L): DataFrame = {
    require(rankings.nonEmpty && k >= 0 && topN > 0,
      "need >= 1 ranking, k >= 0, topN > 0")
    val contribs = rankings.map(_.select(col("id"),
      expr(s"${scale}L div (CAST($k AS BIGINT) + rank)").as("c")))
    contribs.reduce(_ unionAll _)
      .groupBy("id")
      .agg(sum(col("c")).as("rrf_scaled"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_scaled").desc, col("id"))
      .limit(topN)
  }

  /** [[rrfFuse]] per QUERY — the hybrid-retrieval shape proper: each
    * input ranking carries (query_id, id, rank ≥ 1); contributions
    * sum per (query_id, id) with the same exact integer
    * floor(scale / (k + rank)) arithmetic, and the topN per query
    * come back through the bounded
    * [[graft.functions.TopKAgg]] heap — per-query lists are
    * top-k-sized but the QUERY PANEL can be large, so a global
    * orderBy/limit (fine for one fused list) would be wrong here,
    * and a row_number window would sort every candidate of every
    * query. A query missing from one leg fuses from the others alone
    * (n_lists says how many contributed — union semantics, the
    * partial-coverage case a hybrid lexical ⊕ dense pass hits
    * whenever one modality lacks the document). Returns
    * (query_id, fused_rank, id, rrf_scaled, n_lists). */
  def rrfFuseByQuery(rankings: Seq[DataFrame], k: Int, topN: Int,
                     scale: Long = 1000000000L): DataFrame = {
    require(rankings.nonEmpty && k >= 0 && topN > 0,
      "need >= 1 ranking, k >= 0, topN > 0")
    // the bounded heap carries ids as longs, and an implicit
    // string->long cast would null out (and silently DROP) every
    // non-numeric id under non-ANSI SQL — so string ids round-trip
    // through an internal dense-id assignment instead, and any other
    // type fails loudly ([[rrfFuse]], which never casts, stays
    // generic)
    val idTypes = rankings.map(_.schema("id").dataType).distinct
    require(idTypes.size == 1,
      s"rankings disagree on id type: ${idTypes.map(_.catalogString)}")
    if (idTypes.head == org.apache.spark.sql.types.StringType) {
      // the id domain is panel-bounded (≤ queries × k × legs rows),
      // so the dense-id map is tiny: assigned over the DISTINCT union
      // in lexicographic order (heap ties therefore break by string
      // order — deterministic), materialized once, read by every leg
      // and the map-back join
      val idMap = Prefix.denseIds(
          rankings.map(_.select(col("id"))).reduce(_ unionAll _).distinct(),
          Seq(col("id")), "_did")
        .localCheckpoint()
      val mapped = rankings.map(_.join(idMap, Seq("id"))
        .select(col("query_id"), col("_did").as("id"), col("rank")))
      return rrfFuseByQuery(mapped, k, topN, scale)
        .join(idMap.select(col("id").as("_sid"), col("_did")),
          col("id") === col("_did"))
        .select(col("query_id"), col("fused_rank"), col("_sid").as("id"),
          col("rrf_scaled"), col("n_lists"))
    }
    require(idTypes.head == org.apache.spark.sql.types.LongType ||
      idTypes.head == org.apache.spark.sql.types.IntegerType,
      s"rrfFuseByQuery needs integral or string ids " +
        s"(got ${idTypes.head.catalogString})")
    val contribs = rankings.map(_.select(col("query_id"), col("id"),
      expr(s"${scale}L div (CAST($k AS BIGINT) + rank)").as("c")))
    // materialized: read twice (the heap pass and the n_lists
    // join-back) — panel-bounded, never corpus-sized
    val summed = contribs.reduce(_ unionAll _)
      .groupBy("query_id", "id")
      .agg(sum(col("c")).as("rrf_scaled"), count(lit(1)).as("n_lists"))
      .localCheckpoint()
    // rrf_scaled ≤ scale · lists ≪ 2^53: the double-lane heap is exact
    summed.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk(
        col("rrf_scaled").cast("double"), col("id"), topN).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_kv")))
      .select(col("query_id"), (col("_pos") + 1).cast("long").as("fused_rank"),
        col("_kv.id").as("id"), col("_kv.v").cast("long").as("rrf_scaled"))
      .join(summed.select(col("query_id"), col("id"), col("n_lists")),
        Seq("query_id", "id"))
      .select(col("query_id"), col("fused_rank"), col("id"),
        col("rrf_scaled"), col("n_lists"))
  }
}
