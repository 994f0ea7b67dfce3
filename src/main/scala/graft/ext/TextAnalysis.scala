package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extensions beyond the reference surface; BASELINE.json).
  *
  * Everything is a pure `Column` expression — codegen'd, no UDFs, no
  * shuffles beyond the caller's own aggregations — so each operator
  * streams over a 100 TB documents table at scan speed.
  */
object TextAnalysis {

  /** Whitespace tokens (the multiset — duplicates preserved). */
  def tokens(text: Column): Column = split(text, " ")

  /** Adjacent-token (prev, tok) pairs as ONE whole-stage-codegen array
    * expression: `arrays_zip(toks[1..n−1], toks[2..n])` — slice and
    * arrays_zip are native collection expressions, so a 100 TB
    * documents scan builds its bigram stream without interpreter
    * round-trips. The pre-r13 form (`transform(sequence(1, n−1), i =>
    * struct(_t[i−1], _t[i]))`) produced the identical array but
    * `transform` is CodegenFallback: every row paid an interpreted
    * lambda per bigram plus per-element boxing (bit-identity pinned
    * in R13OptSpec). Rows with < 2 tokens yield an empty array
    * (callers also pre-filter on size ≥ 2). */
  private[ext] def bigramPairs(toks: Column): Column = {
    // greatest(…, 0): slice rejects a negative length, and a 0- or
    // 1-token row must yield [] here rather than depend on callers'
    // size ≥ 2 pre-filters staying upstream of the Generate
    val len = greatest(size(toks) - 1, lit(0))
    arrays_zip(slice(toks, lit(1), len).as("prev"),
      slice(toks, lit(2), len).as("tok"))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-piece granularity without a vocab —
    * splits on punctuation/whitespace AND letter↔digit boundaries.
    * Implemented lookaround-free (two transition-marking replaces +
    * one split) so RE2-based engines (the DuckDB oracle, x16) compute
    * the identical count. */
  def subwordCount(text: Column): Column = {
    val marked = regexp_replace(
      regexp_replace(text, "(\\p{L})(\\p{N})", "$1 $2"),
      "(\\p{N})(\\p{L})", "$1 $2")
    size(filter(split(marked, "[^\\p{L}\\p{N}]+"), t => length(t) > 0))
  }

  /** Distinct-n corpus diversity (Li et al. 2016's distinct-n, at
    * group granularity): distinct n-grams / total n-grams per group —
    * the templated-content red flag a token count can't see (a crawl
    * of boilerplate pages has huge token totals but tiny distinct-2).
    * One explode of the native [[graft.functions.TokenNgrams]] stream,
    * then total and distinct counted in two map-combined aggregations
    * joined on the tiny group key (one agg with count_distinct would
    * Expand-double the corpus-sized n-gram stream — the x200 lesson).
    * Groups with no n-grams (all texts NULL or shorter than n tokens)
    * produce no row. Returns (grp, n_ngrams, n_distinct,
    * distinct_ppm). */
  def ngramDiversity(df: DataFrame, group: String, text: String,
                     n: Int): DataFrame = {
    require(n >= 1 && n <= 8, "n must be in [1, 8]")
    val grams = df.select(col(group).as("grp"), explode(
      graft.functions.TokenNgrams.tokenNgrams(col(text), n)).as("_g"))
    val tot = grams.groupBy("grp").agg(count(lit(1)).as("n_ngrams"))
    val dis = grams.groupBy("grp")
      .agg(count_distinct(col("_g")).as("n_distinct"))
    tot.join(dis, Seq("grp"))
      .withColumn("distinct_ppm",
        IntMath.ppmDiv(col("n_distinct"), col("n_ngrams")))
  }

  /** Stopword ratio over a caller-supplied lexicon. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val stops = filter(toks, t => t.isInCollection(stopwords))
    size(stops).cast("double") / size(toks)
  }

  /** Mean token length — a cheap quality signal (gibberish and
    * boilerplate skew short/long). */
  def meanTokenLength(text: Column): Column =
    (length(text) - size(tokens(text)) + 1).cast("double") / size(tokens(text))

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
      .cast("double") / length(text)

  /** Composite quality score in [0,1]: favors mid-length documents
    * with low punctuation noise (weights are a demo policy; real
    * pipelines tune them). 4-dp rounding is floor(x*1e4+0.5)/1e4
    * rather than round(): the explicit formula is bit-identical in any
    * engine given identical inputs, where native round() algorithms
    * differ on doubles. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    floor((lenScore * 0.6 + punctPenalty * 0.4) * 10000.0 + 0.5) / 10000.0
  }

  /** Language-ID by marker-word voting: per language, count tokens in
    * its marker lexicon; highest count wins (ties broken by lexicon
    * order). N-gram-profile LID distilled to a deterministic,
    * SQL-expressible core. */
  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column =
    langIdTokens(tokens(text), markers)

  /** [[langId]] over an already-tokenized array — the form
    * [[langSegments]] applies per chunk. */
  def langIdTokens(toks: Column, markers: Seq[(String, Seq[String])])
      : Column = {
    // score each lexicon once; argmax = first index achieving the max
    // (equivalent to a first-wins fold, without the fold's O(n²)
    // duplication of score subtrees)
    val scores = array(markers.map { case (_, words) =>
      size(filter(toks, t => t.isInCollection(words)))
    }: _*)
    val langs = array(markers.map { case (lang, _) => lit(lang) }: _*)
    element_at(langs, array_position(scores, array_max(scores)).cast("int"))
  }

  /** Code-switching / language-mixing profile: chunk the document
    * into fixed token windows, language-ID each chunk
    * ([[langIdTokens]]), and report how MIXED the document is —
    * (n_chunks, n_segments of contiguous same-language runs,
    * majority_lang, majority share in ppm). Single-language prose
    * gives 1 segment at 10⁶ ppm; interleaved translations / spam
    * mashups fragment into many segments — a curation signal doc-
    * level [[langId]] is structurally blind to (the majority vote
    * hides the minority language entirely).
    *
    * Ties: per chunk, first lexicon in declared order (langId's
    * convention); for the majority, lexicographically smallest
    * language among the tied counts. Pure in-row HOFs — scan speed,
    * no shuffle, no window. */
  def langSegments(text: Column, chunkTokens: Int,
                   markers: Seq[(String, Seq[String])]): Column = {
    require(chunkTokens >= 1, "chunkTokens must be positive")
    val toks = tokens(text)
    val nch = greatest(
      ((size(toks) + lit(chunkTokens - 1)) / lit(chunkTokens)).cast("int"),
      lit(1))
    val lgs = transform(sequence(lit(0), nch - 1), i =>
      langIdTokens(slice(toks, i * chunkTokens + 1, lit(chunkTokens)),
        markers))
    val segs = when(nch === 1, lit(1L)).otherwise(
      aggregate(sequence(lit(1), nch - 1), lit(1L), (acc, i) =>
        acc + when(element_at(lgs, i + 1) =!= element_at(lgs, i), 1L)
          .otherwise(0L)))
    val dls = array_sort(array_distinct(lgs))
    val cnts = transform(dls, l => size(filter(lgs, x => x === l)))
    val mx = array_max(cnts)
    struct(
      nch.cast("long").as("n_chunks"),
      segs.as("n_segments"),
      element_at(dls, array_position(cnts, mx).cast("int"))
        .as("majority_lang"),
      IntMath.truncDiv(mx.cast("long") * 1000000L, nch).as("majority_ppm"))
  }

  /** Intra-document repetition ratio: 1 − distinct/total tokens — the
    * boilerplate/template signal (generated and scraped text repeats
    * tokens far more than prose). Exact rational arithmetic, so the
    * value is engine-portable (x24). */
  def repetitionRatio(text: Column): Column = {
    val toks = tokens(text)
    lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks)
  }

  /** Most-repeated token and its count, as a (token, count) struct —
    * names the boilerplate [[repetitionRatio]] detects. Ties break
    * toward the lexicographically smallest token (deterministic).
    * In-row HOF scan, O(distinct × total) per document — both factors
    * are single-document token counts, so this stays scan-speed
    * regardless of corpus size. */
  def topToken(text: Column): Column = {
    val toks = tokens(text)
    val dts = array_sort(array_distinct(toks))
    val counts = transform(dts, t => size(filter(toks, x => x === t)))
    val maxc = array_max(counts)
    struct(
      element_at(dts, array_position(counts, maxc).cast("int")).as("token"),
      maxc.as("count"))
  }

  /** Per-document Shannon token entropy, quantized to integer bits —
    * the information-density quality signal ([[repetitionRatio]]'s
    * principled cousin): templated/generated text concentrates mass on
    * few tokens and scores low, natural prose spreads mass and scores
    * high. Exact entropy needs log2 of rationals (a transcendental,
    * not engine-portable); instead each distinct token with count c
    * out of N contributes c · floor(log2(N div c)) bits — the same
    * Zipf-bucket quantization as [[unigramSurprisal]], computed as the
    * binary digit count `length(bin(N div c)) − 1` so every engine
    * gets the identical integer. Output `entropy_ppm` =
    * 10⁶·Σbits div N (micro-bits per token).
    *
    * In-row HOF scan, O(distinct × total) per document like
    * [[topToken]] — no explode, no shuffle, scan speed at any corpus
    * size. Returns (n_toks, n_distinct, entropy_ppm) columns appended
    * via the returned expressions. */
  def tokenEntropy(text: Column): Column = {
    val toks = filter(tokens(text), t => t =!= "")
    val n = size(toks).cast("long")
    // Column `/` is IEEE double division; floor(·) recovers the exact
    // integer quotient because numerator and denominator are document
    // token counts (≪ 2⁵²: the quotient's ulp is far below the 1/c
    // minimum fractional part, so rounding can never cross an integer)
    val counts = transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)).cast("long"))
    val bitsSum = aggregate(counts, lit(0L),
      (acc, c) => acc + c * (length(bin(floor(n / c).cast("long"))) - 1))
    struct(
      n.as("n_toks"),
      size(counts).cast("long").as("n_distinct"),
      floor((bitsSum * 1000000L) / n).cast("long").as("entropy_ppm"))
  }

  /** Per-document top-k distinguishing terms, tf-idf family: score =
    * tf · N / df with a RATIONAL idf (N/df) instead of log(N/df).
    * With integer tf/N/df the score is a single correctly-rounded
    * IEEE754 division, so ranking and values are bit-identical in any
    * engine (the x21 oracle) — ln() is the one transcendental whose
    * last bit is not guaranteed across engines, and for a fixed tf the
    * two idfs order terms identically (log is monotone). Drop-in
    * log-idf: replace the score expression with
    * `tf * log((N + 1.0) / (df + 1.0))` where gate-exactness isn't
    * needed.
    *
    * Plan shape at scale: one explode + two hash aggregations (doc-term
    * tf, then term df — both map-side combined), a shuffle join on the
    * term key, and a per-doc top-k window. The corpus size N rides a
    * 1-row broadcast, keeping the whole computation lazy/composable
    * (no driver-side count action). */
  def topTermsByRarity(df: DataFrame, id: String, text: String, k: Int)
      : DataFrame = {
    val toks = df.select(col(id).as("doc_id"),
      explode(tokens(col(text))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf already has one row per (doc, term) → df = plain count
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("term_df"))
    val n = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("term_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("term_df"), col("score"))
  }

  /** Shared BM25 corpus machinery — ONE definition for
    * [[bm25TopTerms]] and [[bm25Retrieve]], whose arithmetic is
    * documented as identical (so a retune or the documented overflow
    * move — past T·tf ≈ 10¹² lift the ppm multiply into
    * DECIMAL(38,0) — can never diverge the two): the (tf, dl, dfreq,
    * totals) statistics frames from one tokenize pass, the
    * Zipf-bucket idf, and the fraction-cleared k1 = 6/5, b = 3/4
    * score in ppm. */
  private def bm25Corpus(corpus: DataFrame, id: String, text: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toks = corpus.select(col(id).as("doc_id"),
      explode(filter(tokens(col(text)), t => t =!= "")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    // tf has one row per (doc, term) -> df = plain count
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("term_df"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_toks"))
    (tf, dl, dfreq, totals)
  }

  private def bm25IdfBits: Column =
    (length(bin(expr("n_docs div term_df"))) - 1).cast("long")

  private def bm25ScorePpm: Column = expr(
    """idf_bits * ((1000000 * 44 * t_toks * tf)
      |  div (20 * t_toks * tf + 6 * t_toks + 18 * dl * n_docs))""".stripMargin)

  /** Per-document top-k terms under BM25 (Robertson–Walker, the
    * retrieval-era successor of [[topTermsByRarity]]'s raw tf-idf):
    * adds the saturating tf normalization and document-length
    * correction that make long documents and repeated terms stop
    * dominating. Engine-exact by the same two devices the rest of the
    * text stack uses:
    *   - idf quantized to its ZIPF BUCKET, `floor(log2(N / df))`,
    *     computed as the binary digit count of an integer quotient
    *     (never a float log — see [[unigramSurprisal]]);
    *   - the k1=1.2, b=0.75 tf normalization cleared of fractions:
    *     with k1 = 6/5 and b = 3/4 over avgdl = T/N,
    *       tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *     = 44·T·tf / (20·T·tf + 6·T + 18·dl·N)
    *     — one integer quotient, scaled to ppm before the division.
    *   score_ppm = idf_bits · (10⁶·44·T·tf div (20·T·tf + 6·T + 18·dl·N)).
    * At gate scales every intermediate fits comfortably in BIGINT;
    * past T·tf ≈ 10¹² move the ppm multiply into DECIMAL(38,0) (same
    * integer semantics, wider lanes).
    *
    * Plan shape: one explode, three map-combined aggregations (doc-term
    * tf, per-doc length, term df), a 1-row (N, T) broadcast, one
    * shuffle join on the term key, one per-doc top-k window. The
    * vocabulary is never broadcast. */
  def bm25TopTerms(df: DataFrame, id: String, text: String, k: Int)
      : DataFrame = {
    require(k >= 1, "k must be positive")
    val (tf, dl, dfreq, totals) = bm25Corpus(df, id, text)
    val scored = tf.join(dl, "doc_id").join(dfreq, "term")
      .crossJoin(broadcast(totals))
      .withColumn("idf_bits", bm25IdfBits)
      .withColumn("score_ppm", bm25ScorePpm)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_ppm").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("term_df"), col("score_ppm"))
  }

  /** BM25 top-k RETRIEVAL for a query panel — the search-shaped
    * counterpart of [[bm25TopTerms]]: each query's (distinct) terms
    * score against the corpus postings and the k best documents per
    * query come back as (query_id, rank, doc_id, score_ppm). The
    * training-data uses: mining hard negatives for retrieval training,
    * lexical near-miss checks against an eval suite, and the sparse
    * leg of a hybrid (dense + lexical) dedup pass ([[Index.rrfFuse]]
    * fuses it with the ANN leg).
    *
    * Identical integer-exact BM25 arithmetic as [[bm25TopTerms]]
    * (Zipf-bucket idf, fraction-cleared k1 = 6/5, b = 3/4
    * normalization, ppm quotient) — per-term scores are exact
    * integers and the per-(query, doc) sum stays far below 2^53, so
    * the double-lane [[graft.functions.TopKAgg]] heap loses nothing.
    *
    * Scale shape: corpus statistics are the same three map-combined
    * aggregations as [[bm25TopTerms]]; the QUERY side is small by
    * nature (a panel, an eval suite) so its distinct (query, term)
    * rows BROADCAST into the postings join — the corpus never
    * shuffles except the (query, doc) partial-sum agg, which is
    * bounded by actual postings hits; the final top-k is the bounded
    * heap aggregate, never a window sort of the corpus. */
  def bm25Retrieve(queries: DataFrame, qId: String, qText: String,
                   corpus: DataFrame, id: String, text: String, k: Int)
      : DataFrame = {
    require(k >= 1, "k must be positive")
    val (tf, dl, dfreq, totals) = bm25Corpus(corpus, id, text)
    val qterms = queries.select(col(qId).as("query_id"),
      explode(array_distinct(filter(tokens(col(qText)), t => t =!= "")))
        .as("term"))
    val perTerm = tf.join(broadcast(qterms), Seq("term"))
      .join(dl, "doc_id").join(dfreq, "term")
      .crossJoin(broadcast(totals))
      .withColumn("idf_bits", bm25IdfBits)
      .withColumn("score_ppm", bm25ScorePpm)
    perTerm.groupBy("query_id", "doc_id")
      .agg(sum(col("score_ppm")).as("score_ppm"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk(
        col("score_ppm").cast("double"), col("doc_id"), k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_kv")))
      .select(col("query_id"), (col("_pos") + 1).cast("long").as("rank"),
        col("_kv.id").as("doc_id"), col("_kv.v").cast("long").as("score_ppm"))
  }

  /** Class-based TF-IDF (c-TF-IDF): the k most DISTINGUISHING terms
    * per group — per-source/topic/language vocabulary signatures, the
    * corpus-exploration report behind "what is actually in this
    * slice" and the BERTopic-style cluster labeling step. Group term
    * frequency × a Zipf-bucketed inverse GROUP frequency
    * (⌊log₂(G / groups-containing-term)⌋ — exact integer, like every
    * idf in this module). Deterministic: score desc, term asc.
    *
    * Plan shape: one map-combined (group, term) count, a group-
    * frequency agg over it, the group count as a 1-row broadcast,
    * and a per-GROUP ranking window — partitioned by group, and
    * group cardinality (sources, topics, languages) is small by
    * nature, so no single reducer ever sees more than one group's
    * vocabulary. Returns (group, rank, term, tf, df_groups, score). */
  def classTfidf(df: DataFrame, group: String, text: String, k: Int)
      : DataFrame = {
    require(k >= 1, "k must be positive")
    val tf = df.select(col(group).as("_g"),
        explode(filter(tokens(col(text)), t => t =!= "")).as("term"))
      .groupBy("_g", "term").agg(count(lit(1)).as("tf"))
    val gf = tf.groupBy("term").agg(count(lit(1)).as("df_groups"))
    val ng = tf.select(col("_g")).distinct().agg(count(lit(1)).as("_ng"))
    val scored = tf.join(gf, "term").crossJoin(broadcast(ng))
      .withColumn("score",
        col("tf") * (length(bin(IntMath.truncDiv(col("_ng"),
          col("df_groups")))) - 1).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_g").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_g").as(group), col("rank"), col("term"), col("tf"),
        col("df_groups"), col("score"))
  }

  /** Per-document unigram surprisal — the distributable analogue of
    * CCNet's LM-perplexity quality signal: rare-token-heavy documents
    * (gibberish, boilerplate IDs, OCR noise) score high, documents of
    * common language score low. Token surprisal is quantized to its
    * ZIPF BUCKET, `floor(log2(total / cnt))` computed EXACTLY in
    * integer arithmetic (binary digit count of the integer quotient —
    * never a float log, so any engine reproduces it bit-for-bit), and
    * a document reports the token count, the bucket sum, and their
    * ratio in ppm.
    *
    * Plan shape at scale: one map-combined token count (the corpus
    * vocabulary), a 1-row total broadcast, one shuffle join of the
    * token stream against the vocabulary, one map-combined per-doc
    * aggregation. The token explode is recomputed rather than cached —
    * at corpus scale a rescan beats materializing the token stream. */
  def unigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = df.select(col(id).as("doc_id"),
      explode(filter(tokens(col(text)), t => t =!= "")).as("t"))
    val wc = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = wc.agg(sum(col("cnt")).as("total"))
    toks.join(wc, "t").crossJoin(broadcast(total))
      .withColumn("bits",
        (length(bin(expr("total div cnt"))) - 1).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("bits")).as("bits_sum"))
      .withColumn("surprisal_ppm", expr("bits_sum * 1000000 div n_toks"))
  }

  /** Cross-corpus unigram surprisal — the actual CCNet-style quality
    * FILTER shape, where [[unigramSurprisal]] is the self-scored
    * diagnostic: score every document of one corpus under the unigram
    * model of a REFERENCE corpus (clean wiki-grade text), so
    * gibberish, boilerplate and out-of-domain documents surface as
    * high-surprisal outliers regardless of how self-consistent they
    * are. Add-one (Laplace) smoothing over the reference vocabulary
    * keeps out-of-vocabulary tokens finite and integer-exact: a token
    * seen cnt times in the reference contributes
    * floor(log2((total+V) / (cnt+1))) bits — the same engine-portable
    * binary-digit-count quantization as [[unigramSurprisal]] — and
    * each document also reports its raw OOV count (the sharpest
    * single gibberish signal).
    *
    * Plan shape at scale: one map-combined reference token count, a
    * 1-row (total, V) broadcast, one shuffle join of the scored token
    * stream against the reference vocabulary (left join — OOV rows
    * survive with cnt 0), one map-combined per-doc aggregation. */
  def crossSurprisal(train: DataFrame, score: DataFrame, id: String,
                     text: String): DataFrame = {
    val tc = train
      .select(explode(filter(tokens(col(text)), t => t =!= "")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val totals = tc.agg(sum(col("cnt")).as("total"), count(lit(1)).as("v"))
    val toks = score.select(col(id).as("doc_id"),
      explode(filter(tokens(col(text)), t => t =!= "")).as("t"))
    toks.join(tc, Seq("t"), "left").na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(totals))
      .withColumn("bits",
        (length(bin(expr("(total + v) div (cnt + 1)"))) - 1).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("cnt") === 0L, 1L).otherwise(0L)).as("oov"),
        sum(col("bits")).as("bits_sum"))
      .withColumn("surprisal_ppm", expr("bits_sum * 1000000 div n_toks"))
  }

  /** OOV-rate curve — "how big must the vocabulary be": for each
    * candidate vocabulary size V, the exact out-of-vocabulary TOKEN
    * mass if the vocab kept the top-V terms by frequency. The
    * tokenizer-budget design table (diminishing-returns readout)
    * computed WITHOUT ranking any individual term: coverage only
    * depends on the count SPECTRUM — a V cutting through the
    * count-c band covers (V − terms_above)·c tokens from that band
    * regardless of which c-count terms are kept, so the whole curve
    * falls out of cumulative sums over the ≤ max-count-row spectrum.
    *
    * Scale shape: one map-combined token count, one map-combined
    * spectrum reduction (rows ≤ max term frequency), cumulative sums
    * via [[Prefix.globalRunningSums]] over the spectrum spine (never
    * a single-reducer window), and an in-row evaluation of each V.
    * Output: (vocab_size, n_distinct_terms, covered_tokens,
    * total_tokens, oov_ppm). */
  def oovCurve(df: DataFrame, text: String, vocabSizes: Seq[Long])
      : DataFrame = {
    require(vocabSizes.nonEmpty && vocabSizes.forall(_ >= 1),
      "vocab sizes must be positive")
    val wc = df
      .select(explode(filter(tokens(col(text)), t => t =!= "")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val spectrum = wc.groupBy("cnt").agg(count(lit(1)).as("nt"))
    // cumulative terms/tokens over the spine in DESCENDING count
    // order (the order a frequency-truncated vocab fills up)
    val cum = Prefix.globalRunningSums(spectrum, Seq(col("cnt").desc),
      Seq(col("nt") -> "cum_terms",
        (col("nt") * col("cnt")) -> "cum_tokens"))
    val totals = spectrum.agg(sum(col("nt")).as("n_terms"),
      sum(col("nt") * col("cnt")).as("total_tokens"))
    val sizes = vocabSizes.sorted
    // for each V: bands with cum_terms ≤ V are fully kept (coverage =
    // the largest such cum_tokens); the unique band straddling V
    // contributes (V − terms_before)·cnt on top of its predecessor's
    // cumulative
    val rows = sizes.map { v =>
      val before = col("cum_terms") - col("nt")
      cum.filter(before < v)
        .agg(max(when(col("cum_terms") <= v, col("cum_tokens"))).as("_full"),
          min(when(col("cum_terms") > v,
            col("cum_tokens") - col("nt") * col("cnt") +
              (lit(v) - (col("cum_terms") - col("nt"))) * col("cnt")))
            .as("_part"))
        .select(lit(v).as("vocab_size"),
          coalesce(col("_part"), col("_full"), lit(0L)).as("covered_tokens"))
    }.reduce(_.union(_))
    rows.crossJoin(broadcast(totals))
      .select(col("vocab_size"),
        least(col("n_terms"), col("vocab_size")).as("n_kept_terms"),
        least(col("covered_tokens"), col("total_tokens"))
          .as("covered_tokens"),
        col("total_tokens"),
        IntMath.ppmDiv(col("total_tokens") -
          least(col("covered_tokens"), col("total_tokens")),
          col("total_tokens")).as("oov_ppm"))
  }

  /** Good–Turing frequency spectrum: N_r = how many distinct tokens
    * occur exactly r times, plus the Turing adjusted-count NUMERATOR
    * (r+1)·N_{r+1} — kept integer so the estimate r* = (r+1)N_{r+1}/N_r
    * stays an exact rational and no float division crosses an engine
    * boundary (the n-gram smoothing statistic of Katz/SGT backoff;
    * N_1/N also estimates the unseen-mass/OOV rate of a corpus).
    *
    * Scale shape: one map-combined token count, one map-combined
    * spectrum count over it (output is ≤ max-frequency rows — tiny),
    * and one self-join on r+1 of that tiny table. */
  def countOfCounts(df: DataFrame, text: String): DataFrame = {
    val counts = df
      .select(explode(filter(tokens(col(text)), t => t =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("r"))
    val spectrum = counts.groupBy("r").agg(count(lit(1)).as("n_r"))
    spectrum.as("a")
      .join(spectrum.select(col("r").as("_r1"), col("n_r").as("_n1")).as("b"),
        col("a.r") + 1 === col("_r1"), "left")
      .select(col("a.r").as("r"), col("a.n_r").as("n_r"),
        ((col("a.r") + 1) * coalesce(col("_n1"), lit(0L))).as("gt_num"))
  }

  /** Canonical text cleanup — the first mechanical pass of every
    * ingest pipeline: control characters (C0 + DEL) become spaces,
    * whitespace runs collapse to one space, edges trim, case folds
    * to lower. Pure codegen'd Column ops (two regexp_replace + trim
    * + lower — the regex subset used is shared by Java regex and
    * RE2, so any engine normalizes identically); runs at scan speed,
    * no shuffle. Normalize BEFORE hashing/shingling so that
    * formatting-only variants dedup together ([[Dedup]] operators
    * compose downstream). */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f\\x7f]", " "), " {2,}", " ")))

  /** Chao1 vocabulary-richness estimate — "how many distinct terms
    * does the FULL population have, given what this sample showed":
    * the species-richness estimator applied to corpus vocabulary,
    * the standard answer to "have we crawled enough to stop seeing
    * new vocabulary" (estimate ≈ observed ⇒ coverage saturated;
    * estimate ≫ observed ⇒ the tail is still unseen). Uses the
    * bias-corrected form V + F₁(F₁−1)/(2(F₂+1)) over the frequency
    * spectrum's singleton/doubleton counts, plus Good–Turing unseen
    * mass F₁/N — all exact integers (ppm via floor division).
    *
    * Plan shape: one map-combined token count, one 1-row aggregate
    * over the vocabulary frame (F₁/F₂ as conditional sums). Returns
    * one row: (n_tokens, v_obs, f1, f2, chao1_ppm, unseen_mass_ppm). */
  def chao1Richness(df: DataFrame, text: String): DataFrame = {
    val counts = df
      .select(explode(filter(tokens(col(text)), t => t =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("r"))
    counts.agg(
        sum(col("r")).as("n_tokens"),
        count(lit(1)).as("v_obs"),
        sum(when(col("r") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("r") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("v_obs"), col("f1"), col("f2"),
        (col("v_obs") * lit(1000000L) +
          IntMath.truncDiv(lit(1000000L) * col("f1") * (col("f1") - 1),
            lit(2L) * (col("f2") + 1))).as("chao1_ppm"),
        IntMath.ppmDiv(col("f1"), col("n_tokens")).as("unseen_mass_ppm"))
  }

  /** Quantized Zipf slope of the rank–frequency curve — "does this
    * corpus have a natural vocabulary distribution": organic language
    * sits near slope −1 in log₂rank/log₂freq space; templated or
    * machine-generated corpora flatten (every page the same tokens)
    * or cliff (tiny head, no tail). The regression runs over
    * floor-log₂ BUCKETS of rank and frequency (binary digit counts —
    * the same engine-exact quantization as the surprisal operators),
    * so the least-squares slope is an exact integer fraction
    * slope_num/slope_den, no float anywhere.
    *
    * Plan shape: one map-combined token count, ranks over the
    * (freq desc, token) spine via [[Prefix.globalRunningSum]] (range
    * exchange + offsets — never a single-reducer window), in-row
    * log₂ bucketing, one 1-row regression reduce. Returns
    * (v_obs, slope_num, slope_den) — slope ≈ −1 ⇔ num ≈ −den. */
  def zipfSlope(df: DataFrame, text: String): DataFrame = {
    val counts = df
      .select(explode(filter(tokens(col(text)), t => t =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val ranked = Prefix.globalRunningSum(counts,
      order = Seq(col("freq").desc, col("tok")), value = lit(1L),
      cumName = "rank")
    def log2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    ranked
      .select(log2(col("rank")).as("_x"), log2(col("freq")).as("_y"))
      .agg(count(lit(1)).as("v_obs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_x") * col("_y")).as("_sxy"))
      .select(col("v_obs"),
        (col("v_obs") * col("_sxy") - col("_sx") * col("_sy"))
          .as("slope_num"),
        (col("v_obs") * col("_sxx") - col("_sx") * col("_sx"))
          .as("slope_den"))
  }

  /** Per-document BIGRAM (conditional) surprisal — one step closer to
    * CCNet's LM signal than [[unigramSurprisal]]: each token is scored
    * against its predecessor, `floor(log2(cnt(prev) / cnt(prev,tok)))`
    * in Zipf buckets (binary digit count of the integer quotient —
    * cnt(prev) ≥ cnt(prev,tok) always, so the quotient is ≥ 1 and the
    * arithmetic is engine-exact). Documents whose token transitions
    * are corpus-typical score low; shuffled/templated text scores
    * high. Docs need ≥ 2 tokens to emit a row.
    *
    * Plan shape: one map-combined bigram count (shuffle on the pair),
    * one map-combined unigram count (shuffle on the token), the
    * per-doc bigram stream joins both (the unigram side via its own
    * key), then one map-combined per-doc aggregation. Linear; no
    * broadcast of the vocabulary (it doesn't fit at corpus scale). */
  def bigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = filter(tokens(col(text)), t => t =!= "")
    val bigrams = df.select(col(id).as("doc_id"), toks.as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col("doc_id"), explode(bigramPairs(col("_t"))).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.tok").as("tok"))
    val bcnt = bigrams.groupBy("prev", "tok").agg(count(lit(1)).as("bcnt"))
    // context counts = occurrences of `prev` AS A BIGRAM LEFT SIDE
    // (not raw unigram frequency), so cnt(prev) = sum of its bigram
    // counts and the quotient is a true conditional probability
    val ccnt = bcnt.groupBy("prev").agg(sum(col("bcnt")).as("ccnt"))
    bigrams.join(bcnt, Seq("prev", "tok")).join(ccnt, Seq("prev"))
      .withColumn("bits",
        (length(bin(expr("ccnt div bcnt"))) - 1).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("bits_sum"))
      .withColumn("surprisal_ppm", expr("bits_sum * 1000000 div n_bigrams"))
  }

  /** Kneser–Ney continuation counts — the statistics behind the KN
    * smoothing family every n-gram LM (and LM-based quality scorer)
    * uses: for each token, the number of DISTINCT left contexts
    * (N1+(•w), the continuation-probability numerator), distinct
    * right contexts (N1+(w•), the backoff normalizer), and the corpus
    * bigram-type total (the shared denominator). "how many contexts
    * has this word been seen in" — not "how often" — is what
    * separates versatile words from frequent-but-bound ones
    * ("Francisco" is frequent yet almost always follows "San").
    *
    * All integers: one in-row bigram build (no self-join), one
    * map-combined distinct over bigram TYPES (the only
    * volume-proportional shuffle), two map-combined counts over the
    * type table, a full outer join on the token key, a 1-row total
    * broadcast. */
  def knContinuationCounts(df: DataFrame, text: String): DataFrame = {
    val toks = filter(tokens(col(text)), t => t =!= "")
    val types = df.select(toks.as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(explode(bigramPairs(col("_t"))).as("b"))
      .select(col("b.prev"), col("b.tok")).distinct()
    val total = types.agg(count(lit(1)).as("bigram_types"))
    val left = types.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_left_types"))
    val right = types.groupBy(col("prev").as("tok"))
      .agg(count(lit(1)).as("n_right_types"))
    left.join(right, Seq("tok"), "full_outer")
      .crossJoin(broadcast(total))
      .select(col("tok"),
        coalesce(col("n_left_types"), lit(0L)).as("n_left_types"),
        coalesce(col("n_right_types"), lit(0L)).as("n_right_types"),
        col("bigram_types"))
  }

  /** Corpus-wide collocation discovery by PMI (pointwise mutual
    * information) over adjacent token pairs — the classic phrase-mining
    * signal ("New York" scores high because its parts co-occur far
    * beyond chance; "of the" scores low because both parts are
    * everywhere). PMI = log2(c_ab·N / (c_a·c_b)) is quantized to its
    * integer log2 bucket computed toward zero — binary digit count of
    * the integer quotient, negated when the ratio is < 1 — so no float
    * log crosses engines (the same device as [[unigramSurprisal]];
    * negative PMI just flips numerator and denominator). `minCount`
    * suppresses the low-frequency pairs whose PMI is unstable noise
    * (the standard mitigation for PMI's rare-pair bias).
    *
    * Plan shape: one map-combined pair count, two map-combined
    * marginal counts (left role, right role), a 1-row total broadcast,
    * two key joins, and a global top-k (rows after `minCount`
    * filtering are few; the final orderBy+limit is a TakeOrdered, no
    * full sort). Counts multiply as c_ab·N ≤ N² and c_a·c_b ≤ N² —
    * BIGINT-safe to N ≈ 3·10⁹ bigrams; shard to DECIMAL beyond. */
  def collocations(df: DataFrame, text: String,
                   minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be positive")
    val toks = filter(tokens(col(text)), t => t =!= "")
    val pairs = df.select(toks.as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(explode(bigramPairs(col("_t"))).as("b"))
      .select(col("b.prev").as("prev"), col("b.tok").as("tok"))
    val cab = pairs.groupBy("prev", "tok").agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("prev").agg(sum(col("c_ab")).as("c_a"))
    val cb = cab.groupBy("tok").agg(sum(col("c_ab")).as("c_b"))
    val n = cab.agg(sum(col("c_ab")).as("n_pairs"))
    cab.filter(col("c_ab") >= minCount)
      .join(ca, "prev").join(cb, "tok")
      .crossJoin(broadcast(n))
      .withColumn("pmi_bits", expr(
        """CASE WHEN c_ab * n_pairs >= c_a * c_b
          |  THEN CAST(length(bin((c_ab * n_pairs) div (c_a * c_b))) - 1 AS BIGINT)
          |  ELSE CAST(-(length(bin((c_a * c_b) div (c_ab * n_pairs))) - 1) AS BIGINT)
          |END""".stripMargin))
      .select(col("prev"), col("tok"), col("c_ab"), col("c_a"), col("c_b"),
        col("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("c_ab").desc, col("prev"), col("tok"))
      .limit(k)
  }

  /** Skip-gram co-occurrence counts — the (center, context) pair
    * statistics embedding training consumes (word2vec's sampling
    * table, GloVe's co-occurrence matrix, PMI matrices all start
    * here): every ordered pair of tokens at distance ≤ `window`
    * within a document, counted over the corpus, top `k` by count.
    *
    * Plan shape: pair generation is IN-ROW and fully codegen'd — per
    * offset o, the valid (center, context) pairs are exactly
    * `arrays_zip` of two shifted slices of the token array, and the
    * 2·window zips concat into one array for a single explode (no
    * self-join, no range join, and since r13 no interpreted
    * `transform`/`filter` lambda per position — the HOF form ran
    * 2·window interpreted when()-evals per TOKEN), so the only
    * shuffle is the map-combined pair count; the global top-k is a
    * TakeOrdered (per-partition heaps), never a full sort. Row
    * fan-out is n·2·window per document — linear, the same data
    * volume any skip-gram pipeline must materialize at least once
    * (pair multiset pinned identical to the HOF form in R13OptSpec).
    *
    * Ordering (count desc, center asc, context asc) is total, so the
    * cut at `k` is engine-deterministic. */
  def skipgramCounts(df: DataFrame, text: String,
                     window: Int = 2, k: Int = 50): DataFrame = {
    require(window >= 1 && k >= 1, "window and k must be positive")
    val toks = filter(split(col(text), " "), t => t =!= "")
    // pairs at one offset o: centers toks[i], contexts toks[i+o] for
    // every in-range i — two length-(n−|o|) slices zipped; slice
    // returns [] when the doc is shorter than |o|+1 tokens
    def zipAt(o: Int): Column = {
      val len = greatest(size(col("_t")) - lit(math.abs(o)), lit(0))
      if (o > 0)
        arrays_zip(slice(col("_t"), lit(1), len).as("center"),
          slice(col("_t"), lit(1 + o), len).as("context"))
      else
        arrays_zip(slice(col("_t"), lit(1 - o), len).as("center"),
          slice(col("_t"), lit(1), len).as("context"))
    }
    val offsets = (-window to window).filter(_ != 0)
    val pairs = df.select(toks.as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(explode(concat(offsets.map(zipAt): _*)).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
    pairs.groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("center"), col("context"))
      .limit(k)
  }

  /** Sliding-window token chunking: splits a document into chunks of
    * `window` tokens every `stride` tokens (stride < window ⇒
    * overlapping chunks; the tail chunk may be shorter) — the
    * retrieval/pretraining segmentation step. Pure in-row array
    * expression: chunk i covers tokens [i·stride, i·stride+window). */
  def chunkTokens(text: Column, window: Int, stride: Int): Column = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val toks = tokens(text)
    val starts = sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride))
    transform(starts, s => concat_ws(" ", slice(toks, s + 1, lit(window))))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models", table A1 family), as a struct of boolean flags:
    *   - `pass_len`:  token count within [minTokens, maxTokens];
    *   - `pass_mean`: mean word length within [3, 10] characters;
    *   - `pass_stop`: stopword fraction ≥ 5%;
    *   - `pass_rep`:  repetition ratio ≤ 0.5 (distinct/total ≥ ½);
    *   - `pass_all`:  conjunction of the above.
    * Every threshold is evaluated by INTEGER cross-multiplication
    * (e.g. stop·20 ≥ n rather than stop/n ≥ 0.05), so the flags are
    * bit-exact in any engine — no FP division at all. Pure Column
    * expressions: the whole rule battery runs at scan speed. */
  def gopherFlags(text: Column, stopwords: Seq[String],
                  minTokens: Long = 50L, maxTokens: Long = 100000L): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("long")
    val chars = length(text).cast("long")
    val nd = size(array_distinct(toks)).cast("long")
    val stop = size(filter(toks, t => t.isInCollection(stopwords))).cast("long")
    // mean word length = (chars - (n-1) spaces) / n
    val wordChars = chars - n + 1
    val passLen = n >= minTokens && n <= maxTokens
    val passMean = wordChars >= n * 3 && wordChars <= n * 10
    val passStop = stop * 20 >= n
    val passRep = nd * 2 >= n
    struct(
      passLen.as("pass_len"), passMean.as("pass_mean"),
      passStop.as("pass_stop"), passRep.as("pass_rep"),
      (passLen && passMean && passStop && passRep).as("pass_all"))
  }

  /** Document fingerprint: minimum md5 over word 5-grams — a
    * winnowing-style content signature that is stable under small
    * edits away from the minimal shingle. */
  def fingerprint(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val grams = transform(sequence(lit(0), greatest(n - 5, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(5))))
    array_min(transform(grams, g => md5(g.cast("binary"))))
  }

  /** Per-term burstiness: the variance-to-mean ratio (index of
    * dispersion) of a term's per-document counts over the WHOLE
    * corpus (zero-count documents included) — the standard
    * clumpiness signal separating topical content words (a doc that
    * says "actuarial" once says it five times → D ≫ 1) from function
    * words (spread evenly → D near 1). Filters topic-word candidates
    * for indexing/stop-listing where raw frequency can't: "the" and
    * "actuarial" may have similar totals at very different D.
    *
    * Exact integers end-to-end: with N docs, Σc and Σc² per term,
    * D = Var/Mean = (N·Σc² − (Σc)²) / (N·Σc), rendered in ppm by
    * floor division. Terms below `minTotal` occurrences are dropped
    * (their D estimate is noise, and the cut bounds the output).
    *
    * Scale shape: one map-combined (doc, term) count, one
    * map-combined per-term moment aggregation, and the corpus size
    * crossing as a 1-row broadcast — no windows, no joins on the
    * token stream. */
  def burstiness(df: DataFrame, id: String, text: String,
                 minTotal: Long): DataFrame = {
    val tf = df
      .select(col(id).as("_d"), explode(tokens(col(text))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("_d"), col("term")).agg(count(lit(1)).as("c"))
    val n = df.agg(count(lit(1)).as("_n"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    tf.groupBy("term")
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"))
      .filter(col("total") >= minTotal)
      .crossJoin(broadcast(n))
      .select(col("term"), col("n_docs"), col("total"),
        IntMath.truncDiv(
          (dec(col("_n")) * dec(col("sumsq")) -
            dec(col("total")) * dec(col("total"))) * lit(1000000L),
          dec(col("_n")) * dec(col("total"))).as("d_ppm"))
  }

  /** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): the LOCAL companion to [[fingerprint]]'s single
    * global minimum. Every window of `w` consecutive token-`n`-gram
    * hashes contributes its minimum; the per-document fingerprint set
    * is the sorted distinct selected hashes. The winnowing guarantee:
    * any shared run of ≥ w+n−1 tokens between two documents shares at
    * least one fingerprint — so matching on fingerprints finds every
    * sufficiently long verbatim overlap (the recall-guaranteed
    * cousin of MinHash, which guarantees nothing per-document).
    *
    * Hashes are the leading 48 bits of the md5 of the space-joined
    * gram (exact in a long; engine-stable, no seed). Documents
    * shorter than one window still emit the minimum of whatever
    * grams exist — never an empty set for non-empty text — while
    * documents with NO non-empty token emit the empty set (the
    * degenerate "fingerprint of nothing" would otherwise make every
    * blank document match every other as verbatim overlap).
    *
    * Scale shape: one in-row gram-hash transform, then the NATIVE
    * O(grams) monotonic-deque window pass
    * ([[graft.functions.SlidingMin]] — the HOF slice-per-window form
    * is O(grams·w) with an array copy per window and measured 100×
    * slower at sf0.1) — scan speed, no shuffle, no state; the output
    * set is ≤ grams/⌈w/2⌉ expected entries. */
  def winnowFingerprints(text: Column, n: Int, w: Int): Column = {
    require(n >= 1 && w >= 1, "n and w must be positive")
    val toks = tokens(text)
    val nt = size(toks)
    val hashes = transform(sequence(lit(0), greatest(nt - n, lit(0))),
      i => conv(substring(md5(
        concat_ws(" ", slice(toks, i + 1, lit(n))).cast("binary")),
        1, 12), 16, 10).cast("long"))
    when(size(filter(toks, t => t =!= "")) === 0,
        array().cast("array<bigint>"))
      .otherwise(array_sort(array_distinct(
        graft.functions.VectorExpressions.sliding_min(hashes, w))))
  }

  /** Heaps'-law vocabulary-growth curve: reading the corpus in
    * `order` (deterministic doc order), the cumulative token count
    * and cumulative DISTINCT vocabulary size after each document —
    * the V(n) ~ K·n^β curve whose flattening tells you when more of
    * the same source stops buying new vocabulary (crawl-budget and
    * source-saturation decisions). Complements [[oovCurve]] (x159),
    * which fixes the corpus and sweeps vocab-size cutoffs; this
    * fixes the vocabulary rule and sweeps corpus size.
    *
    * The non-obvious part is cumulative-DISTINCT, which naively needs
    * a growing state. Exact pair of prefix sums instead: a type's
    * first occurrence is attributable to exactly ONE document
    * (min(order) over its postings), so V(after doc d) = Σ_{d' ≤ d}
    * newTypes(d') — and both curves become [[Prefix.globalRunningSums]]
    * over per-doc integers (range-partitioned two-phase cumsum, no
    * single-reducer window, no growing state).
    *
    * Returns one row per document: (ord, n_tokens, n_new_types,
    * cum_tokens, cum_vocab); empty-token AND null-text docs
    * contribute zeros (the null coalesce matters: `size(NULL)` is −1
    * under non-ANSI Spark and would silently shift every later
    * cum_tokens). Whitespace token convention matches [[tokens]]
    * (empty strings dropped). `order` must be unique per document. */
  def vocabGrowth(docs: DataFrame, order: String, text: String)
      : DataFrame = {
    val base = docs.select(col(order).cast("long").as("ord"),
      coalesce(filter(tokens(col(text)), t => t =!= ""),
        array().cast("array<string>")).as("_tk"))
    val perDoc = base.select(col("ord"),
      size(col("_tk")).cast("long").as("n_tokens"))
    val firsts = base
      .select(col("ord"), explode(col("_tk")).as("_t"))
      .groupBy("_t").agg(min(col("ord")).as("ord"))
      .groupBy("ord").agg(count(lit(1)).as("n_new_types"))
    val joined = perDoc.join(firsts, Seq("ord"), "left")
      .select(col("ord"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
    Prefix.globalRunningSums(joined, Seq(col("ord")),
      Seq(col("n_tokens") -> "cum_tokens",
        col("n_new_types") -> "cum_vocab"))
  }
}
