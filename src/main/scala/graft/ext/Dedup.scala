package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extensions; BASELINE.json). Four families:
  *
  *  - exact: hash-groupBy on content digest — one shuffle on the
  *    digest, linear at any scale;
  *  - MinHash + LSH: shingle → k-minhash signature → banded bucket
  *    join → exact-Jaccard verification of candidates. The shuffle is
  *    on (band, bucket) keys, so the candidate join never goes
  *    quadratic; the exact verify touches only candidate pairs;
  *  - SimHash: md5-derived bit votes per token → 32-bit signature;
  *    hamming-ball pairing. md5 keeps the signature engine-portable
  *    (the DuckDB oracle reproduces it bit-for-bit);
  *  - n-gram Jaccard: exact pair similarity via shingle-set join —
  *    the verification primitive, also exposed standalone;
  *  - embedding cosine: near-dup by vector similarity.
  *
  * All operators are DataFrame-composed (no RDDs, no driver loops);
  * at 100 TB the only superlinear risk is a skewed shingle/bucket key,
  * which AQE skew-join handles (hot shingles can also be dropped as
  * stop-shingles by callers).
  */
object Dedup {

  /** Word n-gram (shingle) set, distinct, as an array column — the
    * native one-pass [[graft.functions.WordShingles]] (bit-identical
    * to the HOF form `array_distinct(transform(sequence, slice))`,
    * but a single codegen'd call instead of interpreted lambdas per
    * shingle — the map that dominates dedup scans at corpus scale). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.wordShingles(text, n)

  /** Hot-shingle discovery: the `topK` shingles by document frequency
    * — the operational input for stop-shingle policies (a shingle in
    * half the corpus carries no dedup signal but co-groups half the
    * corpus in naive shingle joins; the prefix filter in
    * [[ngramJaccardPairs]] sidesteps them automatically, but corpus
    * curation wants the list). One explode + one aggregation +
    * TakeOrderedAndProject. */
  def stopShingles(df: DataFrame, id: String, text: String,
                   n: Int, topK: Int): DataFrame =
    docShingleSets(df, id, text, n)
      .select(explode(col("shs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("sh"))
      .limit(topK)

  /** Corpus-level MinHash overlap matrix: one k-slot MinHash signature
    * per GROUP (source, crawl snapshot, language…) over the union of
    * its documents' word n-gram shingles, then the pairwise
    * match-fraction Jaccard estimate for every group pair — the
    * corpus-overlap audit run before mixing sources ("how much of
    * snapshot B is already in A?") where exact corpus-pair Jaccard
    * would be a shingle-level join of the entire corpus against
    * itself.
    *
    * The signature is a per-group AGGREGATE (k parallel MINs, map-side
    * combined), so the shuffle carries one k-long signature per group
    * — never a shingle. The pairwise stage runs on ≤ groups rows
    * (group cardinality is small by nature); the comparison side is
    * broadcast. Duplicate shingles within a group are harmless (min is
    * idempotent), so no distinct is needed beyond the per-doc
    * dedup [[shingles]] already does.
    *
    * Hash family per the §7.6.3 portability convention: base =
    * md5(shingle)'s first 12 hex digits (48 bits — md5 because the
    * x200 oracle replays it; 48 bits so slot arithmetic stays exact in
    * a long), slot i = (base·(2i+1) + 40099·i) mod 2147483647 —
    * [[graft.functions.MinHashArray]]'s affine family over a portable
    * base. Estimator: matching slots / k is an unbiased Jaccard
    * estimate with s.e. ≤ 1/(2√k) (~4.4 % at k = 128). Alongside the
    * symmetric Jaccard, the ASYMMETRIC containments — the question
    * mixing actually asks ("how much of B is already in A?") — derive
    * from the same match count and the exact per-group distinct
    * shingle counts: |A∩B| ≈ m·(|A|+|B|)/(k+m) (inclusion–exclusion
    * through J = m/k), containment(A in B) = |A∩B|/|A|. All trunc
    * integer arithmetic (exact DECIMAL inside [[IntMath.truncDiv]]),
    * so the oracle replays every derived number. Groups with only
    * NULL texts produce no shingle rows, hence no signature and no
    * pair (a short text still shingles — [[shingles]] emits the
    * truncated tokens[0, len) gram). Returns
    * (grp_a, grp_b, n_match, n_sh_a, n_sh_b, jaccard_est_ppm,
    * cont_a_ppm, cont_b_ppm), grp_a < grp_b. */
  def corpusOverlapMatrix(df: DataFrame, group: String, text: String,
                          n: Int = 3, k: Int = 128): DataFrame = {
    val rows = groupShingleRows(df, group, text, n)
    // two per-group aggregates over the shingle stream (signature +
    // exact distinct count), each reducing to ≤ groups rows; joined
    // on the tiny group key rather than folded into one agg, which
    // would Expand-double the corpus-sized stream for the distinct
    val sig = signaturesFromRows(rows, k)
    val sizes = rows.groupBy("grp").agg(count_distinct(col("sh")).as("n_sh"))
    withContainments(sig.join(sizes, Seq("grp")), k)
  }

  /** Pairwise matrix WITH containments over a (grp, sig, n_sh)
    * frame — the shared tail of [[corpusOverlapMatrix]] (from-text
    * sizes) and [[containmentFromSignatures]] (store-maintained
    * sizes), one definition so the two paths cannot drift. */
  private def withContainments(full: DataFrame, k: Int): DataFrame = {
    val inter = IntMath.truncDiv(
      col("n_match") * (col("n_sh_a") + col("n_sh_b")),
      lit(k.toLong) + col("n_match"))
    pairwiseMatches(full, k, Seq(col("a.n_sh").as("n_sh_a"),
        col("b.n_sh").as("n_sh_b")))
      .withColumn("cont_a_ppm", IntMath.ppmDiv(inter, col("n_sh_a")))
      .withColumn("cont_b_ppm", IntMath.ppmDiv(inter, col("n_sh_b")))
  }

  /** (grp, sh) shingle stream for the corpus-signature family. */
  private def groupShingleRows(df: DataFrame, group: String, text: String,
                               n: Int): DataFrame =
    df.select(col(group).as("grp"), explode(shingles(col(text), n)).as("sh"))

  /** k map-combined slot MINs over a (grp, sh) stream → (grp, sig). */
  private def signaturesFromRows(rows: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 512, "k must be in [1, 512]")
    import graft.functions.MinHashArray.{P, STRIDE}
    val based = rows.withColumn("_base",
      conv(substring(md5(col("sh")), 1, 12), 16, 10).cast("long"))
    val mins = (0 until k).map { i =>
      min(pmod(col("_base") * (2L * i + 1) + STRIDE * i, lit(P))).as(s"_m$i")
    }
    based.groupBy("grp").agg(mins.head, mins.tail: _*)
      .select(col("grp"),
        array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** a<b signature matches over a ≤ groups-row frame carrying
    * (grp, sig, extra*): (grp_a, grp_b, n_match, extra*, and the
    * match-fraction jaccard_est_ppm). */
  private def pairwiseMatches(sigs: DataFrame, k: Int,
                              extra: Seq[Column] = Seq.empty): DataFrame =
    sigs.as("a")
      .join(broadcast(sigs.as("b")), col("a.grp") < col("b.grp"))
      .select(Seq(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        aggregate(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, m) => acc + m).as("n_match")) ++ extra: _*)
      .withColumn("jaccard_est_ppm",
        IntMath.truncDiv(col("n_match") * 1000000L, lit(k.toLong)))

  /** The BUILD stage of [[corpusOverlapMatrix]] standalone:
    * (grp, sig) per-group signatures. Exposed because the signature
    * is a slot-wise MIN — associative, commutative, idempotent — so a
    * 100 TB deployment maintains it INCREMENTALLY: sign each ingest
    * batch as it lands, [[mergeCorpusSignatures]] into the stored
    * index, and the refreshed overlap matrix
    * ([[overlapFromSignatures]]) equals the from-scratch computation
    * EXACTLY (x201 pins merge == full against the oracle's full
    * replay — no estimation drift, unlike sketch families that merge
    * approximately). The corpus text is scanned once per batch,
    * never re-scanned at refresh. */
  def corpusSignatures(df: DataFrame, group: String, text: String,
                       n: Int = 3, k: Int = 128): DataFrame =
    signaturesFromRows(groupShingleRows(df, group, text, n), k)

  /** Slot-wise MIN merge of signature frames built with the same
    * (n, k) — ≤ (slices × groups) rows in, ≤ groups out. The caller
    * owns n-consistency (a signature carries no provenance; mixing n
    * values silently measures nothing meaningful — same contract as
    * [[graft.streaming.EmbedStream.mergeRefIndex]]); a k mismatch
    * FAILS LOUDLY at execution (length validated per row — under
    * non-ANSI SQL, element_at past the array end would otherwise
    * return NULL, min() would skip it, and the merged Jaccard would
    * silently understate by up to 2×). */
  def mergeCorpusSignatures(sigs: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 512, "k must be in [1, 512]")
    val validated = sigs.select(col("grp"),
      when(size(col("sig")) === k, col("sig")).otherwise(raise_error(
        concat(lit("mergeCorpusSignatures: signature length "),
          coalesce(size(col("sig")).cast("string"), lit("NULL")),
          lit(s" != k = $k — slices must share the build knobs"))))
        .as("sig"))
    val mins = (0 until k).map(i =>
      min(element_at(col("sig"), i + 1)).as(s"_m$i"))
    validated.groupBy("grp").agg(mins.head, mins.tail: _*)
      .select(col("grp"),
        array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** Jaccard-only overlap matrix from maintained signatures — the
    * refresh path for [[mergeCorpusSignatures]]-maintained indexes.
    * Containments are deliberately absent here: they need the exact
    * per-group distinct shingle counts, which are NOT
    * signature-mergeable — [[corpusOverlapMatrix]] computes them from
    * text when asked, and [[containmentFromSignatures]] serves them
    * from a maintained distinct store when the deployment pays for
    * one. */
  def overlapFromSignatures(sigs: DataFrame, k: Int): DataFrame =
    pairwiseMatches(sigs, k)

  /** The incrementable form of the exact per-group distinct shingle
    * counts: the DISTINCT (grp, sh) rows of a corpus slice.
    * Union-distinct is associative, commutative and idempotent —
    * exactly the slot-min algebra that makes [[corpusSignatures]]
    * mergeable — so a deployment that maintains this store alongside
    * the signatures gets EXACT containments at refresh time with no
    * corpus re-scan ([[containmentFromSignatures]]).
    *
    * The storage trade, stated honestly (this is why containments
    * stayed off the maintained path by default, SURVEY §7.6.7): the
    * store is ∝ total distinct (group, shingle) pairs — corpus-scale,
    * against the signature index's k·groups rows. At 100 TB that is
    * a real table (think of it as an inverted shingle index without
    * positions), partitioned by `sh` hash like any fact table; merge
    * cost is a union-distinct shuffle over slice deltas, bounded by
    * NEW distinct pairs, not history. Deployments that only need
    * Jaccard keep signatures alone; containment-grade audits choose
    * this store or re-scan text per refresh — both exact, priced
    * differently. */
  def distinctShingleStore(df: DataFrame, group: String, text: String,
                           n: Int = 3): DataFrame =
    groupShingleRows(df, group, text, n).distinct()

  /** Merge [[distinctShingleStore]] slices — union-distinct, exact
    * by idempotence (overlapping slices cannot double-count). */
  def mergeDistinctShingleStores(stores: Seq[DataFrame]): DataFrame = {
    require(stores.nonEmpty, "need at least one store slice")
    stores.reduce(_ unionByName _).distinct()
  }

  /** FULL overlap matrix — Jaccard estimate AND exact containments —
    * from maintained state only: merged signatures
    * ([[mergeCorpusSignatures]]) plus the merged distinct store
    * ([[mergeDistinctShingleStores]]). Equals [[corpusOverlapMatrix]]
    * computed from the corpus text exactly (same estimator tail, and
    * the store's group sizes are exact by construction), with zero
    * text re-scanned at refresh: the refresh cost is one count per
    * group over the store plus the ≤ groups² pairwise stage. */
  def containmentFromSignatures(sigs: DataFrame, store: DataFrame,
                                k: Int): DataFrame = {
    val sizes = store.groupBy("grp").agg(count(lit(1)).as("n_sh"))
    // LEFT join + loud failure on a signed group the store has never
    // seen: the two indexes are maintained in lockstep by contract,
    // so a missing store row is state DRIFT (a slice merged into one
    // index but not the other) — an inner join here would silently
    // drop the group from the matrix instead of surfacing the drift
    val joined = sigs.join(sizes, Seq("grp"), "left")
      .select(col("grp"), col("sig"),
        when(col("n_sh").isNotNull, col("n_sh")).otherwise(raise_error(
          concat(lit("containmentFromSignatures: group "),
            col("grp").cast("string"),
            lit(" is signed but absent from the distinct-shingle store" +
              " — the two maintained indexes have drifted"))))
          .as("n_sh"))
    withContainments(joined, k)
  }

  /** Dedup threshold sweep — the TUNING report run before committing
    * to a similarity cutoff ("how many pairs and how many documents
    * does each candidate threshold implicate?"): for every threshold,
    * the count of verified pairs at-or-above it and the count of
    * DISTINCT documents appearing in those pairs. One broadcast of
    * the tiny threshold list against the (already LSH/prefix-bounded)
    * verified pair list, two map-combined aggregations — never a
    * rescan of the corpus per threshold.
    *
    * `pairs` must carry (id_a, id_b, jaccard) — [[ngramJaccardPairs]]'
    * output; `floor` must restate that call's `threshold` (REQUIRED,
    * no default — the sweep cannot see the generating threshold, and
    * sweeping below it silently undercounts because the prefix filter
    * is lossless only down to it). Thresholds with no surviving pair
    * report zeros rather than vanishing. The two aggregation branches
    * share the upstream pair work WITHOUT an explicit checkpoint:
    * both subtrees contain the identical pair exchange, which
    * Catalyst's ReuseExchange deduplicates (an explicit
    * localCheckpoint here was measured 9× SLOWER — it serializes a
    * materialization barrier in front of work the optimizer already
    * shares). Returns (threshold, n_pairs, n_docs). */
  def dedupThresholdSweep(pairs: DataFrame, thresholds: Seq[Double],
                          floor: Double): DataFrame = {
    require(thresholds.nonEmpty && thresholds.size <= 64,
      "1 to 64 thresholds per sweep")
    require(thresholds.forall(_ >= floor),
      s"sweep thresholds below the pair-generating floor $floor would " +
        "undercount: the candidate prefix filter is lossless only above it")
    val spark = pairs.sparkSession
    import spark.implicits._
    val thr = thresholds.toDF("threshold")
    val hits = pairs.crossJoin(broadcast(thr))
      .filter(col("jaccard") >= col("threshold"))
    val np = hits.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nd = hits
      .select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("_id"))
      .groupBy("threshold").agg(count_distinct(col("_id")).as("n_docs"))
    thr.join(np, Seq("threshold"), "left").join(nd, Seq("threshold"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs"))
  }

  /** Exact-duplicate groups: digest → ids sharing it (size > 1). */
  def exactDupGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), md5(col(text).cast("binary")).as("digest"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_docs"), sort_array(collect_list(col(id))).as("ids"))
      .filter(col("n_docs") > 1)

  /** Per-doc distinct shingle set, computed directly from the text
    * column (NO explode+groupBy round trip — the array never leaves
    * the row). The pre-shingle repartition spreads the expensive
    * shingling across all cores; exploded views derive from this
    * cached frame as a pure map. */
  private def docShingleSets(df: DataFrame, id: String, text: String, n: Int) = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    df.select(col(id).as("_id"), col(text).as("_text")).repartition(parts)
      .select(col("_id"), shingles(col("_text"), n).as("shs"))
      .withColumn("sz", size(col("shs")).cast("long"))
  }

  /** Exact-Jaccard verification of candidate id pairs against the
    * per-doc shingle sets: two hash joins + an in-row intersection
    * COUNT — no second explode join, no per-pair groupBy. The count
    * is the native [[graft.functions.IntersectCount]] (bit-identical
    * to `size(array_intersect)`, property-tested) — the composed form
    * materializes and copies every matched string per candidate pair
    * just to take its length, in the hottest loop of the family.
    * Candidate volume is LSH/prefix-bounded, so the intersection runs
    * on few rows. */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(sets.as("sa"), col("id_a") === col("sa._id"))
      .join(sets.as("sb"), col("id_b") === col("sb._id"))
      .withColumn("shared",
        graft.functions.IntersectCount.intersectCount(
          col("sa.shs"), col("sb.shs")))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact n-gram Jaccard pairs at `threshold`, with PREFIX FILTERING
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07)
    * for candidate generation: shingles are globally ordered by
    * rarity (doc frequency asc, shingle asc) and each doc only joins
    * on its first `|A| - ceil(θ·|A|) + 1` shingles in that order.
    *
    * Losslessness: if jaccard(A,B) ≥ θ then |A∩B| ≥ θ·max(|A|,|B|);
    * the globally-smallest shared shingle is therefore within both
    * docs' prefixes (were it outside A's prefix, all shared shingles
    * would sit in A's last ceil(θ|A|)−1 < |A∩B| positions — a
    * contradiction). So the prefix join finds every qualifying pair,
    * and the Jaccard itself is verified EXACTLY over the full shingle
    * sets. At scale this is the defense against hot shingles: the
    * join only ever touches each doc's RAREST shingles, so
    * stop-shingle-grade keys (high df) are systematically excluded
    * from candidate generation without any lossy cap. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        n: Int, threshold: Double): DataFrame = {
    // localCheckpoint, not cache(): the sets feed the prefix, both
    // verify sides and the df-counts — under storage-memory pressure a
    // cache block is LRU-evicted and each downstream reference silently
    // re-executes the full shingle plan (observed 2-4x bench swings);
    // checkpoint blocks spill to disk instead and lineage is truncated
    val sets = docShingleSets(df, id, text, n).localCheckpoint()
    jaccardPairsFromSets(sets, threshold)
  }

  /** [[ngramJaccardPairs]] over ALREADY-materialized shingle sets —
    * callers that need both an exact and an approximate pass on the
    * same corpus ([[lshBandingAudit]]) share one shingle scan. */
  private def jaccardPairsFromSets(sets: DataFrame, threshold: Double)
      : DataFrame = {
    // exploded view is a pure map over the checkpointed sets (carries
    // sz for free — no extra sizes join)
    val rows = sets.select(col("_id"), col("sz"), explode(col("shs")).as("sh"))
    // global rarity order; ties broken by shingle text for determinism
    val dfreq = rows.groupBy("sh").agg(count(lit(1)).as("df"))
    val prefix = prefixSelect(rows, dfreq, threshold)
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, sets, threshold)
  }

  /** The |A| − ⌈θ|A|⌉ + 1 rarity-prefix selection shared by
    * [[jaccardPairsFromSets]] and [[containmentPairs]], as ONE
    * aggregation instead of a rank window (r13, guide §2.4/codegen):
    * the old `row_number() OVER (PARTITION BY _id ORDER BY df, sh)`
    * planned Exchange(_id) → full Sort(_id, df, sh) → Window → Filter;
    * the per-doc prefix is really an in-row computation once the doc's
    * (df, sh) pairs sit in one row, so the same Exchange now feeds a
    * hash aggregation and the sort shrinks to per-doc `sort_array`
    * calls (no partition-wide sort pass, no rank machinery).
    * Identical selection: shingles are DISTINCT per doc, so (df, sh)
    * is a total order within a doc — `sort_array` on struct(df, sh)
    * (lexicographic asc) orders exactly like the window's
    * ORDER BY df, sh, and `slice(…, 1, k)` keeps exactly the rows the
    * `rk <= k` filter kept (same k expression, sz constant per doc). */
  private def prefixSelect(rows: DataFrame, dfreq: DataFrame,
                           threshold: Double): DataFrame =
    rows.join(dfreq, "sh")
      .groupBy("_id")
      .agg(max(col("sz")).as("sz"),
        sort_array(collect_list(struct(col("df"), col("sh")))).as("_ps"))
      .select(col("_id"),
        explode(transform(
          slice(col("_ps"), lit(1),
            (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")),
          p => p.getField("sh"))).as("sh"))

  /** Exact shingle-CONTAINMENT pairs: directed (id_a, id_b) where
    * |A∩B| / |A| ≥ θ — the asymmetric cousin of Jaccard that catches
    * quotes, excerpts and partial copies a symmetric threshold misses
    * (a 100-token quote inside a 10k-token page has Jaccard ≈ 0.01
    * but containment 1.0 from the quote's side).
    *
    * Lossless prefix filter on the CONTAINED side only: if
    * |A∩B| ≥ ⌈θ|A|⌉, the globally-rarest shared shingle cannot sit
    * entirely in A's last ⌈θ|A|⌉−1 rarity positions, so A's first
    * |A|−⌈θ|A|⌉+1 shingles (df asc, shingle asc) must hit B. The
    * container side carries no size bound (containment ignores |B|),
    * so B indexes ALL its shingles — the probe side's rarity
    * ordering is what keeps the join off hot keys: stop-grade
    * shingles appear in prefixes only for docs that have nothing
    * rarer, which is exactly the AllPairs candidate-minimizing order
    * (Bayardo et al., WWW'07, §3 applied one-sided). Containment is
    * then verified EXACTLY over the full shingle arrays. */
  def containmentPairs(df: DataFrame, id: String, text: String,
                       n: Int, threshold: Double): DataFrame = {
    val sets = docShingleSets(df, id, text, n).localCheckpoint()
    val rows = sets.select(col("_id"), col("sz"), explode(col("shs")).as("sh"))
    val dfreq = rows.groupBy("sh").agg(count(lit(1)).as("df"))
    // r13: in-row prefix selection, see [[prefixSelect]]
    val prefix = prefixSelect(rows, dfreq, threshold)
    val candidates = prefix.as("a")
      .join(rows.select(col("_id"), col("sh")).as("b"),
        col("a.sh") === col("b.sh") && col("a._id") =!= col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    candidates
      .join(sets.as("sa"), col("id_a") === col("sa._id"))
      .join(sets.as("sb"), col("id_b") === col("sb._id"))
      .withColumn("shared",
        graft.functions.IntersectCount.intersectCount(
          col("sa.shs"), col("sb.shs")))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double") / col("sa.sz")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** IDF-weighted Jaccard near-dup pairs — rarity-weighted overlap,
    * the fix for template-heavy corpora where unweighted Jaccard is
    * blind: two pages sharing only their 200-shingle site template
    * score high unweighted (template shingles count like any other)
    * while two docs sharing a rare 20-shingle passage score low.
    * Weighting each shingle by its integer idf bucket
    * w = clamp(1 + ⌊log2(N/df)⌋, 1..wMax) makes shared RARE content
    * dominate: wJ(A,B) = W(A∩B) / W(A∪B) with global per-shingle
    * weights (exact integer sums; the single final division is one
    * IEEE754 op, identical on every engine).
    *
    * Lossless candidates from a WEIGHT-GENERALIZED prefix filter run
    * at θ directly: a doc's prefix is its rarity-ordered shingles
    * whose preceding cumulative weight is ≤ W(A) − ⌈θ·W(A)⌉ (unit
    * weights reduce this to [[ngramJaccardPairs]]' |A| − ⌈θ|A|⌉ + 1
    * rule) — see the in-code proof. Because rare shingles carry the
    * most weight, weighted prefixes are SHORTER than the unweighted
    * filter's, and the candidate join touches only each doc's rarest
    * shingles.
    *
    * Scale shape: one doc-frequency agg (map-combined), the prefix
    * self-join on rarest shingles, then weighted verify as id-keyed
    * joins + one map-combined pair sum — every shuffle carries
    * (id, shingle, small-int) rows. `N` is one driver-side scalar
    * (the corpus row count), same discipline as
    * [[graft.ext.Graph.pageRankInt]]'s node count. */
  def idfWeightedJaccardPairs(df: DataFrame, id: String, text: String,
                              n: Int, threshold: Double,
                              wMax: Int = 4): DataFrame = {
    require(threshold > 0 && threshold <= 1 && wMax >= 1,
      "need 0 < threshold <= 1 and wMax >= 1")
    val sets = docShingleSets(df, id, text, n).localCheckpoint()
    val nDocs = sets.count()
    val rows = sets.select(col("_id"), explode(col("shs")).as("sh"))
    val dfreq = rows.groupBy("sh").agg(count(lit(1)).as("df_"))
      .withColumn("w", least(lit(wMax.toLong),
        length(bin(expr(s"${nDocs}L div df_"))).cast("long")))
    // rw feeds the prefix, both intersection sides and the totals —
    // materialize ONCE (a lazy plan re-executes the full-corpus
    // shuffle per reference)
    val rw = rows.join(dfreq, "sh")
      .select(col("_id"), col("sh"), col("df_"), col("w"))
      .localCheckpoint()
    val tot = rw.groupBy("_id").agg(sum(col("w")).as("wt")).localCheckpoint()
    // WEIGHTED prefix filter at θ directly (not θ/wMax): if
    // wJ(A,B) ≥ θ then W(∩) ≥ θ·W(A), and W(∩) is an integer, so
    // W(∩) ≥ ⌈θ·W(A)⌉. A shingle belongs to A's prefix iff the
    // cumulative weight BEFORE it (rarity order) is ≤ W(A) − ⌈θ·W(A)⌉
    // — were every shared shingle outside the prefix, the shared
    // weight would fit in a suffix strictly lighter than ⌈θ·W(A)⌉, a
    // contradiction; the globally-rarest shared shingle therefore
    // sits in BOTH prefixes (the Bayardo argument, weight-generalized
    // — with unit weights this reduces exactly to the unweighted
    // |A| − ⌈θ|A|⌉ + 1 rule). Rarity-heavy weights make prefixes
    // SHORTER than the unweighted filter's, and the join still only
    // ever touches each doc's rarest shingles.
    // r13 examined, LEFT AS THE WINDOW: the [[prefixSelect]] treatment
    // (collect_list + in-row fold computing the kept-prefix length)
    // was implemented, proven bit-identical (R13OptSpec replica), and
    // measured NEUTRAL-to-worse isolated at sf0.1 (old 3.24 s
    // [2.90, 3.41] vs 3.45 s [2.85, 4.51]) — unlike the unweighted
    // prefix, this window needs no extra Exchange (it rides the
    // rw⋈tot join's _id partitioning; only the Sort would go away)
    // and the replacement pays an interpreted aggregate-HOF fold per
    // doc. Reverted per guide §1.6 (re-measure, keep what wins).
    val ww = org.apache.spark.sql.expressions.Window
      .partitionBy("_id").orderBy(col("df_"), col("sh"))
    val prefix = rw.join(tot, "_id")
      .withColumn("cumx", coalesce(sum(col("w")).over(
        ww.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          -1)), lit(0L)))
      .filter(col("cumx") <= col("wt") - ceil(lit(threshold) * col("wt")))
      .select("_id", "sh", "wt")
    // length (total-weight) filter riding the same join: wJ ≥ θ needs
    // W(∩) ≥ θ·W(∪) ≥ θ·max(W(A), W(B)) and W(∩) ≤ min(W(A), W(B)),
    // so min ≥ θ·max — size-incompatible pairs never verify and are
    // pruned before the shuffle-heavy distinct
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a._id") < col("b._id") &&
          col("a.wt") >= lit(threshold) * col("b.wt") &&
          col("b.wt") >= lit(threshold) * col("a.wt"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val inter = candidates
      .join(rw.select(col("_id").as("id_a"), col("sh"), col("w")), Seq("id_a"))
      .join(rw.select(col("_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(sum(col("w")).as("wi"))
    inter
      .join(tot.select(col("_id").as("id_a"), col("wt").as("wa")), "id_a")
      .join(tot.select(col("_id").as("id_b"), col("wt").as("wb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("wi").cast("double") / (col("wa") + col("wb") - col("wi")))
          .as("wjaccard"))
      .filter(col("wjaccard") >= threshold)
  }

  /** Aligned-overlap length for near-dup pairs: for every pair at
    * n-gram Jaccard ≥ `threshold`, the longest run of CONSECUTIVE
    * matching shingle positions — i.e. how long the longest verbatim
    * shared span actually is (in tokens), which a set-level Jaccard
    * score cannot tell you. This is the attribution/forensics step
    * after dedup flags a pair: a 0.6-Jaccard pair may be one long
    * quote or many scattered phrases; downstream policy (drop, trim,
    * keep) differs.
    *
    * Alignment without alignment algorithms: matching positions
    * (pa, pb) form diagonals pa−pb = const; a verbatim run is a
    * maximal set of consecutive pa on one diagonal — exactly the
    * gaps-and-islands pattern, one window per (pair, diagonal).
    * Repeated shingles inside a doc just add more grid cells; (doc,
    * position) is unique so runs stay well-defined.
    *
    * Scale shape: the position table is built ONLY for docs that
    * appear in a flagged pair (inner join against the pair set —
    * pair-subset sized, not corpus sized); the grid join keys on
    * (id_b, shingle); windows partition per (pair, diagonal) —
    * bounded by the pair's own shingle counts. Output: (id_a, id_b,
    * max_run, span_tokens = max_run + n − 1). */
  /** In-order positional word-n-gram array (NOT distinct — position
    * semantics need every occurrence), 0-based. */
  private def positionalShingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val m = size(toks) - (n - 1)
    when(m <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), m - 1), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  def overlapSpans(df: DataFrame, id: String, text: String, n: Int,
                   threshold: Double): DataFrame = {
    // the pair plan (prefix filter + verify) is referenced three times
    // below (pairs + both sides of pairedDocs); localCheckpoint
    // materializes it ONCE and truncates the lineage — with a lazy
    // cache the full near-dup plan re-executed per reference (measured
    // 13.6 s → 4 s at sf0.1)
    val pairs = ngramJaccardPairs(df, id, text, n, threshold)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val pairedDocs = pairs.select(col("id_a").as("_id"))
      .union(pairs.select(col("id_b").as("_id"))).distinct()
    // semi-filter BEFORE building positions: only flagged-pair docs
    // pay the positional-shingle transform
    val pos = df.select(col(id).as("_id"), col(text).as("_text"))
      .join(pairedDocs, Seq("_id"), "leftsemi")
      .select(col("_id"),
        posexplode(positionalShingles(col("_text"), n)).as(Seq("p", "g")))
    val grid = pairs
      .join(pos.select(col("_id").as("id_a"), col("p").as("pa"), col("g")),
        "id_a")
      .join(pos.select(col("_id").as("id_b"), col("p").as("pb"), col("g")),
        Seq("id_b", "g"))
      .withColumn("dg", col("pa") - col("pb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "dg").orderBy("pa")
    val runs = grid
      .withColumn("brk",
        when(lag(col("pa"), 1).over(w) === col("pa") - 1, 0L).otherwise(1L))
      .withColumn("run", sum(col("brk")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    runs.groupBy("id_a", "id_b", "dg", "run")
      .agg(count(lit(1)).as("len"))
      .groupBy("id_a", "id_b")
      .agg(max(col("len")).as("max_run"))
      .select(col("id_a"), col("id_b"), col("max_run"),
        (col("max_run") + (n - 1)).as("span_tokens"))
  }

  /** Longest INTERNAL verbatim repeat per document — the degenerate-
    * generation / template-page detector: model-output loops, boiler-
    * plated listings and copy-paste-within-page all show up as a long
    * token span occurring twice in one document, which token-ratio
    * signals ([[graft.ext.TextAnalysis.repetitionRatio]]) blur and
    * cross-doc dedup never sees.
    *
    * Same diagonal mechanics as [[overlapSpans]], applied to a doc
    * against itself: equal-shingle position pairs (p1 < p2) at offset
    * d = p2−p1 form runs of consecutive p1 — the longest run r means
    * a span of r+n−1 tokens repeats d tokens later. Returns docs with
    * at least one repeat: (doc_id, max_run, span_tokens, period) —
    * period is the offset of the longest run, smallest on ties.
    *
    * `maxOcc` caps per-doc occurrences of a shingle before pairing
    * (the position grid is Σ occ² per shingle): a pathological
    * one-token loop would otherwise square into millions of cells;
    * such docs are degenerate far below the cap and already flagged
    * by the ratio signals. Windows partition per (doc, offset) —
    * bounded; the only volume shuffle keys on (doc, shingle). */
  def internalRepeats(df: DataFrame, id: String, text: String, n: Int,
                      maxOcc: Int = 50): DataFrame = {
    require(maxOcc >= 2, "maxOcc must allow at least one repeat")
    val pos = df.select(col(id).as("_id"),
        positionalShingles(col(text), n).as("_gs"))
      .select(col("_id"), posexplode(col("_gs")).as(Seq("p", "g")))
    val occW = org.apache.spark.sql.expressions.Window.partitionBy("_id", "g")
    val capped = pos.withColumn("occ", count(lit(1)).over(occW))
      .filter(col("occ") <= maxOcc && col("occ") >= 2)
    val grid = capped.select(col("_id"), col("p").as("p1"), col("g"))
      .join(capped.select(col("_id"), col("p").as("p2"), col("g")),
        Seq("_id", "g"))
      .filter(col("p1") < col("p2"))
      .withColumn("d", col("p2") - col("p1"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_id", "d").orderBy("p1")
    val runs = grid
      .withColumn("brk",
        when(lag(col("p1"), 1).over(w) === col("p1") - 1, 0L).otherwise(1L))
      .withColumn("run", sum(col("brk")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    runs.groupBy(col("_id"), col("d"), col("run"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("_id"))
      .agg(min(struct((-col("len")).as("nl"), col("d").as("dd"))).as("m"))
      .select(col("_id").as("doc_id"),
        (-col("m.nl")).as("max_run"),
        (-col("m.nl") + (n - 1)).as("span_tokens"),
        col("m.dd").cast("long").as("period"))
  }

  /** MinHash+LSH near-dup pairs: k-perm signatures via the native
    * [[graft.functions.MinHashAgg]] (map-side partial aggregation —
    * the shuffle carries one k-long signature per doc, not k rows per
    * shingle), b bands of r rows (k = b*r), bucket join per band, then
    * EXACT Jaccard verification at `threshold` — LSH only prunes;
    * verified similarity decides.
    *
    * A hot bucket — a flood of byte-identical documents sharing every
    * band — would otherwise pair quadratically; buckets over
    * `maxBucket` members are deterministically sub-split by
    * [[Planes.cappedSelfPairs]] (candidate volume bounded at
    * ~bands · n · maxBucket). MinHash bucket ids live in a 64-bit
    * hash space, so only the oversized minority (≤ n/maxBucket keys)
    * is ever broadcast — the census never materializes the
    * corpus-sized bucket domain. */
  def minhashLshPairs(df: DataFrame, id: String, text: String, n: Int,
                      threshold: Double, bands: Int = 64, rowsPerBand: Int = 2,
                      maxBucket: Int = 4096): DataFrame = {
    val sets = docShingleSets(df, id, text, n).localCheckpoint()
    // materialized: the capped generator reads the bucket rows three
    // times, and each read would otherwise re-run the MinHash agg
    val buckets = minhashBuckets(sets, bands, rowsPerBand).localCheckpoint()
    val candidates = Planes.cappedSelfPairs(buckets, maxBucket)
    // exact verify on candidates only
    verifyJaccard(candidates, sets, threshold)
  }

  /** LSH banding-quality audit: recall and precision of the banded
    * MinHash CANDIDATE set against the exact Jaccard pair truth — the
    * go/no-go check run before trusting a (bands × rowsPerBand)
    * configuration at a new threshold or corpus ("are my bands wide
    * enough that no real duplicate escapes, and how much verify work
    * do false candidates cost"). One row:
    * (n_exact, n_candidates, n_hits, recall_ppm, precision_ppm).
    *
    * The exact side is [[ngramJaccardPairs]]' LOSSLESS prefix filter —
    * ground truth independent of any banding — so recall < 10⁶ ppm is
    * a real banding miss, never a truth-side approximation. Scale
    * shape: both pair sets are banded/prefix-filtered (never all
    * pairs); the intersection is one equi-join on (id_a, id_b); the
    * three counts cross as 1-row broadcasts.
    *
    * `truthSampleBits > 0` switches to SAMPLED-TRUTH mode for routine
    * monitoring: the audit runs on a deterministic STRATIFIED
    * sub-corpus (strata = log2 buckets of shingle count; within each
    * stratum docs rank by (xxhash64, id) and every 2^bits-th rank
    * survives, so every size class stays represented). Because a
    * MinHash signature depends only on its own doc, banding candidacy
    * for a pair depends only on its two endpoints — the sub-corpus
    * audit is EXACTLY the full audit restricted to sampled-doc pairs,
    * an unbiased recall/precision estimate at ~1/4^bits of the pair
    * cost. `recall_lo_ppm`/`recall_hi_ppm` carry the Wilson 95%
    * interval on the recall estimate (degenerate at the point value
    * when bits = 0 — exhaustive truth has no sampling error). The
    * correctness GATE always runs bits = 0. */
  def lshBandingAudit(df: DataFrame, id: String, text: String, n: Int,
                      threshold: Double, bands: Int = 64,
                      rowsPerBand: Int = 2,
                      truthSampleBits: Int = 0): DataFrame = {
    require(truthSampleBits >= 0 && truthSampleBits <= 16,
      "truthSampleBits must be in [0, 16]")
    val all = docShingleSets(df, id, text, n)
    val sub = if (truthSampleBits == 0) all else {
      val wst = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_stratum"))
        .orderBy(xxhash64(col("_id").cast("string")), col("_id"))
      all
        .withColumn("_stratum",
          floor(log(2.0, col("sz").cast("double") + 1.0)).cast("long"))
        .withColumn("_rk", row_number().over(wst))
        .filter(pmod(col("_rk"), lit(1L << truthSampleBits)) === 1)
        .drop("_stratum", "_rk")
    }
    val sets = sub.localCheckpoint()
    // same capped generator as the production [[minhashLshPairs]] —
    // the audit measures the shipping candidate path, cap included
    val buckets = minhashBuckets(sets, bands, rowsPerBand).localCheckpoint()
    val candidates = Planes.cappedSelfPairs(buckets, 4096).localCheckpoint()
    // exact truth from the SAME checkpointed sets — one shingle scan
    // feeds both the banded candidates and the ground truth
    val exact = jaccardPairsFromSets(sets, threshold)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val hits = candidates.join(exact, Seq("id_a", "id_b"))
    // Wilson 95% interval on recall: exact in-row arithmetic over the
    // 1-row counts; degenerate (lo = hi = recall) when the truth is
    // exhaustive (truthSampleBits = 0)
    val nD = col("n_exact").cast("double")
    val p = col("n_hits").cast("double") / nD
    val z2 = lit(1.959964 * 1.959964)
    val center = (p + z2 / (nD * 2)) / (z2 / nD + 1)
    val half = sqrt(p * (lit(1.0) - p) / nD + z2 / (nD * nD * 4)) *
      lit(1.959964) / (z2 / nD + 1)
    def ppm(c: Column) = (c * 1000000).cast("long")
    val exhaustive = truthSampleBits == 0
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(candidates.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_exact"), col("n_candidates"), col("n_hits"),
        when(col("n_exact") > 0,
          IntMath.ppmDiv(col("n_hits"), col("n_exact"))).as("recall_ppm"),
        when(col("n_candidates") > 0,
          IntMath.ppmDiv(col("n_hits"), col("n_candidates")))
          .as("precision_ppm"),
        when(col("n_exact") > 0,
          if (exhaustive) IntMath.ppmDiv(col("n_hits"), col("n_exact"))
          else ppm(greatest(lit(0.0), center - half))).as("recall_lo_ppm"),
        when(col("n_exact") > 0,
          if (exhaustive) IntMath.ppmDiv(col("n_hits"), col("n_exact"))
          else ppm(least(lit(1.0), center + half))).as("recall_hi_ppm"),
        lit(truthSampleBits.toLong).as("truth_sample_bits"))
  }

  /** One row per (doc, band): bucket key hashes the band's slice of
    * the k-perm MinHash signature (slot order is positional → stable).
    * The signature aggregation is map-side partial — the shuffle
    * carries one k-long signature per doc, not k rows per shingle. */
  private def minhashBuckets(sets: DataFrame, bands: Int, rowsPerBand: Int)
      : DataFrame = {
    val k = bands * rowsPerBand
    val rows = sets.select(col("_id"), explode(col("shs")).as("sh"))
    val sig = rows.groupBy("_id")
      .agg(graft.functions.MinHashAgg.minhash(col("sh"), k).as("sig"))
    sig.select(col("_id"),
      posexplode(minhashBandCols(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))
  }

  /** Per-band bucket-id array from a k-long MinHash signature column
    * — the banding shared by the batch generators and the streaming
    * probe ([[graft.streaming.MinHashStream]]): band b's bucket is
    * xxhash64 of the band's signature slice (positional, stable). */
  private[graft] def minhashBandCols(sig: Column, bands: Int,
                                     rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(concat_ws(",", transform(
        slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
        x => x.cast("string"))), b))

  /** Cross-corpus MinHash near-dup pairs — the INCREMENTAL crawl-dedup
    * shape [[incrementalDedup]] covers only for exact duplicates: a
    * new batch is checked against the accumulated history for
    * NEAR-duplicates, pairing only across the two frames (the batch's
    * internal dups are [[minhashLshPairs]]' job). Both sides reduce to
    * banded signature buckets before any join, so the history side can
    * be a precomputed signature store at 100 TB — the shuffle carries
    * (id, band, bucket) keys, never text. Candidates verify with exact
    * Jaccard; returns (id_a from `newDf`, id_b from `histDf`,
    * jaccard). */
  def minhashLshPairsAcross(newDf: DataFrame, histDf: DataFrame,
                            id: String, text: String, n: Int,
                            threshold: Double, bands: Int = 64,
                            rowsPerBand: Int = 2,
                            maxBucket: Int = 4096): DataFrame = {
    val setsA = docShingleSets(newDf, id, text, n).localCheckpoint()
    val setsB = docShingleSets(histDf, id, text, n).localCheckpoint()
    // capped cross generator (reference-only census): a hot history
    // bucket (a crawl that already accumulated one boilerplate page a
    // million times) is sub-split instead of pairing batch × history
    // quadratically on one key; a hot BATCH key is bounded per probe
    // row by the ≤ maxBucket post-split history buckets
    // only the HISTORY band rows materialize: the reference-only
    // census reads them twice (census + probe), while the batch side
    // flows through its single probe join lazily — one checkpoint job
    // and one band-row materialization fewer than the r8 shape (the
    // x50 cap-tax shave; the batch side still derives from the
    // checkpointed shingle sets, so MinHashAgg runs once either way)
    val candidates = Planes.cappedCrossPairs(
      minhashBuckets(setsA, bands, rowsPerBand)
        .withColumnRenamed("_id", "id_a"),
      minhashBuckets(setsB, bands, rowsPerBand)
        .withColumnRenamed("_id", "id_b").localCheckpoint(),
      maxBucket)
    candidates
      .join(setsA.as("sa"), col("id_a") === col("sa._id"))
      .join(setsB.as("sb"), col("id_b") === col("sb._id"))
      .withColumn("shared",
        graft.functions.IntersectCount.intersectCount(
          col("sa.shs"), col("sb.shs")))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash from md5 nibbles of each token: bit j comes from
    * hex char j/4 of md5(token); tokens vote ±1 per bit; the sign of
    * the vote sum sets the signature bit. Engine-portable by
    * construction (md5 + integer arithmetic only — the DuckDB oracle
    * reproduces it exactly). 64 bits keep the signature space
    * collision-sparse at billion-doc corpora (32 bits saturate).
    * Backed by the native codegen'd [[graft.functions.SimHash64]] —
    * one MD5 + bit loop per token instead of 64 interpreted lambdas
    * per token; bit-identical to the test-side
    * `HofReference.simhash64Hof` (property-tested). */
  def simhash64(text: Column): Column =
    graft.functions.SimHash64.simhash64(text)

  /** SimHash near-dup pairs within a hamming ball, banded on
    * `maxHamming + 1` DISJOINT signature chunks (pigeonhole: k bit
    * flips cannot touch all k+1 chunks, so every true pair shares at
    * least one chunk verbatim — the banding is lossless). The chunk
    * width adapts to the ball: hamming≤3 → 4 bands × 16 bits (65,536
    * buckets per band), hamming≤7 → 8 bands × 8 bits (256 buckets).
    * Wider chunks matter at scale — with B buckets per band, random
    * (non-dup) signatures generate ~bands × N²/B candidate pairs, so
    * 16-bit bands cut the candidate volume ~500× vs byte bands at the
    * same recall; candidates are then exactly hamming-verified.
    * Chunks are extracted with unsigned shifts — float division would
    * lose bits beyond 2^53 on 64-bit signatures.
    *
    * A FLOOD of identical signatures (boilerplate docs that survive
    * exact dedup as byte-different variants, or perceptually-flat
    * images in [[graft.ext.Multimodal.imageNearDups]] where every
    * blank thumbnail dHashes the same) shares every chunk in every
    * band and would pair quadratically on one hot key; buckets over
    * `maxBucket` members are deterministically sub-split by
    * [[Planes.cappedSelfPairs]], bounding candidate volume at
    * ~bands · n · maxBucket. Below the cap the candidate set is
    * byte-identical to the uncapped join (the empty-census fast
    * path), so the pigeonhole-lossless contract holds verbatim
    * wherever no bucket exceeds `maxBucket`; inside an oversized
    * bucket only same-sub-bucket pairs are candidates — and because
    * an identical-signature flood shares ALL its chunks, other bands
    * cannot vote those pairs back (they sub-split the same way), so
    * the cap genuinely trades ~(1 − 1/ns) of the hot cluster's
    * internal pair list for the volume bound. Downstream
    * [[dedupCorpus]]-style resolution keeps one doc per CONNECTED
    * component, so a fragmented flood resolves to ns survivors
    * instead of 1 — the documented, bounded cost of not letting one
    * hot key go quadratic. */
  def simhashPairs(df: DataFrame, id: String, text: String, maxHamming: Int,
                   maxBucket: Int = 4096): DataFrame =
    simhashCandidates(
      df.select(col(id).as("_id"), simhash64(col(text)).as("sig"))
        .localCheckpoint(),
      maxHamming, maxBucket)
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)

  /** Contrastive positive mining from a near-dup pair list: for every
    * document that appears in at least one pair, its `cap` STRONGEST
    * partners — the (anchor, positive) training-pair extraction for
    * contrastive/embedding training, where near-duplicates are free
    * positives the dedup pass would otherwise just delete.
    * Deterministic: similarity descending, partner id ascending.
    *
    * Plan shape: the pair list doubles (both orientations — every
    * member anchors), then ONE bounded [[graft.functions.TopKAgg]]
    * aggregate per anchor (≤ cap pairs per mapper per anchor — never
    * a per-anchor sort, exactly [[Sampling.domainCap]]'s shape).
    * Output (anchor, positive, sim, pos_rank). `sim` must be exactly
    * double-representable for determinism (Jaccard fractions and
    * hamming counts are). */
  def minePositives(pairs: DataFrame, idA: String, idB: String,
                    sim: Column, cap: Int): DataFrame = {
    require(cap >= 1, "cap must be positive")
    // materialize the (possibly expensive) pair plan ONCE — the
    // orientation union is two projections of it, and a lazy plan
    // would execute the upstream pair-verify join twice
    val p = pairs.select(col(idA).as("_pa"), col(idB).as("_pb"),
      sim.as("_s")).localCheckpoint()
    val both = p
      .select(col("_pa").as("_anchor"), col("_pb").as("_other"), col("_s"))
      .unionByName(p
        .select(col("_pb").as("_anchor"), col("_pa").as("_other"), col("_s")))
    both.groupBy(col("_anchor").as("anchor"))
      .agg(graft.functions.TopKAgg.topk(col("_s"), col("_other"), cap)
        .as("_top"))
      .select(col("anchor"), posexplode(col("_top")).as(Seq("_pos", "_kv")))
      .select(col("anchor"), col("_kv.id").as("positive"),
        col("_kv.v").as("sim"), (col("_pos") + 1).cast("long").as("pos_rank"))
  }

  /** The banded candidate join of [[simhashPairs]] before hamming
    * verification, over a precomputed `(_id, sig)` frame — exposed so
    * specs can assert the candidate-volume bound directly. Routed
    * through the SHARED oversized-bucket-safe generator
    * ([[Planes.cappedSelfPairs]], bucket = the band's chunk value):
    * below `maxBucket` members per (band, chunk) the empty-census
    * fast path keeps the candidate set byte-identical to the plain
    * banded self-join; an identical-signature flood sub-splits
    * instead of pairing quadratically (see [[simhashPairs]] for the
    * recall contract). `sigs` SHOULD be materialized by the caller —
    * it feeds the band rows once and the two signature join-backs. */
  private[ext] def simhashCandidates(sigs: DataFrame, maxHamming: Int,
                                     maxBucket: Int = 4096): DataFrame = {
    // ids-only band rows, materialized: the capped generator reads
    // them three times (census + both join probes)
    val banded = simhashBandRows(sigs, maxHamming)
      .select("_id", "band", "bucket").localCheckpoint()
    Planes.cappedSelfPairs(banded, maxBucket)
      .join(sigs.select(col("_id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigs.select(col("_id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
  }

  /** Disjoint-chunk (band, bucket) rows appended to a frame carrying
    * a `sig` column — the SimHash banding shared by the self
    * ([[simhashCandidates]]), cross ([[simhashPairsAcross]]) and
    * streaming ([[graft.streaming.SimHashStream]]) paths. ALL input
    * columns are preserved (the streaming probe needs the signature
    * and carry columns in the same Generate — a stream cannot join
    * back to itself); batch callers project down to ids before
    * checkpointing. Chunk widths distribute 64 bits over maxHamming+1
    * bands as evenly as possible; extraction is unsigned shifts
    * (float division would lose bits beyond 2^53). */
  private[graft] def simhashBandRows(sigs: DataFrame, maxHamming: Int)
      : DataFrame = {
    require(0 <= maxHamming && maxHamming <= 7,
      "disjoint-chunk banding supports hamming <= 7 (8 chunks minimum 8 bits)")
    val nBands = maxHamming + 1
    val widths = (0 until nBands).map(b => 64 / nBands + (if (b < 64 % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val chunks = array((0 until nBands).map { b =>
      // width 64 (maxHamming=0, one band) is the whole signature; a
      // 1L << 64 modulus would wrap to 1 in Java shift semantics
      if (widths(b) == 64) col("sig")
      else pmod(shiftrightunsigned(col("sig"), offsets(b)), lit(1L << widths(b)))
    }: _*)
    sigs.select(col("*"), posexplode(chunks).as(Seq("band", "bucket")))
  }

  /** Cross-corpus SimHash near-dup pairs — [[simhashPairs]] in the
    * crawl-batch-vs-history shape ([[minhashLshPairsAcross]]'s
    * signature sibling): the new batch pairs only ACROSS the frames,
    * never history-vs-history. Both sides reduce to (id, band, chunk)
    * rows; the oversized-bucket census counts the HISTORY side only
    * ([[Planes.cappedCrossPairs]]), so a precomputed signature index
    * over the accumulated corpus carries the identical census and the
    * streaming path ([[graft.streaming.SimHashStream]]) can never
    * disagree with this batch replay — the same round-9 contract as
    * the semantic pair ([[semanticDupPairsInt8Across]]). Candidates
    * are exactly hamming-verified; returns (id_a ∈ new,
    * id_b ∈ history, hamming). */
  def simhashPairsAcross(newDf: DataFrame, histDf: DataFrame, id: String,
                         text: String, maxHamming: Int,
                         maxBucket: Int = 4096): DataFrame = {
    val sa = newDf.select(col(id).as("_id"), simhash64(col(text)).as("sig"))
      .localCheckpoint()
    val sb = histDf.select(col(id).as("_id"), simhash64(col(text)).as("sig"))
      .localCheckpoint()
    // only the HISTORY band rows materialize (census + probe = two
    // reads); the batch side flows through its single probe lazily
    val cand = Planes.cappedCrossPairs(
      simhashBandRows(sa, maxHamming)
        .select(col("_id").as("id_a"), col("band"), col("bucket")),
      simhashBandRows(sb, maxHamming)
        .select(col("_id").as("id_b"), col("band"), col("bucket"))
        .localCheckpoint(),
      maxBucket)
    cand
      .join(sa.select(col("_id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sb.select(col("_id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Embedding cosine near-dup pairs, LSH-bucketed — the 100 TB path.
    * Each vector gets `bands` bucket ids (the sign pattern of
    * `bitsPerBand` deterministic md5-derived hyperplanes per band,
    * [[Planes]]); candidate pairs must share at least one (band,
    * bucket) key; candidates are then EXACTLY cosine-verified at
    * `threshold`. The shuffle is on (band, bucket) — docs that share
    * no bucket never pair, so the join stays near-linear in the
    * corpus instead of O(n²). Recall is governed by bands ×
    * bitsPerBand in the usual LSH OR/AND way; because the planes are
    * deterministic, the candidate set (and thus the output) is exactly
    * reproducible by the DuckDB oracle (x05 mirrors the banding,
    * including the oversized-bucket sub-split,
    * [[Planes.cappedSkCteSql]]).
    *
    * `bands`/`bitsPerBand` default to 0 = CORPUS-AWARE: bits from
    * [[Planes.bitsFor]] (one cheap ids-only count keeps expected
    * bucket occupancy ~constant as n grows), bands from
    * [[Planes.bandsFor]] (design-point recall held as bits rise) —
    * the sf1-ramp lesson that fixed knobs go quadratic (SCALING.md).
    * Oversized buckets — hot keys the occupancy target can't see —
    * are additionally sub-split at `maxBucket` by
    * [[Planes.cappedSelfPairs]], bounding candidate volume at
    * ~bands · n · maxBucket even under an all-identical-vector
    * flood. */
  def embeddingNearDups(df: DataFrame, id: String, vec: String,
                        threshold: Double, bands: Int = 0,
                        bitsPerBand: Int = 0, dim: Int = 64,
                        maxBucket: Int = 4096): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val (nBands, nBits) = Planes.resolveBanding(bands, bitsPerBand, df.count())
    val planes = Planes.components(nBands * nBits, dim)
    // the plane sketch is materialized THROUGH THE GENERATE pipeline
    // (sketch → posexplode → ids-only band rows), never as an array
    // column in a wide row: evaluating the 160-plane expression
    // inside a Project that also carries the 64-double vector
    // de-optimizes ~5× (measured 11.6 s vs 2.3 s at sf1 — the wide
    // materializing projection drops out of efficient codegen), and
    // the banded checkpoint is what the capped generator reads three
    // times anyway. Vectors join back from the (column-pruned) source
    // scan on candidates only — no vector checkpoint needed.
    val banded = df.select(col(id).as("_id"), col(vec).as("v"))
      .repartition(parts)
      .select(col("_id"),
        posexplode(Planes.bandBuckets(col("v"), planes, nBands, nBits))
          .as(Seq("band", "bucket")))
      .localCheckpoint()
    val cand = Planes.cappedSelfPairs(banded, maxBucket)
    // per-side norms hoist out of the pair row (r12, guide §1.2-2):
    // computed once per SOURCE row before the candidate joins, not
    // once per pair after — bit-identical cosine (same sqrt per side,
    // same product order)
    val v = df.select(col(id).as("_id"), col(vec).as("v"),
      Similarity.norm(col(vec)).as("_nv"))
    cand
      .join(v.as("va"), col("id_a") === col("va._id"))
      .join(v.as("vb"), col("id_b") === col("vb._id"))
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va.v"), col("vb.v")) /
          (col("va._nv") * col("vb._nv"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic near-dup pairs scored in the QUANTIZED
    * domain: candidates come from the same deterministic plane-LSH
    * banding as [[embeddingNearDups]], but the pair decision is made
    * on int8-quantized vectors ([[Similarity.int8Quantize]]) with an
    * integer cross-multiplied cosine² test —
    * `cos²(qa,qb) ≥ num/den  ⇔  den·dotq² ≥ num·‖qa‖²·‖qb‖²` (and
    * `dotq > 0` to exclude anti-parallel pairs whose square would
    * pass). Every quantity is a 64-bit integer, so the dedup decision
    * is bit-identical on any engine, hardware, or partitioning — the
    * property that matters when dedup runs incrementally across
    * heterogeneous clusters and a float-threshold flip would
    * resurrect a previously-deleted near-duplicate.
    *
    * Scale shape: the banded shuffle carries (id, band, bucket) only;
    * quantized vectors (4× smaller than float32) join back on
    * candidates; scoring is a codegen'd integer loop. Overflow bound:
    * `den·dotq² ≤ den·(127²·dim)²` — safe in Long for dim·√den up to
    * ~6×10⁵ (dim 64 × den ≤ 4 used here is 10⁴× inside the bound).
    * Returns (id_a, id_b, dotq, na, nb) for passing pairs.
    *
    * TUNING IS CORPUS-SIZE-DEPENDENT BY LSH'S NATURE (measured on the
    * sf1 ramp, SCALING.md round 7): candidate volume is
    * ~bands·n²/2^bits, so `bitsPerBand` must grow ~log₂ of corpus
    * growth to keep bucket occupancy (and wall time) linear, and
    * `bands` must rise with it to hold recall (per-band collision =
    * (1−θ/π)^bits). That retune is now the DEFAULT:
    * `bands`/`bitsPerBand` = 0 derive from one cheap corpus count via
    * [[Planes.bitsFor]] (occupancy) + [[Planes.bandsFor]]
    * (design-point recall), and oversized hot buckets are sub-split
    * at `maxBucket` by [[Planes.cappedSelfPairs]] — candidate volume
    * is bounded by ~bands · n · maxBucket no matter how adversarial
    * the vector distribution. Banding earns its shape at TIGHT
    * thresholds (cos ≥ ~0.85) on corpora too big for
    * [[embeddingNearDupsExact]]'s broadcast side; below a few million
    * vectors, or at loose thresholds, the exact path is both faster
    * and complete. Measure any retune's recall with the banding-audit
    * pattern (x142/x169/x170/x178 and the x184 semantic-banding
    * audit). */
  def semanticDupPairsInt8(df: DataFrame, id: String, vec: String,
                           cos2Num: Long = 1, cos2Den: Long = 4,
                           bands: Int = 0, bitsPerBand: Int = 0,
                           dim: Int = 64, maxBucket: Int = 4096)
      : DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val (nBands, nBits) = Planes.resolveBanding(bands, bitsPerBand, df.count())
    val planes = Planes.components(nBands * nBits, dim)
    // deliberate up-front shuffle on both materializations: banding
    // and quantization dominate this plan, and the source parquet
    // arrives in a handful of splits — spreading rows across all
    // cores first wins ~18% end-to-end (measured 4.99 s vs 5.89 s
    // without, sf0.1). The plane sketch is materialized THROUGH THE
    // GENERATE pipeline (ids-only band rows), never as an array
    // column in a wide row — a wide materializing Project drops out
    // of efficient codegen at auto-scaled plane counts (measured
    // 11.6 s vs 2.3 s at sf1's 160 planes, embeddingNearDups probe)
    val src = df.select(col(id).as("_id"), col(vec).as("fv"))
      .repartition(parts)
    val banded = src
      .select(col("_id"),
        posexplode(Planes.bandBuckets(col("fv"), planes, nBands, nBits))
          .as(Seq("band", "bucket")))
      .localCheckpoint()
    val cand = Planes.cappedSelfPairs(banded, maxBucket)
    // quantized payloads materialize separately (64 longs per row —
    // small) because the scoring join reads them for both sides; the
    // self-dot ‖q‖² rides the checkpoint (r12, guide §1.2-2: exact
    // long per ROW once, instead of twice per candidate pair)
    val dotL = graft.functions.VectorExpressions.dot_long _
    val qv = src
      .select(col("_id"),
        Similarity.int8Quantize(col("fv")).getField("q").as("qv"))
      .withColumn("_n", dotL(col("qv"), col("qv")))
      .localCheckpoint()
    cand
      .join(qv.as("qa"), col("id_a") === col("qa._id"))
      .join(qv.as("qb"), col("id_b") === col("qb._id"))
      .select(col("id_a"), col("id_b"),
        dotL(col("qa.qv"), col("qb.qv")).as("dotq"),
        col("qa._n").as("na"),
        col("qb._n").as("nb"))
      .filter(col("dotq") > 0 && col("na") > 0 && col("nb") > 0 &&
        col("dotq") * col("dotq") * lit(cos2Den) >=
          lit(cos2Num) * col("na") * col("nb"))
  }

  /** EXACT-SUBSTRING corpus dedup with rewrite — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * semantics, keep-first-occurrence: every `l`-token window that
    * also occurs in an EARLIER document (smaller id) is removed from
    * the later document's text; overlapping removed windows merge
    * into maximal removed spans for free (token-level masking). The
    * earliest document keeps all its occurrences (including internal
    * repeats — [[internalRepeats]] is the within-doc instrument).
    * Returns the corpus with `text_clean` (survivors re-joined on
    * single spaces) and `n_removed` (tokens dropped) appended.
    *
    * Why windows instead of a suffix array: the published suffix-array
    * construction is a single-machine algorithm; the window
    * formulation is its shuffle-native equivalent for a FIXED minimum
    * match length — any shared substring of ≥ l tokens contains a
    * shared l-window at every offset, so masking all shared l-windows
    * removes exactly the ≥ l-token shared spans (for match lengths
    * below l it deliberately removes nothing, same as the SA cutoff).
    *
    * Scale shape: the window explode is the inherent l× token-stream
    * cost (same as the SA's l-gram table); the keeper is one
    * map-combined MIN per window string; the mask join is an
    * equi-join on the window — a boilerplate window hot key skews
    * that join, which AQE skew-split handles, and its output is
    * exactly the mask rows the rewrite needs. The window frame is
    * recomputed for its two consumers rather than checkpointed —
    * at corpus scale a second scan beats materializing an l× blowup.
    * The rewrite itself is in-row HOF arithmetic (no UDF),
    * O(tokens + starts · log starts) per document: masked starts
    * sort once, fixed-length-l intervals merge into maximal removed
    * runs in one shifted-zip pass (a run opens where the gap to the
    * previous start exceeds l), and the kept text is the flattened
    * token slices of the gaps BETWEEN runs — never a per-token scan
    * of the start list, which for long, heavily-duplicated documents
    * (exactly this operator's target) was O(tokens × starts). */
  def substringDedupRewrite(corpus: DataFrame, id: String, text: String,
                            l: Int): DataFrame = {
    require(l >= 2, "minimum match length must be at least 2 tokens")
    val toks = filter(split(col(text), " "), t => t =!= "")
    val withToks = corpus.withColumn("_toks", toks)
    // r13: the window stream is exactly the native token-n-gram
    // expression (one pass, whole-stage codegen) — the HOF form
    // (`transform(sequence(0, n−l), i => concat_ws(" ", slice(_toks,
    // i+1, l)))`, empty under l tokens) paid an interpreted lambda and
    // an array copy per window; TokenNgrams emits max(n−l+1, 0) windows
    // over the same non-empty tokens in the same order, so the
    // posexplode positions are unchanged (parity pinned in R13OptSpec)
    val windows = graft.functions.TokenNgrams.tokenNgrams(col(text), l)
    def probes = withToks.select(col(id).as("_pid"),
      posexplode(windows).as(Seq("_start", "_w")))
    val keepers = probes.groupBy("_w").agg(min(col("_pid")).as("_keep"))
    val masked = probes.join(keepers, "_w")
      .filter(col("_pid") > col("_keep"))
      .groupBy(col("_pid")).agg(collect_set(col("_start")).as("_starts"))
    val joined = withToks.join(masked, withToks(id) === masked("_pid"), "left")
      .withColumn("_starts",
        coalesce(col("_starts"), array().cast("array<int>")))
    // merge the fixed-length-l removed intervals in one pass over the
    // SORTED starts: a merged run opens at start s when the previous
    // start p satisfies s > p + l (pad -(l+1) opens the first), and
    // closes at s + l when the next start exceeds s + l (pad MaxValue
    // closes the last). zip_with pads the shorter array with nulls;
    // the null rows filter out, which also handles the empty-mask doc.
    val sorted = array_sort(col("_starts"))
    val prevPad = concat(array(lit(-(l + 1))), sorted)
    val runLo = filter(
      zip_with(sorted, prevPad, (s, p) => when(s > p + l, s)),
      v => v.isNotNull)
    val nxtPad = concat(
      slice(sorted, lit(2), greatest(size(sorted) - 1, lit(0))),
      array(lit(Int.MaxValue)))
    val runHi = filter(
      zip_with(nxtPad, sorted, (nx, s) => when(nx > s + l, s + l)),
      v => v.isNotNull)
    // kept text = token slices of the gaps between runs:
    // [0, runLo₀), [runHi₀, runLo₁), …, [runHi_last, ntoks)
    val gapLo = concat(array(lit(0)), runHi)
    val gapHi = concat(runLo, array(size(col("_toks"))))
    val kept = flatten(zip_with(gapLo, gapHi,
      (lo, hi) => slice(col("_toks"), lo + 1, greatest(hi - lo, lit(0)))))
    joined
      .withColumn("text_clean", concat_ws(" ", kept))
      .withColumn("n_removed", (size(col("_toks")) - size(kept)).cast("long"))
      .drop("_toks", "_starts", "_pid")
  }

  /** Incremental cross-corpus SEMANTIC dedup — [[semanticDupPairsInt8]]
    * in the crawl-batch-vs-history shape ([[minhashLshPairsAcross]]'s
    * embedding sibling): a new batch is checked against the
    * accumulated corpus for semantic near-duplicates WITHOUT
    * re-pairing history against itself. Both sides band with the same
    * deterministic planes; candidates must share a (band, bucket)
    * key; the pair decision is the identical integer int8 cosine²
    * test, so an incremental run and a from-scratch run can never
    * disagree on a pair (bit-determinism is exactly what makes
    * incremental dedup safe to trust).
    *
    * Scale shape: the banded shuffle carries ids only; oversized
    * buckets are sub-split by [[Planes.cappedCrossPairs]], whose
    * census counts the HISTORY side only — a pure function of the
    * reference, so the precomputed streaming index
    * ([[graft.streaming.EmbedStream.semanticRefIndex]]) carries the
    * identical census and stream-at-ingest == batch replay holds
    * EXACTLY, hot buckets included; a new-side flood is still
    * bounded because every post-split history bucket holds
    * ≤ maxBucket rows (each probe row generates ≤ bands · maxBucket
    * candidates). The history side reduces to (id, bucket, qv) — at
    * 100 TB it can be a precomputed sketch+signature store.
    * `bands`/`bitsPerBand` = 0 derive from the COMBINED corpus count
    * (occupancy is set by everyone sharing the bucket space).
    * Returns (id_a ∈ new, id_b ∈ history, dotq, na, nb). */
  def semanticDupPairsInt8Across(newDf: DataFrame, histDf: DataFrame,
                                 id: String, vec: String,
                                 cos2Num: Long = 1, cos2Den: Long = 4,
                                 bands: Int = 0, bitsPerBand: Int = 0,
                                 dim: Int = 64, maxBucket: Int = 4096)
      : DataFrame = {
    val parts = newDf.sparkSession.sessionState.conf.numShufflePartitions
    val (nBands, nBits) = Planes.resolveBanding(bands, bitsPerBand,
      newDf.count() + histDf.count())
    val planes = Planes.components(nBands * nBits, dim)
    // sketch through the Generate pipeline, ids-only band rows (see
    // semanticDupPairsInt8 — a wide materializing Project with the
    // sketch drops out of efficient codegen); quantized payloads are
    // separate small frames read by the scoring join. Only the
    // HISTORY side materializes: the reference-only census reads it
    // twice (census + probe) while the batch side flows through its
    // single probe join lazily
    def bandRows(df: DataFrame, out: String) = df
      .select(col(id).as("_id"), col(vec).as("fv"))
      .repartition(parts)
      .select(col("_id").as(out),
        posexplode(Planes.bandBuckets(col("fv"), planes, nBands, nBits))
          .as(Seq("band", "bucket")))
    val dotL = graft.functions.VectorExpressions.dot_long _
    // ‖q‖² hoists into the quantized projection (once per source row
    // per scan, not once per candidate pair — exact long arithmetic)
    def quant(df: DataFrame) = df
      .select(col(id).as("_id"),
        Similarity.int8Quantize(col(vec)).getField("q").as("qv"))
      .withColumn("_n", dotL(col("qv"), col("qv")))
    val qa = quant(newDf)
    val qb = quant(histDf)
    val cand = Planes.cappedCrossPairs(
      bandRows(newDf, "id_a"),
      bandRows(histDf, "id_b").localCheckpoint(), maxBucket)
    cand
      .join(qa.select(col("_id").as("id_a"), col("qv").as("_qa"),
        col("_n").as("na")), Seq("id_a"))
      .join(qb.select(col("_id").as("id_b"), col("qv").as("_qb"),
        col("_n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        dotL(col("_qa"), col("_qb")).as("dotq"),
        col("na"), col("nb"))
      .filter(col("dotq") > 0 && col("na") > 0 && col("nb") > 0 &&
        col("dotq") * col("dotq") * lit(cos2Den) >=
          lit(cos2Num) * col("na") * col("nb"))
  }

  /** SemDeDup proper (Abbas et al. 2023): semantic dedup with
    * K-MEANS-CLUSTER candidate generation — cluster the corpus with
    * the deterministic int8 Lloyd's ([[Similarity]]'s x87 machinery:
    * smallest-id seeds, integer rounded means), then test pairs only
    * WITHIN a cluster with the same integer int8 cosine² decision as
    * [[semanticDupPairsInt8]]. The published algorithm's shape:
    * clustering concentrates near-duplicates, so the pair volume is
    * Σ per-cluster n_c² instead of n² — and here even that is bounded,
    * because cluster membership feeds the SAME oversized-bucket cap
    * as the banded paths ([[Planes.cappedSelfPairs]] with the cluster
    * id as the bucket key): a degenerate corpus that collapses into
    * one cluster caps at ~n·maxBucket candidates instead of n².
    *
    * Plane-LSH ([[semanticDupPairsInt8]]) vs clusters: banding has
    * tunable per-pair recall and needs no training rounds; clustering
    * adapts to the corpus' actual density (no recall cliff at bucket
    * boundaries for tight thresholds) at the cost of `rounds` extra
    * passes. Both decisions are bit-identical, so they can be
    * cross-audited pair-for-pair. Returns (id_a, id_b, dotq, na, nb),
    * both ids in the same cluster.
    *
    * `nClusters` defaults to 0 = CORPUS-AWARE: derived from one cheap
    * ids-only count by [[Planes.nClustersFor]] so expected cluster
    * occupancy stays ~constant as n grows — the same fixed-knob
    * lesson the banded paths learned in round 8 (SCALING.md: fixed
    * k = 16 measured 4.2×/decade, cause = 10× occupancy; worse, at
    * 100× the `maxBucket` cap would sub-split every cluster and
    * silently dilute SemDeDup's recall). [[Planes.nClustersFor]]'s
    * scaladoc records the honest boundary: Lloyd assignment is
    * n·k = n²/occupancy evals — past ~10⁷ vectors prefer the banded
    * path. Measure any retune with [[semanticIvfAudit]]. */
  def semanticDupPairsIvfInt8(df: DataFrame, id: String, vec: String,
                              cos2Num: Long = 1, cos2Den: Long = 4,
                              nClusters: Int = 0, rounds: Int = 2,
                              maxBucket: Int = 4096): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val k = if (nClusters > 0) nClusters else Planes.nClustersFor(df.count())
    val dotL = graft.functions.VectorExpressions.dot_long _
    // ‖q8‖² rides the checkpoint (r12: once per row, not per pair)
    val q = df.select(col(id).as("vid"), col(vec).as("fv"))
      .repartition(parts)
      .select(col("vid"),
        Similarity.int8Quantize(col("fv")).getField("q").as("q8"))
      .withColumn("_n", dotL(col("q8"), col("q8")))
      .localCheckpoint()
    val cents = Similarity.lloydLoop(q.select(col("vid"), col("q8")),
      k, rounds)
    // cluster id as the (band=0, bucket) key: the capped generator's
    // census/sub-split applies verbatim to hot clusters
    val bandRows = Similarity.int8AssignTo(q, cents)
      .select(col("vid").as("_id"), lit(0).as("band"),
        col("cluster").as("bucket"))
      .localCheckpoint()
    val cand = Planes.cappedSelfPairs(bandRows, maxBucket)
    cand
      .join(q.select(col("vid").as("id_a"), col("q8").as("_qa"),
        col("_n").as("na")), Seq("id_a"))
      .join(q.select(col("vid").as("id_b"), col("q8").as("_qb"),
        col("_n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        dotL(col("_qa"), col("_qb")).as("dotq"),
        col("na"), col("nb"))
      .filter(col("dotq") > 0 && col("na") > 0 && col("nb") > 0 &&
        col("dotq") * col("dotq") * lit(cos2Den) >=
          lit(cos2Num) * col("na") * col("nb"))
  }

  /** Self-verifying recall audit for [[semanticDupPairsInt8]] — the
    * instrument the corpus-aware knob retune is measured with (the
    * x142/x169/x170 pattern applied to semantic dedup): the EXACT
    * integer-decision pair set (brute-force O(n²), right side
    * broadcast — audit-only, never the production path) against the
    * banded+capped production pairs, as ONE row (n_exact, n_banded,
    * n_hits, recall_ppm). Both sides are bit-deterministic, so every
    * number is oracle-reproducible; banded pairs pass the identical
    * integer test, so n_hits = n_banded unless the banding is broken
    * — a divergence turns the gate red.
    *
    * `docSampleBits > 0` switches to SAMPLED mode for routine
    * monitoring at scale: the CORPUS is restricted to a deterministic
    * xxhash64 id subset (1 in 2^bits) before both sides run — exactly
    * the x142 sub-corpus treatment. Because both exact membership and
    * banding candidacy depend only on a pair's two endpoints, the
    * sampled audit equals the full audit restricted to the uniform
    * 1/4^bits subset of pairs with both endpoints sampled — an
    * unbiased recall estimate at ~1/4^bits of BOTH sides' cost. The
    * banding knobs are resolved from the FULL corpus count first and
    * passed explicitly, so the sampled run measures the production
    * banding, not a smaller corpus' retune. (One honest caveat: a
    * bucket over `maxBucket` in the full corpus may fall under the
    * cap in the sample, so heavily-capped corpora read a few ppm
    * optimistic in sampled mode.) The correctness gate always runs
    * bits = 0. */
  def semanticBandingAudit(df: DataFrame, id: String, vec: String,
                           cos2Num: Long = 1, cos2Den: Long = 4,
                           bands: Int = 0, bitsPerBand: Int = 0,
                           dim: Int = 64, maxBucket: Int = 4096,
                           docSampleBits: Int = 0): DataFrame = {
    require(docSampleBits >= 0 && docSampleBits <= 16,
      "docSampleBits must be in [0, 16]")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // production knobs: derived from the FULL corpus before sampling
    val (nBands, nBits) = Planes.resolveBanding(bands, bitsPerBand, df.count())
    val base = if (docSampleBits == 0) df else df.filter(
      pmod(xxhash64(col(id).cast("string")), lit(1L << docSampleBits)) === 0)
    val dotL = graft.functions.VectorExpressions.dot_long _
    // ‖q‖² rides the checkpoint: the O(n²) exact side pays ONE dot
    // per pair instead of three (r12 — this is the audit's hot loop)
    val q = base.select(col(id).as("_id"),
        Similarity.int8Quantize(col(vec)).getField("q").as("qv"))
      .withColumn("_n", dotL(col("qv"), col("qv")))
      .localCheckpoint()
    val exact = q.repartition(parts).as("a")
      .join(broadcast(q).as("b"), col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        dotL(col("a.qv"), col("b.qv")).as("dotq"),
        col("a._n").as("na"),
        col("b._n").as("nb"))
      .filter(col("dotq") > 0 && col("na") > 0 && col("nb") > 0 &&
        col("dotq") * col("dotq") * lit(cos2Den) >=
          lit(cos2Num) * col("na") * col("nb"))
      .select(col("id_a"), col("id_b"), lit(1L).as("_e"))
    val banded = semanticDupPairsInt8(base, id, vec, cos2Num, cos2Den,
        nBands, nBits, dim, maxBucket)
      .select(col("id_a"), col("id_b"), lit(1L).as("_b"))
    exact.join(banded, Seq("id_a", "id_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_b")).as("n_banded"),
        count(when(col("_e").isNotNull && col("_b").isNotNull, lit(1)))
          .as("n_hits"))
      .withColumn("recall_ppm",
        IntMath.ppmDiv(col("n_hits"), col("n_exact")))
  }

  /** Recall audit for [[semanticDupPairsIvfInt8]] — the x184 pattern
    * applied to the IVF path, and the instrument the corpus-aware
    * `nClusters` retune is measured with: the EXACT integer-decision
    * pair set (brute-force, audit-only) vs the cluster-bucketed
    * production pairs, ONE row (n_exact, n_ivf, n_hits, recall_ppm).
    * Both sides are bit-deterministic (int8 quantization, integer
    * Lloyd trajectory, integer cosine² decision), so every number is
    * oracle-reproducible; IVF pairs pass the identical integer test,
    * so n_hits = n_ivf by construction — a divergence turns the gate
    * red. The recall gap it measures is real: SemDeDup only compares
    * WITHIN a cluster, so near-dup pairs straddling a cluster
    * boundary are the misses (banding has the same blind spot across
    * bucket boundaries, audited by [[semanticBandingAudit]]).
    *
    * `docSampleBits > 0` restricts the corpus to a deterministic
    * xxhash64 id subset before both sides run, with `nClusters`
    * resolved from the FULL corpus count first — routine monitoring
    * at ~1/4^bits of the pair cost. One honest caveat beyond x184's:
    * cluster ASSIGNMENT depends on the whole corpus (centroids train
    * on it), so the sampled audit measures the production k on the
    * sub-corpus' own clustering, not the production clustering
    * restricted — an unbiased estimate of the IVF shape's recall,
    * not a pair-exact replay. The correctness gate always runs
    * bits = 0. */
  def semanticIvfAudit(df: DataFrame, id: String, vec: String,
                       cos2Num: Long = 1, cos2Den: Long = 4,
                       nClusters: Int = 0, rounds: Int = 2,
                       maxBucket: Int = 4096, docSampleBits: Int = 0)
      : DataFrame = {
    require(docSampleBits >= 0 && docSampleBits <= 16,
      "docSampleBits must be in [0, 16]")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // production knob: derived from the FULL corpus before sampling
    val k = if (nClusters > 0) nClusters else Planes.nClustersFor(df.count())
    val base = if (docSampleBits == 0) df else df.filter(
      pmod(xxhash64(col(id).cast("string")), lit(1L << docSampleBits)) === 0)
    val dotL = graft.functions.VectorExpressions.dot_long _
    // ‖q‖² rides the checkpoint (see semanticBandingAudit)
    val q = base.select(col(id).as("_id"),
        Similarity.int8Quantize(col(vec)).getField("q").as("qv"))
      .withColumn("_n", dotL(col("qv"), col("qv")))
      .localCheckpoint()
    val exact = q.repartition(parts).as("a")
      .join(broadcast(q).as("b"), col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        dotL(col("a.qv"), col("b.qv")).as("dotq"),
        col("a._n").as("na"),
        col("b._n").as("nb"))
      .filter(col("dotq") > 0 && col("na") > 0 && col("nb") > 0 &&
        col("dotq") * col("dotq") * lit(cos2Den) >=
          lit(cos2Num) * col("na") * col("nb"))
      .select(col("id_a"), col("id_b"), lit(1L).as("_e"))
    val ivf = semanticDupPairsIvfInt8(base, id, vec, cos2Num, cos2Den,
        k, rounds, maxBucket)
      .select(col("id_a"), col("id_b"), lit(1L).as("_i"))
    exact.join(ivf, Seq("id_a", "id_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_i")).as("n_ivf"),
        count(when(col("_e").isNotNull && col("_i").isNotNull, lit(1)))
          .as("n_hits"))
      // guard like semanticBandingAudit: a heavily-sampled sub-corpus
      // can have zero exact pairs — recall is then NULL, not a crash
      .withColumn("recall_ppm", when(col("n_exact") > 0,
        IntMath.ppmDiv(col("n_hits"), col("n_exact"))))
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word n-gram shingles with any single
    * benchmark document — the train/eval overlap check a training-data
    * pipeline runs before shipping a corpus. The benchmark side (an
    * eval suite) is tiny by nature, so its exploded shingle rows
    * BROADCAST: the corpus-side plan is scan → shingle explode →
    * broadcast hash join → map-side-combined count per (doc, bench)
    * pair. The corpus never shuffles except for the candidate
    * aggregation, which is bounded by actual overlap, not corpus size.
    * Returns (doc_id, bench_id, shared). */
  def contamination(corpus: DataFrame, cId: String, cText: String,
                    bench: DataFrame, bId: String, bText: String,
                    n: Int, minShared: Long): DataFrame = {
    val c = docShingleSets(corpus, cId, cText, n)
      .select(col("_id").as("doc_id"), explode(col("shs")).as("sh"))
    val b = bench
      .select(col(bId).as("bench_id"), shingles(col(bText), n).as("shs"))
      .select(col("bench_id"), explode(col("shs")).as("sh"))
    c.join(broadcast(b), "sh")
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Benchmark-span REMOVAL (the rewrite counterpart of
    * [[contamination]], the Dolma/"decontaminate by deletion" shape):
    * every corpus token window that exactly matches a benchmark
    * n-gram is dropped from the text; the rest of the document
    * survives re-joined on single spaces. Returns the corpus with
    * `text_clean` and `n_removed` (tokens dropped) appended.
    *
    * Scale shape: benchmark shingles are DISTINCT + broadcast (a
    * benchmark is small by definition); the corpus explodes to
    * (doc, window-start) rows only for the equi-join probe, and the
    * matched starts fold back to one array per contaminated doc —
    * uncontaminated docs never leave the scan (left join, null
    * starts). The rewrite itself is in-row HOF arithmetic (no UDF):
    * a token survives unless some matched start covers its index. */
  def removeContaminatedSpans(corpus: DataFrame, cId: String, cText: String,
                              bench: DataFrame, bText: String,
                              n: Int): DataFrame = {
    val toks = filter(split(col(cText), " "), t => t =!= "")
    val withToks = corpus.withColumn("_toks", toks)
    // 0-based window starts; docs shorter than n have no windows.
    // r13: the window stream is the native token-n-gram expression
    // (same array, same order as the transform(sequence)/concat_ws/
    // slice HOF chain it replaces — parity pinned in R13OptSpec), so
    // the corpus and bench sides both build windows at scan speed
    val probes = withToks.select(col(cId).as("_pid"),
      posexplode(graft.functions.TokenNgrams.tokenNgrams(col(cText), n))
        .as(Seq("_start", "_sh")))
    val bsh = bench
      .select(explode(
        graft.functions.TokenNgrams.tokenNgrams(col(bText), n)).as("_sh"))
      .distinct()
    val hits = probes.join(broadcast(bsh), "_sh")
      .groupBy(col("_pid")).agg(collect_set(col("_start")).as("_starts"))
    val joined = withToks.join(hits, withToks(cId) === hits("_pid"), "left")
      .withColumn("_starts",
        coalesce(col("_starts"), array().cast("array<int>")))
    val tokIdx = transform(col("_toks"), (t, i) => struct(t.as("t"), i.as("i")))
    val kept = filter(tokIdx, p =>
      !exists(col("_starts"), s => s <= p("i") && p("i") < s + n))
    joined
      .withColumn("text_clean", concat_ws(" ", transform(kept, p => p("t"))))
      .withColumn("n_removed", (size(col("_toks")) - size(kept)).cast("long"))
      .drop("_toks", "_starts", "_pid")
  }

  /** Connected components over an undirected pair list (the output of
    * any of the pair detectors above): iterative min-label propagation
    * to a fixpoint — each node repeatedly adopts the smallest label
    * among itself and its neighbours. Every iteration is one shuffle
    * join + a map-side-combined min aggregation, and lineage is
    * truncated per iteration (`localCheckpoint`) so the plan stays
    * flat instead of growing a join tower.
    *
    * Each round does BOTH neighbour-min adoption and pointer jumping
    * (label ← label(label), one extra self-join on the label frame) —
    * the jump halves the depth of any label chain per round, so
    * convergence is O(log diameter) rounds rather than O(diameter):
    * near-dup clusters (star/clique-shaped, diameter ≤ 2–3) converge
    * in 2–3 rounds, and even a million-node path graph fits far inside
    * the 64-round guard (the same bound large-star/small-star gives,
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14, with one fewer shuffle per round at dedup-shaped data).
    * Returns (id, cluster) with cluster = the smallest id reachable
    * from the node.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b"): DataFrame = {
    // materialize the directed edges FIRST: the undirected view is a
    // union of two projections of the same (possibly expensive) pair
    // plan, and materializing only the union would execute that plan
    // twice. localCheckpoint (eager), not cache()+count(): a cache
    // block under storage-memory pressure is LRU-evicted and every
    // later iteration's reference silently re-executes the full pair
    // plan (the observed 2-4x wall-time swings on identical code);
    // checkpoint blocks spill to disk and the lineage is truncated
    val e = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .localCheckpoint()
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // Round 1 runs FUSED (r12, guide §2.4): every starting label is
    // the node's own id, so min-neighbour-label adoption is just ONE
    // map-combined aggregation over the undirected edges — no initial
    // distinct-node frame, no label join. (Every node appears as src
    // in `und` because both directions are present, so the groupBy IS
    // the node set.) The result is bit-identical to the general round
    // below evaluated at labels == id; the old shape paid a distinct
    // + checkpoint + two shuffle joins to compute the same thing.
    var merged = und.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("_nbr"))
      .select(col("id"), col("id").as("old"),
        least(col("id"), col("_nbr")).as("nlabel"))
      .localCheckpoint()
    var changed = merged.filter(col("nlabel") < col("old")).count()
    var labels = merged.select(col("id"), col("nlabel").as("label"))
    var iters = 1
    while (changed > 0) {
      iters += 1
      require(iters <= 64,
        "connectedComponents: no fixpoint after 64 rounds (cyclic labels?)")
      // pointer jumping (label ← label(label), a self-join on the
      // CHECKPOINTED tiny label frame) engages only from round 3:
      // dedup clusters are star/clique-shaped and converge in 2 rounds
      // of plain adoption, so the common case pays nothing, while
      // long-chain graphs still compress geometrically. The jump
      // carries the round's STARTING label (`old`) through its own
      // join, so the convergence check needs no second labels join
      // (the jump itself may be the only change of a round).
      val base =
        if (iters <= 2) labels.select(col("id"), col("label"),
          col("label").as("old"))
        else labels.as("a").join(
            labels.select(col("id").as("jid"), col("label").as("jl")).as("j"),
            col("a.label") === col("jid"), "left")
          .select(col("a.id").as("id"),
            least(col("a.label"), coalesce(col("jl"), col("a.label")))
              .as("label"),
            col("a.label").as("old"))
          .localCheckpoint()
      // smallest neighbour label per node (partial agg before shuffle)
      val nbrMin = und.join(base, und("dst") === base("id"))
        .groupBy(und("src").as("id2")).agg(min("label").as("nbr"))
      merged = base
        .join(nbrMin, col("id") === col("id2"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("nlabel"))
        .localCheckpoint()
      changed = merged.filter(col("nlabel") < col("old")).count()
      labels = merged.select(col("id"), col("nlabel").as("label"))
    }
    System.err.println(s"[cc] converged after $iters rounds")
    labels.withColumnRenamed("label", "cluster")
  }

  /** Duplicate-cluster resolution — the retention step a dedup
    * pipeline runs after pair detection: groups the pair list into
    * connected components and picks ONE canonical survivor per cluster
    * (longest text, ties to the smallest id — the usual "keep the most
    * complete variant" policy). One aggregation over the component
    * labels; the survivor argmax rides the same shuffle via `max_by`.
    * Returns one row per cluster: (cluster, n_docs, ids, keep_id). */
  def resolveDuplicates(df: DataFrame, id: String, text: String,
                        pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
    val docs = df.select(col(id).as("id"), length(col(text)).cast("long").as("len"))
    comp.join(docs, "id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",",
          transform(sort_array(collect_list(col("id"))), _.cast("string"))).as("ids"),
        max_by(col("id"), struct(col("len"), -col("id"))).as("keep_id"))
  }

  /** Apply near-dup resolution to the corpus — the step after
    * [[resolveDuplicates]]' report: drop every clustered document
    * except its cluster's canonical survivor, pass unclustered
    * documents through untouched. The keeper is argmax of `quality`
    * (any Column over the input row — doc length, distinct-token
    * richness, a model score), ties to the smallest id.
    *
    * Scale shape: the pair list and component labels are sized by the
    * DUPLICATE subset, not the corpus — the drop list (cluster members
    * minus keepers) joins back to the corpus as one anti equi-join on
    * the id (broadcast when small, shuffle otherwise). The corpus
    * itself is never shuffled on anything but its own id. */
  def dedupCorpus(df: DataFrame, id: String, pairs: DataFrame,
                  quality: Column): DataFrame = {
    val comp = connectedComponents(pairs)
    val scored = df.select(col(id).as("_cid"), quality.as("_q"))
    val keepers = comp.join(scored, comp("id") === scored("_cid"))
      .groupBy("cluster")
      .agg(max_by(col("id"), struct(col("_q"), -col("id"))).as("keep_id"))
    val drops = comp.join(keepers, "cluster")
      .filter(col("id") =!= col("keep_id"))
      .select(col("id"))
    df.join(drops, df(id) === drops("id"), "left_anti")
  }

  /** Cross-document duplicated-span discovery (the CCNet/Dolma
    * "remove duplicated paragraphs" primitive, at fixed token-window
    * granularity since this corpus has no paragraph breaks): chunk
    * every document with [[TextAnalysis.chunkTokens]], digest each
    * chunk, and keep digests seen in ≥ `minDocs` distinct documents —
    * with occurrence counts and the lexicographically first
    * (doc, chunk_idx) occurrence as the representative.
    *
    * Scale shape: one in-row chunk explode + ONE map-side-combined
    * aggregation keyed on the 16-byte digest — the shuffle carries
    * (digest, partial counts), never chunk text. Boilerplate digests
    * are the classic skew key at corpus scale; the partial aggregation
    * absorbs them before the exchange. */
  def duplicatedChunks(df: DataFrame, id: String, text: String,
                       window: Int, stride: Int,
                       minDocs: Long = 2L): DataFrame = {
    val chunks = df.select(col(id).as("doc_id"),
        posexplode(TextAnalysis.chunkTokens(col(text), window, stride))
          .as(Seq("chunk_idx", "chunk")))
      .withColumn("digest", md5(col("chunk").cast("binary")))
    chunks.groupBy("digest")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("rep"))
      .filter(col("n_docs") >= minDocs)
      .select(col("digest"), col("n_docs"), col("n_occ"),
        col("rep.doc_id").as("rep_doc"), col("rep.chunk_idx").as("rep_idx"))
  }

  /** Boilerplate pruning (the CCNet/RefinedWeb rewrite shape): any
    * fixed `window`-token chunk whose corpus document-frequency
    * reaches `minDocs` is treated as boilerplate (headers, footers,
    * licence blocks, navigation) and removed from every document the
    * chunk appears in; surviving tokens re-join on single spaces.
    * Returns the corpus with `text_clean`, `n_removed` (tokens
    * dropped) and `n_chunks_removed` appended. The corpus itself
    * defines what is boilerplate — no external list, unlike
    * [[removeContaminatedSpans]] where the spans come from a
    * benchmark.
    *
    * Scale shape: the hot-digest set is the df ≥ minDocs tail of ONE
    * map-side-combined digest aggregation (the same scan shape as
    * [[duplicatedChunks]] — partial aggregation absorbs the classic
    * boilerplate skew key before the exchange); per-doc removal
    * indexes come from a digest equi-join carrying (doc, chunk_idx,
    * digest) only, never chunk text. The rewrite is in-row HOF
    * arithmetic over token indexes (no UDF); docs with no hot chunk
    * keep their text untouched through the left join's null path. */
  def pruneBoilerplate(df: DataFrame, id: String, text: String,
                       window: Int, minDocs: Long): DataFrame = {
    require(window > 0, "window must be positive")
    val chunks = df.select(col(id).as("_pid"),
        posexplode(TextAnalysis.chunkTokens(col(text), window, window))
          .as(Seq("_cidx", "_chunk")))
      .select(col("_pid"), col("_cidx"),
        md5(col("_chunk").cast("binary")).as("_digest"))
    val hot = chunks.groupBy("_digest")
      .agg(countDistinct(col("_pid")).as("_ndocs"))
      .filter(col("_ndocs") >= minDocs)
      .select("_digest")
    val removals = chunks.join(hot, "_digest")
      .groupBy("_pid").agg(collect_set(col("_cidx")).as("_ridx"))
    val joined = df
      .withColumn("_toks", filter(split(col(text), " "), t => t =!= ""))
      .join(removals, df(id) === removals("_pid"), "left")
      .withColumn("_ridx",
        coalesce(col("_ridx"), array().cast("array<int>")))
    val tokIdx = transform(col("_toks"), (t, i) => struct(t.as("t"), i.as("i")))
    // chunk c covers token positions [c·window, (c+1)·window) — the
    // stride==window tiling contract of TextAnalysis.chunkTokens
    val kept = filter(tokIdx, p =>
      !exists(col("_ridx"),
        c => c * window <= p("i") && p("i") < (c + 1) * window))
    joined
      .withColumn("text_clean", concat_ws(" ", transform(kept, p => p("t"))))
      .withColumn("n_removed", (size(col("_toks")) - size(kept)).cast("long"))
      .withColumn("n_chunks_removed", size(col("_ridx")).cast("long"))
      .drop("_toks", "_ridx", "_pid")
  }

  /** Marginal shingle novelty per source, in a declared acquisition
    * order — the data-valuation curve behind "is this new crawl worth
    * ingesting": source k's `n_novel` counts the distinct shingles NO
    * earlier source (ord < k) contributed, i.e. the greedy marginal
    * coverage gain of adding sources in `order`. Deduplication policy,
    * crawl prioritization and buy/skip decisions read directly off the
    * (n_novel / n_shingles) ratio's decay.
    *
    * Exact and order-deterministic: first-occurrence attribution is
    * min(ord) per shingle — no sampling, no sketch. Scale shape: one
    * explode + a map-combined distinct on (source, shingle), one
    * map-combined min per shingle (vocabulary space), one equi-join on
    * the shingle key, one final per-source count — every shuffle
    * carries (shingle, small-int) rows; nothing is corpus-sized on the
    * driver. Output: (source, ord, n_shingles, n_novel). */
  def shingleNovelty(df: DataFrame, source: String, order: String,
                     text: String, n: Int): DataFrame = {
    val sh = df.select(col(source).as("source"),
        col(order).cast("long").as("ord"),
        explode(shingles(col(text), n)).as("sh"))
      .groupBy("source", "ord", "sh").agg(count(lit(1)).as("_dup"))
      .drop("_dup")
    val first = sh.groupBy("sh").agg(min(col("ord")).as("first_ord"))
    sh.join(first, "sh")
      .groupBy("source", "ord")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ord") === col("first_ord"), lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
  }

  /** Incremental ingest dedup: split an incoming batch into rows whose
    * content digest already exists in the historical corpus (`dup` =
    * true) and genuinely new rows — the steady-state form of exact
    * dedup once a corpus is live (full re-dedup of 100 TB per ingest
    * is not an option; a digest semi-probe of the delta is).
    *
    * Plan shape: digests on both sides at scan speed, then ONE
    * left-semi-style shuffle keyed on digest — Spark's runtime bloom /
    * DPP machinery and AQE size the exchange; the history side carries
    * only its digest column (16 bytes/row) after pruning. */
  def incrementalDupes(batch: DataFrame, history: DataFrame,
                       id: String, text: String): DataFrame = {
    val b = batch.select(col(id).as("doc_id"),
      md5(col(text).cast("binary")).as("digest"))
    val h = history.select(md5(col(text).cast("binary")).as("digest")).distinct()
    b.join(h.withColumn("_seen", lit(true)), Seq("digest"), "left")
      .select(col("doc_id"), col("digest"),
        coalesce(col("_seen"), lit(false)).as("dup"))
  }

  /** Exact all-pairs embedding cosine near-dups: O(n²) with the right
    * side broadcast — the small-corpus correctness baseline ONLY (at
    * 100 TB the broadcast alone OOMs; use [[embeddingNearDups]]). */
  def embeddingNearDupsExact(df: DataFrame, id: String, vec: String,
                             threshold: Double): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // the O(n²) pair scoring parallelizes over the LEFT side's
    // partitions (the right side broadcasts) — spread it
    val v = df.select(col(id).as("_id"), col(vec).as("v"),
      Similarity.norm(col(vec)).as("_nv"))
    v.repartition(parts).as("a")
      .join(broadcast(v).as("b"), col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (col("a._nv") * col("b._nv"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
