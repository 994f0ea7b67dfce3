package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy matching (entity resolution) over string keys.
  *
  * Scale shape, in order of importance at 100 TB:
  *   1. DISTINCT the key first — fuzzy matching runs in vocabulary
  *      space, not row space (a billion rows with a million distinct
  *      names is a million-row problem);
  *   2. candidates come only from an equality join on an explicit
  *      blocking key — never a cross join, so the plan is a plain
  *      shuffle-hash/sort-merge join on `bk`;
  *   3. a cheap length-difference prune runs before the exact
  *      Levenshtein verify, which touches candidates only.
  *
  * Blocking recall is a declared contract (pairs in different blocks
  * are never compared) — the standard ER trade; pick the block key to
  * fit the domain. The default blocks on the first whitespace token.
  */
object Fuzzy {

  /** First whitespace token — default blocking key. */
  def firstToken(c: Column): Column = element_at(split(c, " "), 1)

  /** Distinct near-identical value pairs of `keyCol` within blocks:
    * (k_a, k_b, dist) with k_a < k_b and dist = levenshtein ≤ maxDist. */
  def fuzzyPairs(df: DataFrame, keyCol: String, maxDist: Int,
                 blockKey: Column => Column = firstToken): DataFrame = {
    val vals = df.select(col(keyCol).as("k")).distinct()
      .withColumn("bk", blockKey(col("k")))
    val a = vals.select(col("bk"), col("k").as("k_a"))
    val b = vals.select(col("bk"), col("k").as("k_b"))
    a.join(b, Seq("bk"))
      .filter(col("k_a") < col("k_b"))
      // |len(a)-len(b)| > d ⇒ levenshtein > d: prune before the
      // quadratic distance computation
      .filter(abs(length(col("k_a")) - length(col("k_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("k_a"), col("k_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("k_a", "k_b", "dist")
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995) —
    * the OTHER classic ER blocking: sort records by a key, compare
    * each record only to its `window` successors in sort order. Where
    * [[fuzzyPairs]]' equality blocking misses pairs whose block key
    * itself is dirty (typo in the first token ⇒ different block),
    * sort order keeps near-spellings adjacent, so those pairs still
    * meet. Returns (k_a, k_b, dist) with dist = levenshtein ≤
    * maxDist, k_a < k_b.
    *
    * Scale shape: the global sort rank is DISTRIBUTED — a
    * range-partitioned running count via [[Prefix.globalRunningSum]]
    * (range exchange + per-partition offsets; the window inside runs
    * per partition, never on one reducer), the exact pattern the
    * global-cumsum operators share. The neighborhood join is an
    * equi-join on rank blocks of width `window` (each rank joins its
    * own and the next block — every candidate (r, r+i), i ≤ window,
    * falls in one of the two), so candidate volume is n·window,
    * never n². */
  def sortedNeighborPairs(df: DataFrame, keyCol: String, window: Int,
                          maxDist: Int): DataFrame = {
    require(window >= 1 && maxDist >= 0, "window >= 1, maxDist >= 0")
    // distinct keys make (_k) a total order, so the running count of
    // ones over it IS row_number — computed distributed
    val ranked = Prefix.globalRunningSum(
        df.select(col(keyCol).as("_k")).distinct(),
        order = Seq(col("_k")), value = lit(1L), cumName = "_r")
      .withColumn("_blk", expr(s"_r div ${window}L"))
      .localCheckpoint()
    val probe = ranked.select(col("_k").as("k_b"), col("_r").as("_rb"),
      col("_blk").as("_b2"))
    val pairs = ranked
      .select(col("_k").as("k_a"), col("_r").as("_ra"),
        explode(array(col("_blk"), col("_blk") + 1)).as("_b2"))
      .join(probe, "_b2")
      .filter(col("_rb") > col("_ra") &&
        col("_rb") <= col("_ra") + window)
    pairs
      .withColumn("dist", levenshtein(
        least(col("k_a"), col("k_b")),
        greatest(col("k_a"), col("k_b"))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(least(col("k_a"), col("k_b")).as("k_a"),
        greatest(col("k_a"), col("k_b")).as("k_b"), col("dist"))
  }

  /** Fellegi–Sunter probabilistic record linkage (JASA 1969) — the
    * decision-theoretic layer above the engine's candidate generators:
    * given blocked candidate pairs, score each by the sum of per-field
    * agreement/disagreement log-likelihood weights and threshold into
    * link / non-link. Weights are INTEGER decibans supplied by the
    * caller (wAgree ≈ 10·log10(m/u), wDisagree ≈ 10·log10((1−m)/(1−u)),
    * both pre-rounded) so the score is exact integer arithmetic —
    * engine-portable like every other gate-bearing scorer here; the
    * m/u estimation step (EM over agreement patterns) stays outside
    * the operator, as in production linkers where weights are fitted
    * offline and applied at scale.
    *
    * Agreement per field is null-strict: a NULL never agrees (missing
    * data earns the disagreement weight, the conservative Fellegi–
    * Sunter convention for unvalued comparisons).
    *
    * Scale shape: candidates come from ONE equality join on the
    * blocking key in id space (ids + block key + compared fields only);
    * scoring is a codegen'd in-row CASE sum over the joined row — no
    * extra shuffle beyond the blocking join itself.
    *
    * `fields` = (column, wAgree, wDisagree); returns
    * (id_a, id_b, score_db, is_link). */
  def fellegiSunter(df: DataFrame, idCol: String, blockCol: String,
                    fields: Seq[(String, Long, Long)],
                    threshold: Long): DataFrame = {
    require(fields.nonEmpty, "at least one comparison field")
    val cols = Seq(col(idCol).as("_id"), col(blockCol).as("_bk")) ++
      fields.map { case (f, _, _) => col(f) }
    val side = df.select(cols: _*)
    val a = side.select(Seq(col("_id").as("id_a"), col("_bk")) ++
      fields.map { case (f, _, _) => col(f).as(s"a_$f") }: _*)
    val b = side.select(Seq(col("_id").as("id_b"), col("_bk")) ++
      fields.map { case (f, _, _) => col(f).as(s"b_$f") }: _*)
    val score = fields.map { case (f, wa, wd) =>
      when(col(s"a_$f").isNotNull && (col(s"a_$f") <=> col(s"b_$f")),
        lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    a.join(b, Seq("_bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score_db", score.cast("long"))
      .withColumn("is_link", col("score_db") >= threshold)
      .select("id_a", "id_b", "score_db", "is_link")
  }

  /** Golden-record survivorship — the step AFTER linkage
    * ([[fellegiSunter]]) turns pairs into clusters: per
    * (cluster, field), elect the surviving value by majority vote
    * over non-null occurrences, ties to the lexicographically
    * smallest value (total, engine-portable order). Output is long
    * form — (cluster, field, golden_value, votes, n_variants,
    * n_nonnull) — so one frame carries every field's election plus
    * the conflict evidence (n_variants > 1 marks fields the merge
    * actually had to decide).
    *
    * Scale shape: one in-row `stack` melt (no shuffle), one
    * map-combined (cluster, field, value) count, one min(struct)
    * argmax aggregation — no windows, no joins. */
  def goldenRecord(df: DataFrame, cluster: String, fields: Seq[String])
      : DataFrame = {
    require(fields.nonEmpty, "at least one field to elect")
    // typed Column construction, not SQL-string splicing — a field
    // name containing quotes/backticks must not change the plan
    val melted = df
      .select(col(cluster).as("cluster"),
        explode(array(fields.map(f => struct(lit(f).as("field"),
          df(f).cast("string").as("value"))): _*)).as("_fv"))
      .select(col("cluster"), col("_fv.field").as("field"),
        col("_fv.value").as("value"))
      .filter(col("value").isNotNull)
    melted.groupBy("cluster", "field", "value")
      .agg(count(lit(1)).as("_cnt"))
      .groupBy("cluster", "field")
      .agg(min(struct((-col("_cnt")).as("_nc"), col("value").as("_v")))
          .as("_win"),
        count(lit(1)).as("n_variants"), sum(col("_cnt")).as("n_nonnull"))
      .select(col("cluster"), col("field"),
        col("_win._v").as("golden_value"),
        (-col("_win._nc")).as("votes"),
        col("n_variants"), col("n_nonnull"))
  }
}
