package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair encoding) tokenizer training.
  *
  * Scale decomposition: the only corpus-scale pass is word counting —
  * one map-combined groupBy over the exploded token stream. Everything
  * after runs in VOCABULARY space (distinct words × their current
  * segmentations), which is millions of rows when the corpus is
  * billions of documents. Each merge round is: adjacent-pair
  * frequencies (map-combined agg), argmax (a 1-row collect), and a
  * typed map applying the merge — with `localCheckpoint` truncating
  * the per-round lineage, the same discipline as
  * [[Dedup.connectedComponents]].
  */
object Bpe {

  /** One vocabulary entry: a distinct word, its corpus count, and its
    * current symbol segmentation. */
  final case class VocabWord(word: String, wcount: Long, segs: Seq[String])

  /** Corpus-scale word counts — the single corpus-wide shuffle. */
  def wordCounts(df: DataFrame, text: String): DataFrame =
    df.select(explode(split(col(text), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wcount"))

  /** Initial vocabulary: every word split into single characters. */
  def initVocab(df: DataFrame, text: String): Dataset[VocabWord] = {
    val spark = df.sparkSession
    import spark.implicits._
    wordCounts(df, text)
      // split(_, "") keeps a trailing "" (limit -1 semantics) — drop it
      .select(col("word"), col("wcount"),
        filter(split(col("word"), ""), s => s =!= "").as("segs"))
      .as[VocabWord]
  }

  /** Adjacent-symbol pair frequencies weighted by word count.
    * Named-struct transform over the index range — no UDF, no join. */
  def pairStats(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("segs")) >= 2)
      .select(col("wcount"), explode(expr(
        "transform(sequence(1, size(segs) - 1)," +
          " i -> struct(segs[i-1] AS a, segs[i] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wcount")).as("freq"))

  /** Merge every non-overlapping left-to-right occurrence of (a, b). */
  private[graft] def mergeSegs(segs: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < segs.length) {
      if (i + 1 < segs.length && segs(i) == a && segs(i + 1) == b) {
        out += a + b; i += 2
      } else { out += segs(i); i += 1 }
    }
    out.result()
  }

  /** Learn `merges` BPE merge rules from the corpus. Deterministic:
    * ties on frequency break lexicographically on (a, b).
    *
    * `batch` > 1 merges several rules per Spark round (one pair-stats
    * job + one 1-slice collect instead of one job per rule — a 32k
    * vocabulary stops costing 32k sequential jobs) while staying
    * EXACTLY equal to the sequential algorithm: per round we take the
    * longest prefix of the frequency-sorted pair list whose pairs are
    * symbol-disjoint, then keep only pairs strictly more frequent than
    * the first conflict ([[selectBatch]] proves why that equals
    * recomputing stats between merges). A round that can't batch
    * safely degrades to the single textbook merge, which is exact by
    * construction. */
  def train(df: DataFrame, text: String, merges: Int,
            batch: Int = 16): Seq[(String, String)] = {
    require(batch >= 1, "batch >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = initVocab(df, text).localCheckpoint()
    val learned = Seq.newBuilder[(String, String)]
    // all multi-char symbols in the vocab are products of prior merges
    // (the initial alphabet is single code units) — tracked driver-side
    // for the product-collision guard, no extra distributed pass
    var products = Set.empty[String]
    var count = 0
    var exhausted = false
    while (count < merges && !exhausted) {
      val want = math.min(batch, merges - count)
      val slice = math.max(3 * want, 16)
      val top = pairStats(vocab.toDF())
        .orderBy(col("freq").desc, col("a"), col("b")).limit(slice + 1)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toIndexedSeq
      if (top.isEmpty) exhausted = true
      else {
        val selected = selectBatch(top, want, sawAll = top.length <= slice,
          priorProducts = products)
        learned ++= selected
        products ++= selected.map { case (a, b) => a + b }
        val prev = vocab
        vocab = vocab.map(w => w.copy(segs =
          selected.foldLeft(w.segs) { case (s, (a, b)) => mergeSegs(s, a, b) }))
          .localCheckpoint()
        prev.unpersist()
        count += selected.length
      }
    }
    learned.result()
  }

  /** Pick the merge batch for one round of [[train]] from the
    * `(a, b, freq)` slice sorted by (freq desc, a, b).
    *
    * Selection: the longest CONTIGUOUS prefix of pairwise
    * symbol-disjoint pairs (a pair conflicts when it shares a symbol
    * with an already-selected pair, when its concatenated product
    * collides with a selected product, or when the product equals an
    * existing vocab symbol — a prior round's product), truncated to
    * pairs strictly more frequent than the first conflict (or the
    * slice boundary when the slice may hide conflicts below).
    *
    * Why this equals sequential BPE: merging (a, b) only changes the
    * frequency of pairs that share a or b (they can only lose
    * occurrences), creates pairs involving the product ab whose
    * frequency is bounded by an old overlapping pair's, and — only if
    * ab already existed as a symbol — inflates pairs touching that
    * symbol. With a ≠ b, every created pair contains an OLD adjacency
    * sharing a symbol with the selection ((x,ab) ⊃ (x,a),
    * (ab,ab) ⊃ (b,a)), so the conflict scan prices it into the cut.
    * The one escape is a SELF-merge (a,a): its creations' bounding
    * old pair is (a,a) itself — never a conflict — so selecting a
    * self-pair additionally floors the cut at ⌊f/2⌋ (the creation
    * bound; see the in-loop comment). Every kept pair is strictly
    * above the cut and mutually invariant, so recomputing stats
    * between merges would return the kept pairs in exactly this order
    * (ties included: the scan follows the same total order sequential
    * argmax uses). When truncation empties the batch, the single top
    * pair is exact because stats are recomputed next round anyway. */
  private[graft] def selectBatch(top: IndexedSeq[(String, String, Long)],
                                 want: Int, sawAll: Boolean,
                                 priorProducts: Set[String])
      : Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    var sel = Vector.empty[(String, String, Long)]
    var cut = if (sawAll) Long.MinValue else top.last._3
    var i = 0
    var stopped = false
    while (i < top.length && !stopped && sel.length < want) {
      val (a, b, f) = top(i)
      val prod = a + b
      if (used(a) || used(b) || used(prod) || priorProducts(prod)) {
        cut = math.max(cut, f); stopped = true
      } else {
        sel :+= ((a, b, f)); used ++= Seq(a, b, prod)
        // SELF-merge creation floor: merging (a, a) creates pairs the
        // conflict scan cannot see coming — (aa, aa), (aa, a) — whose
        // bounding old pair is (a, a) ITSELF, so the ordinary
        // conflict cut never covers them. Per run of length L the
        // creations number ≤ ⌊(L−1)/2⌋ against L−1 old adjacencies,
        // so every created pair's frequency is ≤ ⌊f/2⌋; anything at
        // or below that could be outranked by a creation in the
        // sequential order and must wait for recomputed stats.
        if (a == b) cut = math.max(cut, f / 2)
      }
      i += 1
    }
    // voluntary stop at `want`: the first unexamined pair may conflict
    // at its own frequency — treat its freq as the cut
    if (!stopped && i < top.length) cut = math.max(cut, top(i)._3)
    val kept = sel.filter(_._3 > cut).map(t => (t._1, t._2))
    if (kept.nonEmpty) kept
    else Seq((top.head._1, top.head._2)) // exact single textbook merge
  }

  /** Segment `text` with learned merge rules: tokens column appended.
    *
    * Pure Catalyst expression — the rule list becomes a literal
    * array<struct<a,b>> and the whole segmentation is two nested
    * `aggregate` higher-order functions (fold rules over each word's
    * fold-merged segments), so the column stays visible to the
    * optimizer and serializes no closure. The inner fold reproduces
    * [[mergeSegs]]' left-to-right scan exactly: a merge depends only
    * on (previous segment == a, current == b), and a merged product
    * `a+b` is strictly longer than `a` so it can never re-match as
    * the left element against the next original segment — fold and
    * scan agree on every input (GraftProperties pins this against
    * the Scala reference). */
  def encode(df: DataFrame, text: String, merges: Seq[(String, String)],
             out: String = "tokens"): DataFrame = {
    val rules = array(merges.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    val emptySegs = array().cast("array<string>")
    val words = filter(split(col(text), " "), w => w =!= "")
    val segment = (w: Column) => aggregate(
      rules,
      filter(split(w, ""), c => c =!= ""), // drop split's trailing ""
      (segs, r) => aggregate(
        segs, emptySegs,
        (acc, s) => when(
          size(acc) > 0 && element_at(acc, -1) === r("a") && s === r("b"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(r("a"), r("b")))))
          .otherwise(concat(acc, array(s)))))
    df.withColumn(out, flatten(transform(words, segment)))
  }
}
