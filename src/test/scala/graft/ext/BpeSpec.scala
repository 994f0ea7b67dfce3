package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mergeSegs merges left-to-right, non-overlapping") {
    assert(Bpe.mergeSegs(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(Bpe.mergeSegs(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.mergeSegs(Seq("x", "y"), "a", "b") == Seq("x", "y"))
  }

  // the classic BPE walkthrough corpus: low×5, lower×2, newest×6, widest×3
  private def corpus = Seq(
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
     Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
  ).toDF("text")

  test("train learns the textbook merge sequence") {
    val merges = Bpe.train(corpus, "text", merges = 4)
    // round 1: (e,s) freq 9 (newest 6 + widest 3); round 2: (es,t) 9;
    // round 3: (l,o) 7 (low 5 + lower 2); round 4: (lo,w) 7
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
  }

  test("encode applies learned merges to unseen text") {
    val merges = Bpe.train(corpus, "text", merges = 4)
    val toks = Bpe.encode(Seq(("lowest west")).toDF("text"), "text", merges)
      .select("tokens").head().getSeq[String](0)
    // lowest → low + es + t (merges chain); west → w + es + t
    assert(toks == Seq("low", "est", "w", "est") ||
           toks == Seq("low", "es", "t", "w", "es", "t"))
    // whichever of est/es+t: consistent with the learned rule ORDER
    val expected = {
      var segs: Seq[String] = "lowest".split("").toSeq
      merges.foreach { case (a, b) => segs = Bpe.mergeSegs(segs, a, b) }
      segs
    }
    assert(toks.take(expected.length) == expected)
  }

  test("pairStats weights pairs by corpus word count") {
    val stats = Bpe.pairStats(Bpe.initVocab(corpus, "text").toDF())
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(stats(("e", "s")) == 9)  // newest×6 + widest×3
    assert(stats(("l", "o")) == 7)  // low×5 + lower×2
    assert(stats(("w", "e")) == 8)  // lower×2 + newest×6 (not widest)
  }

  test("batched training == sequential training on the documents corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sequential = Bpe.train(docs, "text", merges = 40, batch = 1)
    val batched = Bpe.train(docs, "text", merges = 40, batch = 16)
    assert(batched == sequential)
    assert(sequential.length == 40)
  }

  test("batched training == sequential on the textbook corpus") {
    assert(Bpe.train(corpus, "text", merges = 4, batch = 8) ==
      Bpe.train(corpus, "text", merges = 4, batch = 1))
  }

  test("selectBatch truncates at the first conflict's frequency") {
    // the (e,w) trap: disjoint from {es,t,l,o} but NOT above the cut —
    // sequential would pick the product pair (lo,w)@7 created later,
    // so (e,w)@6 must not ride along with the safe prefix
    val top = IndexedSeq(("es", "t", 9L), ("l", "o", 7L),
      ("e", "w", 6L), ("n", "e", 6L))
    val sel = Bpe.selectBatch(top, want = 4, sawAll = true,
      priorProducts = Set("es"))
    assert(sel == Seq(("es", "t"), ("l", "o")))
  }

  test("selectBatch: product colliding with an existing symbol falls back to top-1") {
    // merging (l,o) when "lo" is already a vocab symbol inflates
    // (lo,·) pair counts — only the exact single merge is safe
    val top = IndexedSeq(("l", "o", 9L), ("x", "y", 5L))
    val sel = Bpe.selectBatch(top, want = 2, sawAll = true,
      priorProducts = Set("lo"))
    assert(sel == Seq(("l", "o")))
  }

  test("selectBatch guards the slice boundary when conflicts may hide below") {
    val top = IndexedSeq(("a", "b", 9L), ("c", "d", 5L))
    // sawAll=false: unseen pairs may conflict at freq 5 → (c,d) unsafe
    assert(Bpe.selectBatch(top, 2, sawAll = false, Set.empty) ==
      Seq(("a", "b")))
    // sawAll=true: nothing below, both are safe
    assert(Bpe.selectBatch(top, 2, sawAll = true, Set.empty) ==
      Seq(("a", "b"), ("c", "d")))
  }
}
