package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("championIndex: df/cf exact, champions capped and (tf desc, doc asc)") {
    val docs = Seq(
      (1L, "a a a b"),
      (2L, "a a b b"),
      (3L, "a c"),
      (4L, "c c c c")).toDF("doc_id", "text")
    val got = Index.championIndex(docs, "doc_id", "text", k = 2)
      .orderBy("term")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(got.toSeq == Seq(
      // a: df 3, cf 6; top-2 by tf: doc1 tf3, doc2 tf2
      ("a", 3L, 6L, "1:3;2:2"),
      // b: df 2, cf 3; tf tie (doc1 1 vs doc2 2): doc2 first
      ("b", 2L, 3L, "2:2;1:1"),
      // c: df 2, cf 5; doc4 tf4 then doc3 tf1
      ("c", 2L, 5L, "4:4;3:1")))
  }

  test("championIndex: k larger than df keeps every posting") {
    val docs = Seq((7L, "x y"), (8L, "y")).toDF("doc_id", "text")
    val got = Index.championIndex(docs, "doc_id", "text", k = 10)
      .orderBy("term").collect()
    assert(got.map(_.getString(3)).toSeq == Seq("7:1", "7:1;8:1"))
  }

  test("groupOverlap: exact jaccard on known shingle sets, disjoint pair absent") {
    val docs = Seq(
      ("s1", "a b c d"),     // shingles: {a b c, b c d}
      ("s2", "a b c e"),     // shingles: {a b c, b c e}
      ("s3", "x y z w")      // disjoint
    ).toDF("source", "text")
    val got = Drift.groupOverlap(docs, "source", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // only (s1, s2) share: inter 1, sizes 2/2 -> jaccard 1/3
    assert(got.toSeq == Seq(("s1", "s2", 1L, 2L, 2L, 0.333333)))
  }

  test("groupOverlap: duplicate shingles within a group count once") {
    val docs = Seq(
      ("g1", "a b c"), ("g1", "a b c"), // same shingle twice in g1
      ("g2", "a b c")).toDF("source", "text")
    val got = Drift.groupOverlap(docs, "source", "text", n = 3).collect()
    assert(got.length == 1)
    assert((got(0).getLong(2), got(0).getLong(3), got(0).getLong(4),
      got(0).getDouble(5)) == ((1L, 1L, 1L, 1.0)))
  }
}
