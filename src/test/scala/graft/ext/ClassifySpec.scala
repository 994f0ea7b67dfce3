package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ClassifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Local replay of the portable feature hash:
    * md5(token) first 6 hex digits % buckets — [[Planes.subHash]]. */
  private def bucket(tok: String, buckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes("UTF-8"))
      .take(3).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % buckets).toInt
  }

  /** Local brute-force Rocchio: weights + scores in BigInt. */
  private def brute(seed: Seq[(String, Boolean)], eval: Seq[(Long, String)],
                    buckets: Int): Map[Long, (Long, BigInt)] = {
    val toks = seed.flatMap { case (t, y) =>
      t.split(" ").filter(_.nonEmpty).map(w => (bucket(w, buckets), y))
    }
    val np = BigInt(toks.count(_._2))
    val nn = BigInt(toks.count(!_._2))
    val w = toks.groupBy(_._1).map { case (b, ts) =>
      b -> (BigInt(ts.count(_._2)) * nn - BigInt(ts.count(!_._2)) * np)
    }
    eval.map { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty).map(x =>
        w.getOrElse(bucket(x, buckets), BigInt(0)))
      id -> (ws.length.toLong, ws.sum)
    }.toMap
  }

  private val seed = Seq(
    ("the curated encyclopedia article covers the topic well", true),
    ("another curated article with careful editing and sources", true),
    ("click here buy now cheap deals click click", false),
    ("spam spam cheap pills buy now limited offer", false))
  private val eval = Seq(
    (1L, "a curated article about sources and the topic"),
    (2L, "cheap spam deals click now"),
    (3L, "topic article cheap"))

  test("weights and scores match a local BigInt replay exactly") {
    val sdf = seed.toDF("text", "y")
    val edf = eval.toDF("doc_id", "text")
    val w = Classify.rocchioWeights(sdf, "text", col("y"), buckets = 64)
    val got = Classify.rocchioScore(edf, "doc_id", "text", w, buckets = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), BigInt(r.getDecimal(2).toBigInteger)))).toMap
    assert(got == brute(seed, eval, buckets = 64))
  }

  test("held-out predictions separate the planted vocabularies") {
    val sdf = seed.toDF("text", "y")
    val edf = eval.toDF("doc_id", "text")
    val w = Classify.rocchioWeights(sdf, "text", col("y"), buckets = 4096)
    val preds = Classify.rocchioScore(edf, "doc_id", "text", w, buckets = 4096)
      .select($"doc_id", $"pred").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(preds(1L) == 1L) // curated vocabulary
    assert(preds(2L) == 0L) // spam vocabulary
  }

  test("single-class seed degenerates to all-zero scores, nothing positive") {
    val sdf = seed.filter(_._2).toDF("text", "y")
    val edf = eval.toDF("doc_id", "text")
    val w = Classify.rocchioWeights(sdf, "text", col("y"), buckets = 64)
    val rows = Classify.rocchioScore(edf, "doc_id", "text", w, buckets = 64)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(BigInt(r.getDecimal(2).toBigInteger) == 0 && r.getLong(3) == 0L)
    }
  }

  test("null labels are ignored; tokenless docs produce no score row") {
    val sdf = (seed.map { case (t, y) => (t, Some(y)) } :+
      (("poison tokens that must not count", None: Option[Boolean])))
      .toDF("text", "y")
    val w = Classify.rocchioWeights(sdf, "text", col("y"), buckets = 64)
    val wClean = Classify.rocchioWeights(seed.toDF("text", "y"), "text",
      col("y"), buckets = 64)
    assert(w.orderBy("_b").collect().toSeq ==
      wClean.orderBy("_b").collect().toSeq)
    val edf = Seq((1L, "topic"), (2L, ""), (3L, "  ")).toDF("doc_id", "text")
    val ids = Classify.rocchioScore(edf, "doc_id", "text", w, buckets = 64)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
  }

  test("xxhash64 feature space also classifies (within-Spark path)") {
    val sdf = seed.toDF("text", "y")
    val edf = eval.toDF("doc_id", "text")
    val w = Classify.rocchioWeights(sdf, "text", col("y"), buckets = 4096,
      portableHash = false)
    val preds = Classify.rocchioScore(edf, "doc_id", "text", w,
        buckets = 4096, portableHash = false)
      .select($"doc_id", $"pred").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(preds(1L) == 1L && preds(2L) == 0L)
  }
}
