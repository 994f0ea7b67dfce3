package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.ExplainMode
import graft.TestSpark

/** Persistence parity for the three streaming reference indexes: a
  * LOADED index must answer every probe exactly like the in-session
  * index it was saved from (band rows, census, payload — and therefore
  * matches), the save must be an atomic overwrite, and the loaded
  * band-row table must carry its bucket layout so the probe join pays
  * no static-side Exchange. */
class RefIndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkVec(i: Long): Array[Double] =
    Array.tabulate(8)(j => math.cos((i % 5 + 1) * (j + 2) * 0.31))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  private def matchSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet

  test("semantic index: save/load round-trip == in-session, probe parity") {
    val ref = (100L until 140L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val idx = EmbedStream.semanticRefIndex(ref, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    val dir = tmp("refidx_sem")
    RefIndexStore.saveSemantic(idx, dir, buckets = 4)
    val loaded = RefIndexStore.loadSemantic(spark, dir)
    assert(loaded.bands == idx.bands && loaded.bitsPerBand == idx.bitsPerBand
      && loaded.dim == idx.dim && loaded.maxBucket == idx.maxBucket)
    // component-level parity: band rows, census, payload as sets
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"band", $"bucket", $"sub", $"id_b")
        .as[(Int, Long, Long, Long)].collect().toSet
    assert(rows(loaded.bandRows) == rows(idx.bandRows))
    assert(loaded.ns.as[(Int, Long, Long)].collect().toSet ==
      idx.ns.as[(Int, Long, Long)].collect().toSet)
    assert(loaded.payload.select($"id_b", $"_qb")
        .as[(Long, Seq[Long])].collect().toSet ==
      idx.payload.select($"id_b", $"_qb")
        .as[(Long, Seq[Long])].collect().toSet)
    // probe-level parity (batch frame through the same match path)
    val probe = (0L until 20L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val inSession = matchSet(EmbedStream.semanticDupMatches(
      probe, idx, "vec_id", "embedding", cos2Num = 4, cos2Den = 25))
    val fromDisk = matchSet(EmbedStream.semanticDupMatches(
      probe, loaded, "vec_id", "embedding", cos2Num = 4, cos2Den = 25))
    assert(inSession == fromDisk && fromDisk.nonEmpty)
  }

  test("loaded band rows are bucketed: probe join has no static-side Exchange") {
    val ref = (100L until 140L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val idx = EmbedStream.semanticRefIndex(ref, "vec_id", "embedding",
      bands = 4, bitsPerBand = 4, dim = 8)
    val dir = tmp("refidx_plan")
    RefIndexStore.saveSemantic(idx, dir, buckets = 4)
    val loaded = RefIndexStore.loadSemantic(spark, dir)
    val probes = (0L until 10L).map(i => (0, i % 4, 0L, i)).toDF(
      "band", "bucket", "sub", "id_a")
    // force the shuffle-join planner path (a tiny probe side would
    // otherwise broadcast, which needs no distribution and so proves
    // nothing about the bucketed layout the micro-batch joins rely on)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = probes.join(loaded.bandRows, Seq("band", "bucket", "sub"))
      val plan = joined.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      assert(plan.contains("Bucketed: true"),
        s"band_rows scan must use its bucket layout:\n$plan")
      // exactly ONE hash exchange — the probe side; the bucketed
      // static side joins shuffle-free (save-time shuffle amortized)
      val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the probe-side exchange:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("merge-then-save is the compaction: loaded == full rebuild, flat lineage") {
    val a = (100L until 120L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val b = (120L until 140L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val merged = EmbedStream.mergeRefIndex(
      EmbedStream.semanticRefIndex(a, "vec_id", "embedding",
        bands = 4, bitsPerBand = 4, dim = 8),
      b, "vec_id", "embedding")
    val dir = tmp("refidx_compact")
    RefIndexStore.saveSemantic(merged, dir, buckets = 4)
    val loaded = RefIndexStore.loadSemantic(spark, dir)
    val full = EmbedStream.semanticRefIndex(a.unionByName(b), "vec_id",
      "embedding", bands = 4, bitsPerBand = 4, dim = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"band", $"bucket", $"sub", $"id_b")
        .as[(Int, Long, Long, Long)].collect().toSet
    assert(rows(loaded.bandRows) == rows(full.bandRows))
    // the merge's lazy union lineage (one slice per merge) is gone:
    // the loaded payload is a single table scan, not a Union
    assert(!loaded.payload.queryExecution.optimizedPlan.toString
      .contains("Union"))
    val probe = (0L until 20L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    assert(matchSet(EmbedStream.semanticDupMatches(probe, loaded,
        "vec_id", "embedding", cos2Num = 4, cos2Den = 25)) ==
      matchSet(EmbedStream.semanticDupMatches(probe, full,
        "vec_id", "embedding", cos2Num = 4, cos2Den = 25)))
  }

  test("simhash index: save/load probe parity (signature machinery)") {
    def doc(i: Long) = (0 until 24)
      .map(j => s"w${(i % 3) * 7 + j}").mkString(" ")
    val ref = (100L until 130L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val idx = SimHashStream.simhashRefIndex(ref, "doc_id", "text",
      maxHamming = 3)
    val dir = tmp("refidx_sim")
    RefIndexStore.saveSimHash(idx, dir, buckets = 4)
    val loaded = RefIndexStore.loadSimHash(spark, dir)
    assert(loaded.maxHamming == idx.maxHamming
      && loaded.maxBucket == idx.maxBucket)
    val probe = (0L until 12L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val inSession = matchSet(SimHashStream.simhashDupMatches(
      probe, idx, "doc_id", "text"))
    val fromDisk = matchSet(SimHashStream.simhashDupMatches(
      probe, loaded, "doc_id", "text"))
    assert(inSession == fromDisk && fromDisk.nonEmpty)
  }

  test("minhash index: save/load probe parity (shingle payload survives)") {
    def doc(i: Long) = (0 until 30)
      .map(j => s"tok${(i % 4) * 11 + j}").mkString(" ")
    val ref = (100L until 130L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val idx = MinHashStream.minhashRefIndex(ref, "doc_id", "text",
      n = 3, threshold = 0.7)
    val dir = tmp("refidx_min")
    RefIndexStore.saveMinHash(idx, dir, buckets = 4)
    val loaded = RefIndexStore.loadMinHash(spark, dir)
    assert(loaded.n == idx.n && loaded.threshold == idx.threshold
      && loaded.bands == idx.bands && loaded.rowsPerBand == idx.rowsPerBand)
    val probe = (0L until 12L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val inSession = matchSet(MinHashStream.minhashDupMatches(
      probe, idx, "doc_id", "text"))
    val fromDisk = matchSet(MinHashStream.minhashDupMatches(
      probe, loaded, "doc_id", "text"))
    assert(inSession == fromDisk && fromDisk.nonEmpty)
  }

  test("save over an existing index swaps atomically; recover heals the aside window") {
    val mk = (ids: Seq[Long]) => EmbedStream.semanticRefIndex(
      ids.map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", bands = 4, bitsPerBand = 4, dim = 8)
    val dir = tmp("refidx_swap")
    RefIndexStore.saveSemantic(mk(100L until 110L), dir, buckets = 4)
    RefIndexStore.saveSemantic(mk(100L until 140L), dir, buckets = 4)
    val loaded = RefIndexStore.loadSemantic(spark, dir)
    assert(loaded.payload.count() == 40) // v2 fully replaced v1
    // crash window: old index renamed aside, new never swapped in —
    // recover must restore the aside copy (meta present == complete)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = new org.apache.hadoop.fs.Path(p.getParent,
      s".${p.getName}.refidx_trash-dead")
    assert(fs.rename(p, trash))
    assert(RefIndexStore.recover(spark, dir))
    assert(RefIndexStore.loadSemantic(spark, dir).payload.count() == 40)
    assert(!RefIndexStore.recover(spark, dir)) // idempotent: nothing left
  }

  test("recover restores the NEWEST complete trash; refuses an in-flight save") {
    val mk = (ids: Seq[Long]) => EmbedStream.semanticRefIndex(
      ids.map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", bands = 4, bitsPerBand = 4, dim = 8)
    val dir = tmp("refidx_recover2")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two crashed-save trash siblings, both complete, publish millis
    // embedded in the name (13-digit epoch tokens — the width the
    // parser trusts): the OLDER one holds 10 rows, the NEWER 20
    RefIndexStore.saveSemantic(mk(100L until 110L), dir, buckets = 4)
    assert(fs.rename(p,
      new org.apache.hadoop.fs.Path(p.getParent,
        f".${p.getName}.refidx_trash-${1000L}%013d-old")))
    RefIndexStore.saveSemantic(mk(100L until 120L), dir, buckets = 4)
    assert(fs.rename(p,
      new org.apache.hadoop.fs.Path(p.getParent,
        f".${p.getName}.refidx_trash-${2000L}%013d-new")))
    assert(RefIndexStore.recover(spark, dir))
    // a stale snapshot must never shadow the most recent complete one
    assert(RefIndexStore.loadSemantic(spark, dir).payload.count() == 20)
    // a FRESH staging sibling means a writer may be mid-save: recover
    // must refuse rather than destroy its in-flight work
    val live = new org.apache.hadoop.fs.Path(p.getParent,
      s".${p.getName}.refidx_tmp-${System.currentTimeMillis()}-live")
    fs.mkdirs(live)
    val e = intercept[IllegalStateException](RefIndexStore.recover(spark, dir))
    assert(e.getMessage.contains("IN FLIGHT"))
    assert(fs.exists(live), "refusal must leave the staging dir intact")
    // with the grace overridden (writer known dead) the sweep proceeds
    assert(!RefIndexStore.recover(spark, dir, inFlightGraceMs = 0))
    assert(!fs.exists(live))
  }

  test("recover liveness keys on staging CONTENT mtime, not the name stamp") {
    // a healthy save that has been running longer than the grace:
    // its staging NAME timestamp is ancient, but it is still closing
    // files — recover must key liveness on the newest content mtime
    // and refuse, not treat the old name stamp as a death certificate
    val dir = tmp("refidx_slowsave")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val slow = new org.apache.hadoop.fs.Path(p.getParent,
      f".${p.getName}.refidx_tmp-${1000L}%013d-slowwriter")
    fs.mkdirs(new org.apache.hadoop.fs.Path(slow, "band_rows"))
    val out = fs.create(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(slow, "band_rows"), "part-0.parquet"))
    out.writeBytes("fresh"); out.close() // freshly-written content
    val e = intercept[IllegalStateException](RefIndexStore.recover(spark, dir))
    assert(e.getMessage.contains("IN FLIGHT"))
    assert(fs.exists(slow), "refusal must leave the slow save intact")
    // once the content itself ages past the grace it is a dead save
    assert(!RefIndexStore.recover(spark, dir, inFlightGraceMs = 0))
    assert(!fs.exists(slow))
  }
}
