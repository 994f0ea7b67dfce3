package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ext.AnnStore

/** The hooks a source frame's UDF calls from inside a write task. They
  * live in an object so that a task running in the local-mode executor
  * reaches the same latches as the test thread. */
object IndexCrashSpec {
  val HookId = 50L
  private[streaming] val gate =
    new AtomicReference[(CountDownLatch, CountDownLatch)]()

  /** Throws on `HookId`: a task that fails partway through a write. */
  def boom(id: Long): Long =
    if (id == HookId) throw new IllegalStateException(s"injected failure on $id")
    else id

  /** The first call on `HookId` after a gate is set waits until the
    * test releases it: a write held open while another commit lands. */
  def hold(id: Long): Long = {
    if (id == HookId) Option(gate.getAndSet(null)).foreach {
      case (entered, release) =>
        entered.countDown()
        release.await(120, TimeUnit.SECONDS)
    }
    id
  }
}

/** Every index write leaves the index loadable whatever step it dies
  * at, for a streaming kind (semantic), pq, and ivfpq with its payload.
  * A crash leaves one of four states: (a) a write task threw, (b) a
  * slice or frozen dir was written but never committed, (c) a `.tmp-`
  * manifest is left in `_slog`, (d) a commit landed but its sweep never
  * ran. After (a)–(c) the index probes as its last committed version,
  * after (d) as the new one, and the next save — or a compaction with
  * no grace — leaves only the dirs the newest version names. */
class IndexCrashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val boom = udf((id: Long) => IndexCrashSpec.boom(id))
  private val hold = udf((id: Long) => IndexCrashSpec.hold(id))

  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Array.tabulate(16)(j =>
      math.cos((i % 7 + 1) * (j + 2) * 0.23)))).toDF("vec_id", "embedding")

  private val (a, b, c) = (0L until 30L, 30L until 45L, 45L until 60L)
  private lazy val queries = vecs(Seq(3L, 5L, 8L))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  /** One kind's writes: `save(ids, dir, fail)` (with `fail`, a task of
    * the save's own write throws), `append`, `compact(dir, graceMs)`
    * and a probe answer. */
  private case class Kind(name: String,
                          save: (Seq[Long], String, Boolean) => Unit,
                          append: (DataFrame, String) => Unit,
                          compact: (String, Long) => Unit,
                          probe: String => Set[Row])

  private lazy val semantic = Kind("semantic",
    (ids, dir, fail) => {
      val idx = EmbedStream.semanticRefIndex(vecs(ids), "vec_id", "embedding",
        bands = 4, bitsPerBand = 4, dim = 16)
      RefIndexSlices.saveSemantic(if (!fail) idx
        else idx.copy(payload = idx.payload.withColumn("id_b", boom($"id_b"))),
        dir, buckets = 4)
    },
    (src, dir) => RefIndexSlices.appendSemantic(src, dir, "vec_id", "embedding"),
    (dir, grace) => RefIndexSlices.compact(spark, dir, grace),
    dir => EmbedStream.semanticDupMatches(queries,
        RefIndexSlices.loadSemantic(spark, dir), "vec_id", "embedding",
        cos2Num = 4, cos2Den = 25)
      .select("id_a", "id_b").distinct().collect().toSet)

  private lazy val pq = Kind("pq",
    (ids, dir, fail) => {
      val idx = AnnStore.buildPq(vecs(ids), "vec_id", "embedding",
        subspaces = 4, ksub = 8, dim = 16)
      AnnStore.savePq(if (!fail) idx
        else idx.copy(codes = idx.codes.withColumn("corpus_id",
          boom($"corpus_id"))), dir)
    },
    (src, dir) => AnnStore.appendPq(src, dir, "vec_id", "embedding"),
    (dir, grace) => AnnStore.compactPq(spark, dir, grace),
    dir => AnnStore.pqServe(queries, "vec_id", "embedding",
        AnnStore.loadPq(spark, dir), k = 3, refine = 2)
      .select("query_id", "rank", "corpus_id").collect().toSet)

  private lazy val ivfpq = Kind("ivfpq",
    (ids, dir, fail) => {
      val idx = AnnStore.buildIvfPq(vecs(ids), "vec_id", "embedding",
        subspaces = 4, ksub = 8, dim = 16, nCentroids = 4, rounds = 2)
      AnnStore.saveIvfPq(if (!fail) idx
        else idx.copy(codes = idx.codes.withColumn("_cid", boom($"_cid"))),
        dir, withPayload = true)
    },
    (src, dir) => AnnStore.appendIvfPq(src, dir, "vec_id", "embedding"),
    (dir, grace) => AnnStore.compactIvfPq(spark, dir, grace),
    dir => AnnStore.ivfPqServeRefined(queries, "vec_id", "embedding",
        AnnStore.loadIvfPq(spark, dir), k = 3, nProbe = 2, refine = 2)
      .select("query_id", "rank", "corpus_id").collect().toSet)

  private def fsOf(dir: String) = RefIndexSlices.fsOf(spark, dir)

  private def names(dir: String, sub: String): Set[String] = {
    val (fs, root) = fsOf(dir)
    val d = new Path(root, sub)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).map(_.getPath.getName).toSet
  }

  /** Only the newest version's slices and frozen dir are on disk, and
    * no temp manifest is left. */
  private def onlyLive(dir: String): Unit = {
    val m = RefIndexSlices.manifest(spark, dir).get
    assert(names(dir, "slices") == m.slices.toSet)
    assert(names(dir, "frozen") == m.frozen.toSet)
    assert(!names(dir, "_slog").exists(_.startsWith(".tmp-")))
  }

  private def copy(from: Path, to: Path): Unit = {
    val (fs, _) = fsOf(from.toString)
    assert(FileUtil.copy(fs, from, fs, to, false,
      spark.sparkContext.hadoopConfiguration))
  }

  /** Run `op` as if it crashed right after its commit: every slice and
    * frozen dir its sweep deletes is put back. */
  private def sweepLost(dir: String)(op: => Unit): Unit = {
    val (_, root) = fsOf(dir)
    val keep = new Path(s"${root}_kept_${java.util.UUID.randomUUID()}")
    for (sub <- Seq("slices", "frozen") if names(dir, sub).nonEmpty)
      copy(new Path(root, sub), new Path(keep, sub))
    val before = Seq("slices", "frozen").map(sub => sub -> names(dir, sub))
    op
    for ((sub, was) <- before; n <- was -- names(dir, sub))
      copy(new Path(new Path(keep, sub), n), new Path(new Path(root, sub), n))
  }

  private def crashes(k: Kind): Unit = {
    val dir = tmp(s"crash_${k.name}")
    val (fs, root) = fsOf(dir)
    k.save(a, dir, false)
    k.append(vecs(b), dir)
    val committed = k.probe(dir)
    assert(committed.nonEmpty)
    def unchanged(what: String) =
      assert(k.probe(dir) == committed, s"${k.name}: $what moved the index")

    // (a) a task throws partway through a save, an append, a compaction
    intercept[Exception](k.save(a ++ b ++ c, dir, true))
    unchanged("a failed save")
    intercept[Exception](
      k.append(vecs(c).withColumn("vec_id", boom($"vec_id")), dir))
    unchanged("a failed append")
    intercept[IllegalStateException](
      RefIndexSlices.compactCore(spark, dir, graceMs = 0) { (m, slice) =>
        copy(RefIndexSlices.slicePath(root, m.slices.head), slice)
        throw new IllegalStateException("injected failure mid-compaction")
      })
    unchanged("a failed compaction")
    // (b) a slice and a frozen dir written but never committed
    val live = RefIndexSlices.manifest(spark, dir).get
    copy(RefIndexSlices.slicePath(root, live.slices.head),
      RefIndexSlices.slicePath(root, "uncommitted-slice"))
    for (f <- live.frozen)
      copy(new Path(new Path(root, "frozen"), f),
        new Path(new Path(root, "frozen"), "uncommitted-frozen"))
    unchanged("an uncommitted slice")
    // (c) a temp manifest naming the uncommitted slice
    val out = fs.create(new Path(new Path(root, "_slog"), ".tmp-crashed"))
    out.write(s"kind\t${k.name}\nslice\tuncommitted-slice\n".getBytes("UTF-8"))
    out.close()
    unchanged("a temp manifest")
    // a compaction with no grace removes every leftover of (a)-(c)
    k.compact(dir, 0L)
    assert(RefIndexSlices.sliceCount(spark, dir) == 1)
    unchanged("compaction")
    onlyLive(dir)

    // (d) a save, then a compaction, whose sweep never ran
    val saved = {
      val fresh = tmp(s"crash_${k.name}_fresh")
      k.save(a ++ c, fresh, false)
      k.probe(fresh)
    }
    sweepLost(dir)(k.save(a ++ c, dir, false))
    assert(k.probe(dir) == saved, s"${k.name}: a save lost its sweep")
    k.append(vecs(b), dir)
    val appended = k.probe(dir)
    sweepLost(dir)(k.compact(dir, RefIndexSlices.DefaultGraceMs))
    assert(k.probe(dir) == appended, s"${k.name}: compaction moved a row")
    // the next save deletes every dir an older version named
    assert(names(dir, "slices").size > 1)
    k.save(a ++ c, dir, false)
    onlyLive(dir)
    assert(k.probe(dir) == saved)
  }

  test("semantic: a crash at save, append or compact leaves the last commit loadable") {
    crashes(semantic)
  }

  test("pq: a crash at save, append or compact leaves the last commit loadable") {
    crashes(pq)
  }

  test("ivfpq with payload: a crash at save, append or compact leaves the last commit loadable") {
    crashes(ivfpq)
  }

  /** Run `blocked` until its write reaches `HookId`, run `meanwhile`,
    * then let `blocked` finish; returns how it ended. */
  private def whileHeld[T](blocked: => T)(meanwhile: => Unit): Try[T] = {
    val (entered, release) = (new CountDownLatch(1), new CountDownLatch(1))
    IndexCrashSpec.gate.set((entered, release))
    val f = Future(blocked)(scala.concurrent.ExecutionContext.global)
    try {
      assert(entered.await(120, TimeUnit.SECONDS),
        "the held write never reached its source")
      meanwhile
    } finally {
      IndexCrashSpec.gate.set(null)
      release.countDown()
    }
    Try(Await.result(f, 5.minutes))
  }

  test("an append whose frozen dir a save replaced mid-append refuses") {
    val dir = tmp("crash_midappend")
    pq.save(a, dir, false)
    var saved = Set.empty[Row]
    val appended = whileHeld(pq.append(
      vecs(c).withColumn("vec_id", hold($"vec_id")), dir)) {
      pq.save(a ++ b, dir, false)
      saved = pq.probe(dir)
    }
    val e = appended.failed.get
    assert(e.isInstanceOf[IllegalStateException] &&
      e.getMessage.contains("changed under an append"), e)
    assert(RefIndexSlices.sliceCount(spark, dir) == 1)
    assert(pq.probe(dir) == saved && saved.nonEmpty)
  }

  test("a slice whose knobs differ from the version it lands on is refused") {
    // two first appends both find an empty dir and build with their own
    // knobs; the later commit must not land on the earlier one's index
    val dir = tmp("crash_knobs")
    val first = whileHeld(RefIndexSlices.appendSemantic(
      vecs(c).withColumn("vec_id", hold($"vec_id")), dir, "vec_id",
      "embedding", bands = 4, bitsPerBand = 4, dim = 16)) {
      RefIndexSlices.appendSemantic(vecs(b), dir, "vec_id", "embedding",
        bands = 2, bitsPerBand = 4, dim = 16)
    }
    val e = first.failed.get
    assert(e.isInstanceOf[IllegalStateException] &&
      e.getMessage.contains("changed under an append"), e)
    val m = RefIndexSlices.manifest(spark, dir).get
    assert(m.knobs("bands") == "2" && m.slices.size == 1)
    assert(RefIndexSlices.loadSemantic(spark, dir).payload.count() == b.size)
  }
}
