package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Crash-injection coverage for the atomic partition publish
  * (round-2 verdict item 3): a kill at ANY step of writePartitioned
  * must leave every partition
  * either fully old or fully new — never half-replaced — and
  * Lake.recover must restore the table to a readable state. */
class LakePublishSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/table"

  private def rows(root: String): Set[(Long, String)] =
    spark.read.parquet(root).as[(Long, String)].collect().toSet

  private def df(vals: (Long, String)*) = vals.toDF("id", "part")

  private case class Crash(step: String) extends RuntimeException(step)
  private def crashAt(step: String): String => Unit =
    s => if (s == step) throw Crash(step)

  test("readLedgers: every ledger's rows, headers and hidden files skipped") {
    val lake = java.nio.file.Files.createTempDirectory("ledger").toString
    Lake.writeLedger(spark, lake, "assets", "2023-08-01", "DEALB",
      Seq("DEALB" -> "2023-07-31"))
    Lake.writeLedger(spark, lake, "assets", "2023-07-31", "DEALA",
      Seq("DEALA" -> "2023-06-30", "DEALA" -> "2023-07-31"))
    val dir = new java.io.File(s"$lake/clean_dump/assets")
    // the local Hadoop FS writes a .crc sibling per ledger file
    assert(dir.list().count(_.endsWith(".crc")) == 2)
    java.nio.file.Files.writeString(new java.io.File(dir, "_SUCCESS").toPath, "")
    val got = Lake.readLedgers(spark, lake, "assets")
    assert(got == Seq("DEALA" -> "2023-06-30", "DEALA" -> "2023-07-31",
      "DEALB" -> "2023-07-31")) // file-name order
    // the rows Spark's CSV reader finds in the same dir
    assert(got.toSet == spark.read.option("header", "true").csv(dir.toString)
      .as[(String, String)].collect().toSet)
    assert(Lake.readLedgers(spark, lake, "bond_info").isEmpty)
  }

  test("writePartitioned replaces only the partitions present in df") {
    val root = freshRoot("pub")
    Lake.writePartitioned(df(1L -> "A", 2L -> "B"), root)
    Lake.writePartitioned(df(9L -> "B", 3L -> "C"), root)
    assert(rows(root) == Set(1L -> "A", 9L -> "B", 3L -> "C"))
  }

  test("crash after staging: table untouched; recover sweeps staging") {
    val root = freshRoot("pub")
    Lake.writePartitioned(df(1L -> "A"), root)
    intercept[Crash] {
      Lake.writePartitioned(df(2L -> "A"), root, crashAt("staged"))
    }
    assert(rows(root) == Set(1L -> "A")) // old partition intact
    assert(Lake.recover(spark, root).isEmpty)
    assert(rows(root) == Set(1L -> "A"))
  }

  test("crash between rename-aside and swap-in: recover restores the old copy") {
    val root = freshRoot("pub")
    Lake.writePartitioned(df(1L -> "A", 2L -> "B"), root)
    intercept[Crash] {
      Lake.writePartitioned(df(9L -> "A"), root, crashAt("aside:part=A"))
    }
    // partition A is mid-swap (absent from the table root), its only
    // copy parked in trash; partition B never touched
    val live = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(!live.contains("part=A") && live.contains("part=B"))
    assert(Lake.recover(spark, root) == Seq("part=A"))
    assert(rows(root) == Set(1L -> "A", 2L -> "B")) // fully old
  }

  test("crash after swap-in before trash drop: recover keeps the new copy") {
    val root = freshRoot("pub")
    Lake.writePartitioned(df(1L -> "A"), root)
    intercept[Crash] {
      Lake.writePartitioned(df(9L -> "A"), root, crashAt("swapped:part=A"))
    }
    assert(Lake.recover(spark, root).isEmpty) // swap completed -> trash dropped
    assert(rows(root) == Set(9L -> "A")) // fully new
  }

  test("ORC format: publish, crash window, recover — same protocol") {
    val root = freshRoot("orcpub")
    def orcRows = spark.read.orc(root).as[(Long, String)].collect().toSet
    Lake.writePartitioned(df(1L -> "A", 2L -> "B"), root, "orc")
    assert(orcRows == Set(1L -> "A", 2L -> "B"))
    // the crash protocol is FS renames only — format can't change it
    intercept[Crash] {
      Lake.writePartitioned(df(9L -> "A"), root, crashAt("aside:part=A"), "orc")
    }
    assert(Lake.recover(spark, root) == Seq("part=A"))
    assert(orcRows == Set(1L -> "A", 2L -> "B"))
  }

  test("a published table root lists only its part= dirs") {
    val root = freshRoot("pubclean")
    def listed = new java.io.File(root).list().toSet
    Lake.writePartitioned(df(1L -> "A", 2L -> "B"), root)
    assert(listed == Set("part=A", "part=B"))
    // a publish over an existing partition parks the old copy in the
    // shared trash root, which stays; the staging root still goes
    Lake.writePartitioned(df(9L -> "A", 3L -> "C"), root)
    assert(listed -- Set(".publish_trash") == Set("part=A", "part=B", "part=C"))
    assert(rows(root) == Set(9L -> "A", 2L -> "B", 3L -> "C"))
  }

  test("retry after a mid-swap crash converges to the new data") {
    val root = freshRoot("pub")
    Lake.writePartitioned(df(1L -> "A"), root)
    intercept[Crash] {
      Lake.writePartitioned(df(9L -> "A"), root, crashAt("aside:part=A"))
    }
    // the Jobs-level Lake.retry path: a fresh attempt (no recover in
    // between) must supersede the parked old copy, not resurrect it
    Lake.writePartitioned(df(9L -> "A"), root)
    assert(rows(root) == Set(9L -> "A"))
    assert(Lake.recover(spark, root).isEmpty)
    assert(rows(root) == Set(9L -> "A"))
  }

  test("concurrent writers on distinct partitions never interfere") {
    // the 20-wide fan-out contract: deals publish DISTINCT partitions
    // of one table concurrently; uuid staging + per-partition trash
    // must keep them fully independent
    val root = freshRoot("conc")
    val parts = ('A' to 'H').map(_.toString)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val rounds = 3
    (1 to rounds).foreach { r =>
      val fs = parts.map { p =>
        scala.concurrent.Future {
          Lake.writePartitioned(df((r * 100L + p.head.toLong) -> p), root)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
    }
    pool.shutdown()
    // every partition holds exactly its LAST round's row
    assert(rows(root) ==
      parts.map(p => (rounds * 100L + p.head.toLong) -> p).toSet)
    assert(Lake.recover(spark, root).isEmpty) // nothing left mid-swap
  }

  test("recoverLake sweeps every table root under a lake") {
    val lake = java.nio.file.Files.createTempDirectory("lake").toString
    val table = s"$lake/bronze/assets"
    Lake.writePartitioned(df(1L -> "A", 2L -> "B"), table)
    // park A mid-swap as a crash would
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(table, ".publish_trash"))
    fs.rename(new org.apache.hadoop.fs.Path(table, "part=A"),
      new org.apache.hadoop.fs.Path(table, ".publish_trash/part=A"))
    val restored = graft.jobs.Jobs.recoverLake(spark, lake)
    assert(restored == Map(table -> Seq("part=A")))
    assert(rows(table) == Set(1L -> "A", 2L -> "B"))
  }
}
