package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, ThreadFactory}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession
import graft.jobs.{Gold, Main}

/** One repetition of one workload in this JVM, driven only through the
  * program's public entry points (`graft.jobs.Main.run` stages and
  * `graft.jobs.Gold`).
  *
  * The parent process (run.py) reads the event lines this prints on
  * stdout, each prefixed with `@@pb `: `ready` once the session is up,
  * `start`/`end` around every operation, `result` with the rows a gold
  * or serving call returned, and `done` with the JVM's peak RSS. It
  * enforces each operation's deadline by killing this process.
  *
  * {{{
  * java -cp <classpath> perfbench.Driver --workload daily_increment \
  *   --inputs <dir> --work <dir> --cpus 4 --trace 0
  * }}}
  */
object Driver {

  private val out = new java.io.PrintStream(
    new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
  private val t0 = System.nanoTime()

  def now(): Double = (System.nanoTime() - t0) / 1e9

  def emit(fields: (String, Any)*): Unit = out.synchronized {
    out.println("@@pb " + Json.obj(fields: _*))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val cpus = opts("cpus").toInt
    val workload = opts("workload")
    val inputs = opts("inputs")
    val work = opts("work")
    val spark = GraftSession.build(master = s"local[$cpus]",
      shufflePartitions = cpus, appName = s"perfbench-$workload")
    val truth = JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(inputs, "truth.json")), "UTF-8"))
    val tracer =
      if (opts.getOrElse("trace", "0") == "1") Some(new Tracer(spark, cpus))
      else None
    val w = Workloads(spark, new Ops(tracer), inputs, work, cpus,
      truth, tracer)
    emit("ev" -> "ready", "t" -> now())
    val cpu0 = cpuSeconds()
    tracer.foreach(_.beginPhase("workload", s"$work/lake"))
    w.run(workload)
    tracer.foreach { tr =>
      tr.endPhase()
      new Probes(spark, tr, inputs, work, truth, cpus).run(workload)
      tr.writeSpans(Paths.get(work, "spans.jsonl"))
      emit("ev" -> "trace", "metrics" -> tr.metrics(workload))
    }
    emit("ev" -> "done", "rss_mb" -> peakRssMb(), "cpu_s" -> (cpuSeconds() - cpu0))
    out.flush()
    // the program's run_all can leave non-daemon pool threads behind
    // after a failure; they must not keep this JVM alive
    sys.exit(0)
  }

  /** User + system CPU time of this process so far (clock ticks of
    * 1/100 s, fields 14 and 15 of /proc/self/stat). */
  def cpuSeconds(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Runs one operation under a span, reporting its start and end unless
  * `emitEvents` is off (the traced run's kit and probes); a thrown
  * exception is a failed operation, never the end of the repetition. */
class Ops(tracer: Option[Tracer], emitEvents: Boolean = true) {
  private def emit(fields: (String, Any)*): Unit =
    if (emitEvents) Driver.emit(fields: _*)

  def apply[T](name: String, layer: String)(body: => T): Option[T] = {
    val span = tracer.map(_.open(name, layer))
    emit("ev" -> "start", "op" -> name, "t" -> Driver.now())
    val t = Driver.now()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = Driver.now()
    for (s <- span; t <- tracer) t.close(s)
    res match {
      case Right(v) =>
        emit("ev" -> "end", "op" -> name, "ok" -> true, "t" -> t1,
          "s" -> (t1 - t))
        Some(v)
      case Left(e) =>
        val msg = Option(e.getMessage).getOrElse("").linesIterator
          .take(1).mkString.take(300)
        emit("ev" -> "end", "op" -> name, "ok" -> false, "t" -> t1,
          "s" -> (t1 - t), "err" -> s"${e.getClass.getName}: $msg")
        None
    }
  }
}

final case class Workloads(spark: SparkSession, ops: Ops, inputs: String,
                           work: String, cpus: Int, truth: JValue,
                           tracer: Option[Tracer]) {
  implicit val formats: Formats = DefaultFormats
  val lake = s"$work/lake"

  def run(workload: String): Unit = workload match {
    case "daily_increment" => dailyIncrement()
    case "index_refresh" => indexRefresh(s"$inputs/vec", s"$work/index", "")
    case "daily_snapshot" => daySnapshot()
  }

  def stage(opts: (String, String)*): Unit = Main.run(opts.toMap, spark)

  /** A serving read: reports the rows it returned, for the checks. */
  def serve(name: String)(query: => DataFrame): Unit =
    Driver.emit("ev" -> "result", "name" -> name,
      "rows" -> query.collect().toList.map(_.toSeq.toList.map {
        case d: Double =>
          BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
        case v => v
      }))

  /** The day-1 lake daily_increment starts from: built once, restored
    * before every repetition. */
  def daySnapshot(): Unit = {
    ops("day1_run_all", "run_all") {
      stage("stage-name" -> "run_all", "raw-root" -> s"$inputs/day1",
        "lake-root" -> lake, "ingestion-date" -> "2023-07-01",
        "parallelism" -> cpus.toString)
    }
    ops("day1_refresh_rollup", "gold") {
      Gold.refreshPrincipalRollup(spark, lake, s"$lake/gold/principal_rollup",
        (truth \ "day1_parts").extract[Seq[String]])
    }
  }

  /** Day 2 over a restored day-1 lake, stage by stage as the reference
    * DAG calls them: per-deal bronze from at most `cpus` client
    * threads, then silver, then the incremental gold rollup. */
  def dailyIncrement(): Unit = {
    val deals = (truth \ "deals").extract[Seq[String]]
    val newParts = (truth \ "new_parts").extract[Seq[String]]
    val pool = Executors.newFixedThreadPool(math.min(cpus, deals.size),
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r); t.setDaemon(true); t
        }
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val date = "2023-08-01"
    val bronze = deals.map { ed =>
      Future {
        val raw = s"$inputs/day2/$ed"
        ops(s"bronze_asset:$ed", "bronze") {
          stage("stage-name" -> "bronze_asset", "raw-dir" -> raw,
            "lake-root" -> lake, "ed-code" -> ed, "ingestion-date" -> date)
        }
        ops(s"bronze_bond_info:$ed", "bronze") {
          stage("stage-name" -> "bronze_bond_info", "raw-dir" -> raw,
            "lake-root" -> lake, "ed-code" -> ed, "ingestion-date" -> date)
        }
        ops(s"bronze_deal_details:$ed", "bronze") {
          stage("stage-name" -> "bronze_deal_details", "raw-dir" -> raw,
            "lake-root" -> lake)
        }
      }
    }
    Await.result(Future.sequence(bronze), Duration.Inf)
    pool.shutdown()
    for (s <- Seq("silver_asset", "silver_bond_info", "silver_deal_details"))
      ops(s, "silver") { stage("stage-name" -> s, "lake-root" -> lake) }
    ops("gold_refresh_rollup", "gold") {
      Gold.refreshPrincipalRollup(spark, lake, s"$lake/gold/principal_rollup",
        newParts)
    }
    ops("gold_principal_from_rollup", "gold") {
      serve("principal_by_country")(
        Gold.principalByCountryFromRollup(spark, s"$lake/gold/principal_rollup"))
    }
  }

  /** The nightly ANN index lifecycle on a sliced ivfpq store. `tag`
    * prefixes the operation names (the traced run replays it on the
    * calibration kit under "kit."). */
  def indexRefresh(vec: String, index: String, tag: String): Unit = {
    val common = Seq("kind" -> "ivfpq", "index-dir" -> index, "dim" -> "64")
    ops(s"${tag}index_build", "ann.build") {
      stage(common ++ Seq("stage-name" -> "index_build",
        "source" -> s"$vec/corpus.parquet", "layout" -> "sliced",
        "payload" -> "true"): _*)
    }
    ops(s"${tag}index_append", "ann.append") {
      stage(common ++ Seq("stage-name" -> "index_append",
        "source" -> s"$vec/append.parquet"): _*)
    }
    tracer.foreach(_.put("streaming.slices",
      graft.streaming.RefIndexSlices.sliceCount(spark, index).toDouble))
    def probe(n: Int) = ops(s"${tag}index_probe_$n", "ann.probe") {
      stage(common ++ Seq("stage-name" -> "index_probe", "layout" -> "sliced",
        "probe" -> s"$vec/queries.parquet", "k" -> "10", "refine" -> "4",
        "out" -> s"$index-probe$n"): _*)
    }
    probe(1)
    ops(s"${tag}index_compact", "ann.compact") {
      stage("stage-name" -> "index_compact", "index-dir" -> index)
    }
    probe(2)
  }

  /** The calibration kit's small pipeline: one deal through every
    * bronze, silver and gold stage (traced runs of workloads that do
    * not exercise the pipeline layers). */
  def kitPipeline(kitLake: String): Unit = {
    val raw = s"$inputs/kit/raw/LESKIT0001"
    for (s <- Seq("bronze_asset", "bronze_bond_info"))
      ops(s"kit.$s", "bronze") {
        stage("stage-name" -> s, "raw-dir" -> raw, "lake-root" -> kitLake,
          "ed-code" -> "LESKIT0001", "ingestion-date" -> "2023-06-01")
      }
    ops("kit.bronze_deal_details", "bronze") {
      stage("stage-name" -> "bronze_deal_details", "raw-dir" -> raw,
        "lake-root" -> kitLake)
    }
    for (s <- Seq("silver_asset", "silver_bond_info", "silver_deal_details"))
      ops(s"kit.$s", "silver") { stage("stage-name" -> s, "lake-root" -> kitLake) }
    ops("kit.gold_principal_by_country", "gold") {
      Gold.principalByCountry(spark, kitLake).collect()
    }
  }
}

/** JSON rendering for the event and span lines. */
object Json {
  private implicit val formats: Formats = DefaultFormats
  def obj(fields: (String, Any)*): String =
    org.json4s.jackson.Serialization.write(fields.toMap)
}
