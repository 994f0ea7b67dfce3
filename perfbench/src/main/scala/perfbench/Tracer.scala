package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrumentation, all of it outside the program: a
  * SparkListener and a QueryExecutionListener on the session the
  * benchmark builds, plus spans around every call the benchmark makes.
  *
  * Spans carry a run id, a parent and a phase. A phase is a stretch of
  * calls whose counters are read together: `workload` (the measured
  * operations), `kit` (the calibration kit, for layers the workload
  * does not reach) and `probes` (single-layer calls into noop sinks).
  * Jobs are tied to spans through a thread-local property that Spark
  * copies onto every job, also from threads the program starts itself.
  * Phase switches go through a marker job, so listener callbacks are
  * attributed in the order the listener bus delivers them.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      phase: String, start: Double, var end: Double = -1)
final case class JobRec(id: Int, span: Int)
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                         spill: Long)
final case class WriteRec(phase: String, path: String, ok: Boolean,
                          durNs: Long, files: Long, bytes: Long)

class Tracer(spark: SparkSession, cpus: Int) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private val PhaseKey = "perfbench.phase"
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def epochMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val writes = mutable.ArrayBuffer.empty[WriteRec]
  private val seenCmds = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  private val values = mutable.LinkedHashMap.empty[String, Double]
  @volatile private var listenerPhase = "-"
  @volatile private var markerSeen = -1
  private var phase = "-"
  private var phaseSpan: Span = _
  private var phaseLake: String = ""
  private val snapshots = mutable.Map.empty[String, (Map[String, AnyRef], Int)]
  private val phaseSpans = mutable.Map.empty[String, Span]
  private val current = new ThreadLocal[Span]

  // time spent inside the callbacks below: the listener's own cost
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()
  private def timed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally listenerNs.addAndGet(System.nanoTime() - t)
  }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(PhaseKey))).foreach { p =>
        listenerPhase = p.split("#")(0)
        markerSeen = p.split("#")(1).toInt
      }
      val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.put(e.jobId, JobRec(e.jobId, span))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) tasks.synchronized {
        tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit =
      record(qe, ok = true, durNs)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, ok = false, 0L)
  })

  private def findWrite(p: SparkPlan): Option[DataWritingCommandExec] = p match {
    case d: DataWritingCommandExec => Some(d)
    case c: CommandResultExec => findWrite(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => findWrite(a.executedPlan)
    case q: QueryStageExec => findWrite(q.plan)
    case other => other.children.iterator.map(findWrite).collectFirst {
      case Some(d) => d
    }
  }

  private def record(qe: QueryExecution, ok: Boolean, durNs: Long): Unit = timed {
    val plan = scala.util.Try(qe.executedPlan).toOption
    plan.flatMap(findWrite).foreach { d =>
      d.cmd match {
        case c: InsertIntoHadoopFsRelationCommand if seenCmds.add(c) =>
          def metric(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
          writes.synchronized {
            writes += WriteRec(listenerPhase, c.outputPath.toString, ok, durNs,
              metric("numFiles"), metric("numOutputBytes"))
          }
        case _ =>
      }
    }
  }

  // ------------------------------------------------------------ spans
  def open(name: String, layer: String): Span = spans.synchronized {
    val parent = Option(current.get).getOrElse(phaseSpan)
    val s = Span(spans.size, name, layer, Option(parent).map(_.id).getOrElse(-1),
      phase, epochMs())
    spans += s
    current.set(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.end = epochMs()
    val parent = spans.synchronized {
      if (s.parent >= 0) Some(spans(s.parent)) else None
    }
    current.set(parent.filter(_.layer != "phase").orNull)
    sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
  }

  def put(key: String, v: Double): Unit = values.synchronized { values(key) = v }

  /** Run a marker job tagged with `name` and wait until the listener
    * has seen it: every callback posted before it is then delivered. */
  private var markers = 0
  private def marker(name: String): Unit = {
    markers += 1
    val seq = markers
    sc.setLocalProperty(PhaseKey, s"$name#$seq")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(PhaseKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (markerSeen != seq && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def beginPhase(name: String, lake: String): Unit = {
    marker(name)
    phase = name
    phaseLake = lake
    snapshots(name) = (lakeParts(lake), ledgerRows(lake))
    phaseSpan = null
    phaseSpan = open(name, "phase")
    phaseSpans(name) = phaseSpan
    current.remove()
  }

  def endPhase(): Unit = {
    close(phaseSpan)
    current.remove()
    sc.setLocalProperty(SpanKey, null)
    marker("-")
    val (before, ledgers) = snapshots(phase)
    val after = lakeParts(phaseLake)
    put(s"$phase.partitions_published",
      after.count { case (k, v) => !before.get(k).contains(v) })
    put(s"$phase.ledger_new", ledgerRows(phaseLake) - ledgers)
    put(s"$phase.ledger_all", ledgerRows(phaseLake))
    phase = "-"
  }

  /** Every live `part=` directory under the lake, keyed by path, with
    * its file key: a publish swaps a new directory in, so a changed
    * key is a published partition. */
  private def lakeParts(lake: String): Map[String, AnyRef] = {
    val root = Paths.get(lake)
    if (!Files.exists(root)) return Map.empty
    val st = Files.walk(root)
    try st.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("part=") &&
        !root.relativize(p).iterator().asScala.exists(_.toString.startsWith(".")))
      .map(p => root.relativize(p).toString ->
        Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
          .fileKey())
      .toMap
    finally st.close()
  }

  /** Ledger entries (one per loaded (deal, cut-off) tape) for assets
    * and bond_info: the work list silver re-reads on every run. */
  def ledgerRows(lake: String): Int =
    Seq("assets", "bond_info").map { dt =>
      val d = Paths.get(lake, "clean_dump", dt)
      if (!Files.isDirectory(d)) 0
      else {
        val st = Files.list(d)
        try st.iterator().asScala.filter(_.toString.endsWith(".csv"))
          .map(f => math.max(0, Files.readAllLines(f).size - 1)).sum
        finally st.close()
      }
    }.sum

  def writeSpans(file: Path): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "parent" -> s.parent, "phase" -> s.phase,
        "start_ms" -> s.start, "end_ms" -> s.end)
    }
    Files.write(file, lines.asJava)
  }

  // ---------------------------------------------------------- metrics
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  private def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double) =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }

  /** The per-layer figures for this workload, in their units. */
  def metrics(workload: String): Map[String, Double] = {
    val allSpans = spans.synchronized(spans.toList)
    val allJobs = jobs.values().asScala.toList
    val allTasks = tasks.synchronized(tasks.toList)
    val allWrites = writes.synchronized(writes.toList)
    def spansOf(ph: String) = allSpans.filter(s => s.phase == ph && s.layer != "phase")
    def jobsOf(ss: Seq[Span]) = {
      val ids = ss.map(_.id).toSet
      allJobs.filter(j => ids.contains(j.span))
    }
    def tasksOf(js: Seq[JobRec]) = {
      val ids = js.map(_.id).toSet
      allTasks.filter(t => ids.contains(stageJob.getOrDefault(t.stage, -1)))
    }
    val pipe = if (workload == "index_refresh") "kit" else "workload"
    val ann = if (workload == "index_refresh") "workload" else "kit"
    val m = mutable.LinkedHashMap.empty[String, Double]

    // jobs: wall covered by each stage's calls
    val ps = spansOf(pipe)
    def wallOf(layer: String) = ps.filter(_.layer == layer).map(s => (s.start, s.end))
    m("jobs.bronze_s") = union(wallOf("bronze")) / 1e3
    m("jobs.silver_s") = union(wallOf("silver")) / 1e3
    m("jobs.gold_s") = union(wallOf("gold")) / 1e3
    val wl = spansOf("workload")
    val win = phaseSpans("workload")
    val wlJobs = jobsOf(wl)
    val wlTasks = tasksOf(wlJobs)
    val wallMs = win.end - win.start
    m("jobs.spark_jobs") = wlJobs.size
    m("jobs.core_busy_share") = wlTasks.map(_.runMs).sum / (wallMs * cpus)
    m("jobs.driver_only_s") = (wallMs - union(clip(
      wlTasks.map(t => (t.launch.toDouble, t.finish.toDouble)), win.start, win.end))) / 1e3

    values.synchronized(values.toList).foreach { case (k, v) =>
      if (!k.contains(".partitions_published") && !k.contains(".ledger_")) m(k) = v
    }

    // io.lake: write commands under the lake root of the pipeline phase
    val lakeWrites = allWrites.filter(w => w.phase == pipe && w.path.contains(
      if (pipe == "kit") "/kit-lake/" else "/lake/"))
    val published = values.getOrElse(s"$pipe.partitions_published", 0.0)
    m("io.lake.write_cmds") = lakeWrites.size
    m("io.lake.partitions_published") = published
    m("io.lake.write_cmds_per_partition") =
      if (published > 0) lakeWrites.size / published else 0.0
    m("io.lake.publish_s") = lakeWrites.map(_.durNs).sum / 1e9
    m("io.lake.bytes_written") = lakeWrites.filter(_.ok).map(_.bytes).sum.toDouble
    m("io.lake.files_written") = lakeWrites.filter(_.ok).map(_.files).sum.toDouble

    // silver: ledger-driven work list vs the partitions that were new
    val silverRuns = ps.count(s => s.layer == "silver" &&
      (s.name.endsWith("silver_asset") || s.name.endsWith("silver_bond_info")))
    val processed = values.getOrElse(s"$pipe.ledger_all", 0.0) * silverRuns / 2
    m("silver.partitions_processed") = processed
    m("silver.useful_share") =
      if (processed > 0) values.getOrElse(s"$pipe.ledger_new", 0.0) / processed else 0.0
    val silverJobs = jobsOf(ps.filter(_.layer == "silver"))
    m("silver.shuffle_bytes") = tasksOf(silverJobs).map(_.shuffleWrite).sum.toDouble

    // ext / streaming: the ANN lifecycle spans
    val as = spansOf(ann)
    def annS(layer: String) = as.filter(_.layer == layer).map(s => s.end - s.start).sum / 1e3
    m("ext.ann.build_s") = annS("ann.build")
    m("ext.ann.append_s") = annS("ann.append")
    m("ext.ann.compact_s") = annS("ann.compact")
    m("ext.ann.probe_s") = annS("ann.probe")
    val annJobs = jobsOf(as.filter(_.layer.startsWith("ann.")))
    m("ext.ann.spark_jobs") = annJobs.size
    m("ext.ann.shuffle_bytes") = tasksOf(annJobs).map(_.shuffleWrite).sum.toDouble

    // session-wide, over the workload's own operations
    m("spark.task_cpu_s") = wlTasks.map(_.cpuNs).sum / 1e9
    m("spark.gc_s") = wlTasks.map(_.gcMs).sum / 1e3
    m("spark.spill_bytes") = wlTasks.map(_.spill).sum.toDouble
    m("spark.shuffle_write_bytes") = wlTasks.map(_.shuffleWrite).sum.toDouble
    m("trace.spans") = allSpans.size
    m("trace.listener_s") = listenerNs.get / 1e9
    m.toMap
  }

  /** Tasks run by the jobs under one span (the layer probes). */
  def spanTasks(s: Span): Int = {
    val ids = jobs.values().asScala.filter(_.span == s.id).map(_.id).toSet
    tasks.synchronized(tasks.count(t => ids.contains(stageJob.getOrDefault(t.stage, -1))))
  }

  /** Waits until the listener has delivered everything posted so far. */
  def drain(): Unit = marker(phase)
}
