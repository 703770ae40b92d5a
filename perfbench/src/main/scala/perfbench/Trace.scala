package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A span around one of the benchmark's calls into a layer. Millisecond
  * bounds share the clock Spark stamps job events with; `constructMs`
  * is when the call returned its (possibly lazy) result. */
final case class Span(id: Int, parent: Int, layer: String,
                      startMs: Long, constructMs: Long, endMs: Long,
                      startNs: Long, constructNs: Long, endNs: Long)

final case class JobRec(id: Int, startMs: Long, endMs: Long, callSite: String)

final case class TaskRec(jobId: Int, runMs: Long, cpuNs: Long,
                         shuffleWriteBytes: Long, spillBytes: Long)

/** Records spans around the benchmark's own calls. Off, it is a plain
  * call: untraced passes pay nothing for it. */
final class Tracer {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** `build` is the call into the layer; `use` consumes its result (an
    * action on a lazy frame, a write, a collect) inside the same span. */
  def apply[A, B](layer: String)(build: => A)(use: A => B): B =
    if (!enabled) use(build)
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
      try {
        val a = build
        val (ms1, ns1) = (System.currentTimeMillis(), System.nanoTime())
        try use(a)
        finally spans += Span(id, parent, layer, ms0, ms1,
          System.currentTimeMillis(), ns0, ns1, System.nanoTime())
      } finally stack = stack.tail
    }

  def call[A](layer: String)(f: => A): A = apply(layer)(f)(identity)

  def drain(): Seq[Span] = { val s = spans.toSeq; spans.clear(); s }
}

/** The benchmark's SparkListener. Executor CPU is always summed (it is an
  * end-to-end metric); jobs and tasks are kept only while `detailed`. A
  * job's call site is its first stage's stack, or, when that names no
  * known frame (AQE submits stage jobs from a pool thread), its SQL
  * execution's. A broadcast or subquery job submitted from a pool thread
  * outside any execution has neither, and its module stays `unknown`. */
final class JobListener extends SparkListener {
  @volatile var detailed = false
  private val cpuNs = new AtomicLong(0L)
  private val execSite = scala.collection.mutable.Map.empty[Long, String]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val open = scala.collection.mutable.Map.empty[Int, (Long, String)]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]

  def executorCpuNs: Long = cpuNs.get()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val root = s.rootExecutionId.collect { case l: Long => l }
        .flatMap(execSite.get)
      execSite(s.executionId) = root.getOrElse(s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    // the stage's own stack first: a pool thread can carry a stale
    // execution id it inherited
    val stage = e.stageInfos.headOption.map(_.details).getOrElse("")
    val site =
      if (Attribution.moduleOf(stage) != "unknown") stage
      else exec.flatMap(execSite.get).getOrElse(stage)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    open(e.jobId) = (e.time, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, site) =>
      jobs += JobRec(e.jobId, t0, e.time, site)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      if (detailed) synchronized {
        tasks += TaskRec(stageJob.getOrElse(e.stageId, -1), e.taskInfo.duration,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
      }
    }
  }

  def drain(): (Seq[JobRec], Seq[TaskRec]) = synchronized {
    val r = (jobs.toSeq, tasks.toSeq)
    jobs.clear(); tasks.clear(); r
  }
}

/** Turns spans, jobs and tasks into `<layer>.<kind>` metrics.
  *
  * Span layers are the benchmark's calls into the program. A job belongs
  * to the innermost span whose window holds its start (one client, so
  * windows never overlap except by nesting). Module layers split the
  * same jobs a second way, by the innermost `graft.<module>` frame of
  * the job's call site: that is how a single `Cli.run` span splits into
  * text, sim, core and io without tracing inside the program. A
  * module layer's `wall_s` is the time at least one of its jobs ran. */
object Attribution {

  val SpanLayers: Seq[String] = Seq("series", "gen.fit", "gen.generate",
    "eval.distribution", "eval.composite", "eval.predictive", "opt", "cli")
  val SpanKinds: Seq[String] = Seq("wall_s", "construct_s", "jobs",
    "driver_only_s", "exec_cpu_s", "shuffle_mb", "spill_mb", "task_skew")
  val ModuleLayers: Seq[String] = Seq("text", "sim", "core", "io")
  val ModuleKinds: Seq[String] = Seq("wall_s", "jobs", "exec_cpu_s",
    "shuffle_mb", "spill_mb", "task_skew")
  val Extras: Seq[String] =
    Seq("eval.predictive.mllib_jobs", "unattributed_jobs")

  val MetricNames: Seq[String] =
    SpanLayers.flatMap(l => SpanKinds.map(k => s"$l.$k")) ++
      ModuleLayers.flatMap(l => ModuleKinds.map(k => s"$l.$k")) ++ Extras

  /** The per-layer metrics of the summary line: for each layer, the
    * kinds its optimisation is most likely to move. The record file
    * keeps every kind of every layer. */
  val Summary: Seq[String] = Seq(
    "series" -> Seq("wall_s", "jobs", "exec_cpu_s"),
    "gen.fit" -> Seq("wall_s", "jobs", "driver_only_s"),
    "gen.generate" -> Seq("wall_s", "construct_s", "jobs", "driver_only_s", "exec_cpu_s"),
    "eval.distribution" -> Seq("wall_s", "jobs", "driver_only_s", "exec_cpu_s"),
    "eval.composite" -> Seq("wall_s", "jobs", "driver_only_s", "exec_cpu_s",
      "shuffle_mb", "spill_mb", "task_skew"),
    "eval.predictive" -> Seq("wall_s", "jobs", "driver_only_s", "mllib_jobs"),
    "opt" -> Seq("wall_s", "jobs", "exec_cpu_s"),
    "cli" -> Seq("wall_s", "jobs", "driver_only_s", "exec_cpu_s"),
    "text" -> Seq("wall_s", "jobs", "exec_cpu_s"),
    "sim" -> Seq("wall_s", "jobs", "exec_cpu_s", "shuffle_mb"),
    "core" -> Seq("wall_s", "jobs", "exec_cpu_s"),
    "io" -> Seq("wall_s", "jobs", "exec_cpu_s"),
  ).flatMap { case (l, ks) => ks.map(k => s"$l.$k") } ++
    Seq("unattributed_jobs", "trace_overhead_frac")

  def unit(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_frac") || metric.endsWith("task_skew")) "ratio"
    else "count"

  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(.*$""".r

  /** The module a call site belongs to: its innermost frame that is a
    * DataFrameReader/Writer (`io`), Spark ML (`mllib`) or `graft.<m>`
    * (`m`); `bench` when only the benchmark's own frames call Spark. */
  def moduleOf(callSite: String): String = {
    val classes = callSite.split("\n").iterator.collect { case Frame(c) => c }
    classes.collectFirst {
      case c if c.matches("""org\.apache\.spark\.sql\.(classic\.)?DataFrame(Writer|Reader).*""") => "io"
      case c if c.startsWith("org.apache.spark.ml.") => "mllib"
      case c if c.startsWith("graft.") =>
        c.split('.') match {
          case Array(_, m, _, _*) => m
          case _ => "graft"
        }
      case c if c.startsWith("perfbench.") => "bench"
    }.getOrElse("unknown")
  }

  private def skew(runMs: Seq[Long]): Double =
    if (runMs.isEmpty) 0.0
    else runMs.max / math.max(1.0, Stats.median(runMs.map(_.toDouble)))

  /** Length of the union of [a, b) intervals (ms). */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  /** `iv` minus `cut`, both lists of [a, b) intervals. */
  private def subtract(iv: (Long, Long), cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    cut.filter(c => c._2 > iv._1 && c._1 < iv._2).sortBy(_._1)
      .foldLeft(Seq(iv)) { (acc, c) =>
        acc.flatMap { case (a, b) =>
          Seq((a, math.min(b, c._1)), (math.max(a, c._2), b)).filter(x => x._2 > x._1)
        }
      }

  /** Totals over one traced window. */
  def metrics(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec]): Map[String, Double] = {
    val byJob = tasks.groupBy(_.jobId)
    val jobSpan: Map[Int, Option[Span]] = jobs.map { j =>
      j.id -> spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => (s.startNs, s.id)).lastOption
    }.toMap
    val jobModule = jobs.map(j => j.id -> moduleOf(j.callSite)).toMap
    val children = spans.groupBy(_.parent)
    val jobIv = jobs.map(j => (j.startMs, j.endMs))

    def taskStats(js: Seq[JobRec], prefix: String): Map[String, Double] = {
      val ts = js.flatMap(j => byJob.getOrElse(j.id, Nil))
      Map(
        s"$prefix.jobs" -> js.length.toDouble,
        s"$prefix.exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        s"$prefix.shuffle_mb" -> ts.map(_.shuffleWriteBytes).sum / 1e6,
        s"$prefix.spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
        s"$prefix.task_skew" -> skew(ts.map(_.runMs)))
    }

    val spanPart = SpanLayers.flatMap { layer =>
      val ss = spans.filter(_.layer == layer)
      val selfNs = ss.map { s =>
        (s.endNs - s.startNs) - children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      }.sum
      val driverOnlyMs = ss.map { s =>
        val self = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
          .foldLeft(Seq((s.startMs, s.endMs)))((acc, c) => acc.flatMap(subtract(_, Seq(c))))
        self.map(iv => subtract(iv, jobIv).map(x => x._2 - x._1).sum).sum
      }.sum
      val js = jobs.filter(j => jobSpan(j.id).exists(_.layer == layer))
      Map(
        s"$layer.wall_s" -> selfNs / 1e9,
        s"$layer.construct_s" -> ss.map(s => s.constructNs - s.startNs).sum / 1e9,
        s"$layer.driver_only_s" -> driverOnlyMs / 1e3) ++ taskStats(js, layer)
    }.toMap

    // the benchmark's own checks read the program's output: not the program's io
    val checkJob = jobs.filter(j => jobSpan(j.id).exists(_.layer.startsWith("bench"))).map(_.id).toSet
    val modulePart = ModuleLayers.flatMap { m =>
      val js = jobs.filter(j => jobModule(j.id) == m && !checkJob(j.id))
      Map(s"$m.wall_s" -> covered(js.map(j => (j.startMs, j.endMs))) / 1e3) ++
        taskStats(js, m)
    }.toMap

    spanPart ++ modulePart ++ Map(
      "eval.predictive.mllib_jobs" -> jobs.count(j =>
        jobSpan(j.id).exists(_.layer == "eval.predictive") && jobModule(j.id) == "mllib").toDouble,
      "unattributed_jobs" -> jobs.count(j => jobSpan(j.id).isEmpty).toDouble)
  }

  /** Jobs per module, for the record; the call sites that name no known
    * frame are listed (first frames), so a gap in attribution shows. */
  def moduleJobs(jobs: Seq[JobRec]): Map[String, Any] =
    jobs.groupBy(j => moduleOf(j.callSite)).map { case (m, js) => m -> js.length } ++
      Map("unknown_sites" -> jobs.filter(j => moduleOf(j.callSite) == "unknown")
        .map(_.callSite.split("\n").take(3).mkString(" | ")).distinct.take(5))
}
