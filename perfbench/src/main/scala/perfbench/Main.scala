package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

/** One benchmark run: start a session, set the workload up several
  * times, run one warm-up pass for the reference digests, then repeat
  * checked passes until `--seconds` have been measured. Prints one JSON
  * summary line last on stdout and writes the full record to a file.
  *
  *   perfbench.Main --workload eval_matrix --seed 1 --seconds 20
  *     --trace 0 --work <dir> --record <file>
  *
  * With `--trace 1`, untraced and traced passes alternate: the summary
  * carries per-layer metrics (means over the traced passes) and the
  * tracing overhead, a traced pass's wall over its untraced neighbours'. */
object Main {

  /** Set-ups per run; set-up time is their median, which leaves out the
    * first, cold one. */
  val SetupReps = 5
  /** Passes per run at least, whatever `--seconds` says; tracing runs
    * untraced, traced, untraced. */
  def minPasses(trace: Boolean): Int = if (trace) 3 else 1

  /** The end-to-end metrics and their units, in summary order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "exec_cpu_s" -> "s", "rss_peak_mb" -> "MB")

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, record: Path)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work", "record")
    require(args.length % 2 == 0 && kv.size * 2 == args.length && kv.keySet.subsetOf(known),
      s"usage: --workload <${Workload.Names.mkString("|")}> --seed <n> --seconds <s> " +
        "--trace <0|1> --work <dir> --record <file>")
    require(Workload.Names.contains(kv("workload")), s"unknown workload ${kv("workload")}")
    require(Set("0", "1").contains(kv.getOrElse("trace", "0")), "--trace takes 0 or 1")
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")), Paths.get(kv("record")))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The summary line: the four contract keys, each metric with its unit. */
  def summaryLine(correct: Boolean, attempted: Long, failed: Long,
                  metrics: Seq[(String, Double, String)]): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    metrics.foreach { case (n, v, u) => m.put(n, Map("value" -> v, "unit" -> u)) }
    val top = new java.util.LinkedHashMap[String, Any]()
    top.put("correct", correct); top.put("attempted", attempted)
    top.put("failed", failed); top.put("metrics", m)
    json.writeValueAsString(top)
  }

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  private def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("")

  final case class PassRun(wall: Double, cpu: Double, traced: Boolean)

  /** One checked pass: it fails when one of its operations failed, or
    * when its digests differ from the reference's. */
  def pass(wl: Workload, client: Client, dir: Path, name: String,
           reference: Option[Map[String, String]]): Option[(Map[String, String], Cost)] =
    client.checked(name)(wl.pass(client, dir)) {
      case None => Some("an operation of the pass failed")
      case Some(d) => reference.filter(_ != d).map { ref =>
        val bad = (d.keySet ++ ref.keySet).filter(key => d.get(key) != ref.get(key))
        s"digest differs from the warm-up pass for ${bad.toSeq.sorted.mkString(", ")}"
      }
    }.map { case (d, cost) => (d.get, cost) }

  /** Attempted and failed operations of the whole run, warm-up included:
    * a program that fails in the warm-up fails the run visibly. */
  def totals(clients: Client*): (Long, Long) =
    (clients.map(_.attempted).sum, clients.map(_.failed).sum)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    val record = new java.util.LinkedHashMap[String, Any]()
    record.put("workload", o.workload); record.put("seed", o.seed)
    record.put("seconds", o.seconds); record.put("trace", o.trace)
    record.put("nproc", nproc); record.put("loadavg_before", loadavg())

    val t0 = System.nanoTime()
    val spark = graft.core.Tables.localSession(nproc, "perfbench")
    record.put("session_start_s", (System.nanoTime() - t0) / 1e9)
    record.put("spark_version", spark.version)
    record.put("java_version", System.getProperty("java.version"))
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer
    val wl = Workload(o.workload, spark, o.seed, tracer)
    try run(o, spark, wl, tracer, listener, record)
    finally {
      wl.release()
      spark.stop()
    }
    sys.exit(0)
  }

  /** What one traced window leaves: its layer metrics, and for the record
    * its spans and jobs per call-site module. */
  final case class Traced(metrics: Map[String, Double], spans: Seq[Span],
                          moduleJobs: Map[String, Any]) {
    def spanRecords: Seq[Map[String, Any]] = spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "start_ms" -> s.startMs,
      "construct_ms" -> s.constructMs, "end_ms" -> s.endMs))
  }

  /** Traced-window bookkeeping: spans and detailed job capture go on
    * together and come off together. */
  private def window[A](traced: Boolean, tracer: Tracer, listener: JobListener,
                        spark: SparkSession)(f: => A): (A, Option[Traced]) = {
    ListenerDrain(spark.sparkContext)
    tracer.enabled = traced; listener.detailed = traced
    val a = try f finally { tracer.enabled = false }
    ListenerDrain(spark.sparkContext)
    listener.detailed = false
    val (jobs, tasks) = listener.drain()
    val spans = tracer.drain()
    (a, if (!traced) None
        else Some(Traced(Attribution.metrics(spans, jobs, tasks), spans, Attribution.moduleJobs(jobs))))
  }

  private def run(o: Opts, spark: SparkSession, wl: Workload, tracer: Tracer,
                  listener: JobListener, record: java.util.LinkedHashMap[String, Any]): Unit = {
    Files.createDirectories(o.work)
    // ── set-up, several times: the median is the set-up time ──────────
    val setupTimes = (0 until SetupReps).map { rep =>
      wl.release()
      val dir = o.work.resolve(s"input-$rep")
      if (rep > 0) Workload.deleteTree(o.work.resolve(s"input-${rep - 1}"))
      Files.createDirectories(dir)
      val t = System.nanoTime(); wl.setup(dir); (System.nanoTime() - t) / 1e9
    }
    record.put("setup_reps_s", setupTimes)
    record.put("inputs", wl.inputProps)

    // ── warm-up pass: JIT and caches settle; its digests are the reference
    val cpuNs = () => { ListenerDrain(spark.sparkContext); listener.executorCpuNs }
    val warm = new Client(cpuNs)
    val warmDir = o.work.resolve("warmup")
    val tw = System.nanoTime()
    val reference = pass(wl, warm, warmDir, "warmup", None).map(_._1)
    record.put("warmup_s", (System.nanoTime() - tw) / 1e9)
    record.put("warmup_failures", warm.failureLog.map { case (n, m) => Map("op" -> n, "error" -> m) })
    Workload.deleteTree(warmDir)

    // ── measured passes ────────────────────────────────────────────────
    val client = new Client(cpuNs)
    val runs = ArrayBuffer.empty[PassRun]
    val layerWindows = ArrayBuffer.empty[Traced]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var k = 0
    var lastWall = 0.0
    while (reference.isDefined &&
           (k < minPasses(o.trace) || elapsed + lastWall / 2 < o.seconds)) {
      val traced = o.trace && k % 2 == 1
      val dir = o.work.resolve(s"pass-$k")
      val (r, layers) = window(traced, tracer, listener, spark) {
        pass(wl, client, dir, "pass", reference)
      }
      r.foreach { case (_, cost) =>
        runs += PassRun(cost.wall, cost.cpu, traced); lastWall = cost.wall
      }
      layers.foreach(layerWindows += _)
      Workload.deleteTree(dir)
      k += 1
    }
    record.put("measured_s", elapsed)
    record.put("passes", runs.map(p => Map("wall_s" -> p.wall, "exec_cpu_s" -> p.cpu, "traced" -> p.traced)))

    val (attempted, failed) = totals(warm, client)
    val correct = reference.isDefined && failed == 0 && runs.nonEmpty
    record.put("attempted", attempted); record.put("failed", failed)
    record.put("failed_frac", failed.toDouble / attempted)
    record.put("op_seconds", client.timings.groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2) })
    record.put("failures", client.failureLog.map { case (n, m) => Map("op" -> n, "error" -> m) })

    // per-item latency (eval_matrix cells) with its tail percentile
    wl.itemPrefix.foreach { prefix =>
      val items = client.timings.collect { case (n, t) if n.startsWith(prefix) => t }
      val tail = Stats.tailPercentile(items.length)
      record.put("items", Map(
        "count" -> items.length,
        "p50_s" -> (if (items.isEmpty) Double.NaN else Stats.median(items)),
        "tail_percentile" -> tail.getOrElse(-1),
        "tail_s" -> tail.map(p => Stats.percentile(items, p)).getOrElse(Double.NaN)))
    }

    val untraced = runs.filterNot(_.traced)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val m = Map(
          "setup_s" -> Stats.median(setupTimes),
          "wall_s" -> (if (untraced.isEmpty) Double.NaN else Stats.median(untraced.map(_.wall).toSeq)),
          "exec_cpu_s" -> (if (untraced.isEmpty) Double.NaN else Stats.median(untraced.map(_.cpu).toSeq)),
          "rss_peak_mb" -> procStatusKb("VmHWM") / 1024.0)
        EndToEnd.map { case (n, u) => (n, m(n), u) }
      } else {
        val traced = runs.filter(_.traced)
        val windows = layerWindows.map(_.metrics)
        val perPass = Attribution.MetricNames.map { key =>
          key -> windows.map(_.getOrElse(key, 0.0)).sum / math.max(1, windows.length)
        }.toMap ++ Map(
          // each traced pass against the mean of the untraced passes on
          // either side: passes still speed up after the warm-up pass, and
          // the mean cancels that drift where it is linear
          "trace_overhead_frac" -> {
            val ratios = runs.indices.collect {
              case i if runs(i).traced && i > 0 && i + 1 < runs.length &&
                  !runs(i - 1).traced && !runs(i + 1).traced =>
                runs(i).wall / ((runs(i - 1).wall + runs(i + 1).wall) / 2) - 1
            }
            if (ratios.isEmpty) Double.NaN else Stats.median(ratios)
          })
        record.put("per_layer", perPass)
        record.put("module_jobs", layerWindows.map(_.moduleJobs))
        record.put("spans", layerWindows.map(_.spanRecords))
        Attribution.Summary.map(n => (n, perPass(n), Attribution.unit(n)))
      }
    record.put("loadavg_after", loadavg())
    record.put("metrics", metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    Files.createDirectories(o.record.getParent)
    json.writerWithDefaultPrettyPrinter().writeValue(o.record.toFile, record)

    // a metric with no measurement (no pass succeeded) prints as 0 under
    // correct=false: JSON has no NaN
    val ok = correct && metrics.forall(_._2.isFinite)
    println(summaryLine(ok, attempted, failed,
      metrics.map { case (n, v, u) => (n, if (v.isFinite) v else 0.0, u) }))
  }
}
