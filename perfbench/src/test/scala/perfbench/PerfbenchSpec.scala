package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("inputs are a pure function of the seed") {
    assert(Inputs.priceSeries(7).price.sameElements(Inputs.priceSeries(7).price))
    assert(!Inputs.priceSeries(7).price.sameElements(Inputs.priceSeries(8).price))
    val spec = Inputs.CorpusSpec(docs = 300, priorDocs = 200)
    assert(Inputs.corpus(7, spec) == Inputs.corpus(7, spec))
    assert(Inputs.corpus(7, spec) != Inputs.corpus(8, spec))
  }

  test("the price series has the requested size, regimes and order") {
    val s = Inputs.priceSeries(3)
    assert(s.price.length == Inputs.PriceBars)
    assert(s.epochSec.sliding(2).forall { case Array(a, b) => b - a == Inputs.BarSeconds })
    assert(s.price.forall(p => p > 0 && p.isFinite))
    val props = Inputs.priceProps(s)
    val shares = props("regime_shares").asInstanceOf[Seq[Double]]
    assert(shares.forall(_ > 0.1), s"every regime visited: $shares")
    // stay probability 0.985 over 7,376 bars: ~110 switches expected
    val switches = props("regime_switches").asInstanceOf[Int]
    assert(switches > 60 && switches < 170, s"$switches switches")
  }

  test("the corpus has the requested shares, sources and overlap") {
    val spec = Inputs.CorpusSpec(docs = 4000, priorDocs = 500)
    val (prior, today) = Inputs.corpus(11, spec)
    assert(prior.length == spec.priorDocs && today.length == spec.docs)
    assert((prior ++ today).map(_.id).distinct.length == prior.length + today.length)
    val props = Inputs.corpusProps(prior, today, spec.sources)
    assert(props("sources") == spec.sources)
    val shares = props("kind_shares").asInstanceOf[Map[String, Double]]
    def near(kind: String, want: Double): Unit =
      assert(math.abs(shares(kind) - want) < 0.03, s"$kind share ${shares(kind)}, requested $want")
    near("overlap", spec.overlapShare)
    near("exact_dup", spec.exactDupShare)
    near("near_dup", spec.nearDupShare)
    near("low_quality", spec.lowQualityShare)
    assert(math.abs(props("overlap_share").asInstanceOf[Double] - spec.overlapShare) < 0.03)
    val priorTexts = prior.map(_.text).toSet
    assert(today.filter(_.kind == "overlap").forall(d => priorTexts.contains(d.text)))
    assert(today.filter(_.kind == "unique").forall(d => !priorTexts.contains(d.text)))
    assert(Inputs.minSourceUniqueWords(today, spec.sources) > 0)
  }

  test("the tail percentile needs ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.percentile(xs, 75) == Stats.quantile(xs, 0.75))
    val e = intercept[IllegalArgumentException](Stats.percentile(xs, 90))
    assert(e.getMessage.contains("need >= 10"))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(1000).contains(99))
  }

  test("an operation that throws is counted as failed and never timed") {
    val c = new Client
    assert(c.op("ok")(1).map(_._1).contains(1))
    assert(c.op[Int]("boom")(throw new IllegalStateException("no")).isEmpty)
    assert(c.checked("bad output")(2)(v => Some(s"got $v")).isEmpty)
    assert(c.attempted == 3 && c.failed == 2)
    assert(c.timings.map(_._1) == Seq("ok"))
    assert(c.failureLog.map(_._1) == Seq("boom", "bad output"))
  }

  test("check time and CPU count in no operation, nested ones included") {
    var cpu = 0L
    val c = new Client(() => cpu)
    val outer = c.op("pass") {
      c.checked("inner") { cpu += 1000000000L; 1 } { _ =>
        cpu += 5000000000L; Thread.sleep(300); None
      }
    }
    val inner = outer.flatMap(_._1).get._2
    assert(inner.cpu == 1.0 && inner.wall < 0.2)
    assert(outer.get._2.cpu == 1.0 && outer.get._2.wall < 0.2, outer.get._2)
  }

  test("a pass that fails in the warm-up shows as failed in the summary") {
    val broken = new Workload {
      def setup(dir: java.nio.file.Path): Unit = ()
      def inputProps: Map[String, Any] = Map.empty
      def pass(client: Client, dir: java.nio.file.Path): Option[Map[String, String]] =
        client.op[Int]("cell")(throw new IllegalStateException("no")).map(_ => Map("cell" -> "1"))
    }
    val warm = new Client
    assert(Main.pass(broken, warm, Paths.get("."), "warmup", None).isEmpty)
    val (attempted, failed) = Main.totals(warm, new Client)
    assert(attempted == 2 && failed == 2)
    val line = new ObjectMapper().readTree(Main.summaryLine(correct = false, attempted, failed, Nil))
    assert(line.get("failed").asLong() >= 1 && line.get("attempted").asLong() >= 1)
  }

  test("a pass whose digests differ from the reference fails") {
    val fixed = new Workload {
      def setup(dir: java.nio.file.Path): Unit = ()
      def inputProps: Map[String, Any] = Map.empty
      def pass(client: Client, dir: java.nio.file.Path): Option[Map[String, String]] =
        Some(Map("cell" -> "1"))
    }
    val c = new Client
    assert(Main.pass(fixed, c, Paths.get("."), "pass", Some(Map("cell" -> "1"))).isDefined)
    assert(Main.pass(fixed, c, Paths.get("."), "pass", Some(Map("cell" -> "2"))).isEmpty)
    assert(c.failureLog.map(_._2) == Seq("check: digest differs from the warm-up pass for cell"))
  }

  test("a null metric reads as NaN and is refused as not finite") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("ks", DoubleType), StructField("n", LongType),
      StructField("name", StringType)))
    val row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](null, 3L, "x"), schema)
    val v = Workload.rowValues(row)
    assert(v.keySet == Set("ks", "n") && v("ks").isNaN && v("n") == 3.0)
    assert(Workload.finite(v).contains("ks is NaN"))
  }

  test("summary lines stay under 4 kB with every metric at full precision") {
    val long = 123456.78901234567
    val e2e = Main.EndToEnd.map { case (n, u) => (n, long, u) }
    val layers = Attribution.Summary.map(n => (n, long, Attribution.unit(n)))
    for (metrics <- Seq(e2e, layers)) {
      val line = Main.summaryLine(correct = true, attempted = Long.MaxValue,
        failed = Long.MaxValue, metrics)
      assert(line.getBytes("UTF-8").length < 4096, s"${line.length} bytes")
      val j = new ObjectMapper().readTree(line)
      assert(j.fieldNames().next() == "correct")
      assert(j.get("metrics").size() == metrics.length)
    }
  }

  test("BENCHMARK.json names exactly the metrics the summary lines print") {
    val f = Paths.get("..", "BENCHMARK.json")
    assume(Files.exists(f), "BENCHMARK.json sits at the checkout root")
    val j = new ObjectMapper().readTree(f.toFile)
    def named(key: String): Seq[(String, String)] = {
      val it = j.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    }
    assert(named("end_to_end") == Main.EndToEnd)
    assert(named("per_layer") == Attribution.Summary.map(n => n -> Attribution.unit(n)))
    val workloads = j.get("workloads").elements()
    assert(Iterator.continually(workloads).takeWhile(_.hasNext).map(_.next().get("name").asText())
      .toSeq == Workload.Names)
  }

  test("call sites map to their innermost known module") {
    val agg = "org.apache.spark.sql.Dataset.collect(Dataset.scala:10)\n" +
      "graft.stats.Divergence$.histJsd(Divergence.scala:40)\n" +
      "graft.eval.DistributionEvaluator$.evaluate(DistributionEvaluator.scala:230)"
    assert(Attribution.moduleOf(agg) == "stats")
    val gbt = "org.apache.spark.rdd.RDD.mapPartitions(RDD.scala:862)\n" +
      "org.apache.spark.ml.tree.impl.RandomForest$.findBestSplits(RandomForest.scala:674)\n" +
      "graft.eval.PredictiveEvaluator$.fitPredictor(PredictiveEvaluator.scala:60)"
    assert(Attribution.moduleOf(gbt) == "mllib")
    val write = "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)\n" +
      "graft.cli.Cli$.runCurate(Cli.scala:1009)"
    assert(Attribution.moduleOf(write) == "io")
    assert(Attribution.moduleOf("perfbench.Curate.check(Workloads.scala:1)") == "bench")
    val pool = "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)\n" +
      "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)"
    assert(Attribution.moduleOf(pool) == "unknown")
  }

  test("jobs belong to the innermost span holding their start; self and driver-only time") {
    // outer [0, 1000) ms with a child [200, 600); one job in each
    val spans = Seq(
      Span(0, -1, "eval.predictive", 0, 100, 1000, 0L, 100000000L, 1000000000L),
      Span(1, 0, "gen.generate", 200, 300, 600, 200000000L, 300000000L, 600000000L),
      Span(2, -1, "bench.check", 2000, 2000, 2100, 2000000000L, 2000000000L, 2100000000L))
    val read = "org.apache.spark.sql.DataFrameReader.parquet(DataFrameReader.scala:1)\n" +
      "perfbench.Curate.check(Workloads.scala:1)"
    val gbt = "org.apache.spark.ml.tree.impl.RandomForest$.run(RandomForest.scala:1)"
    val jobs = Seq(JobRec(1, 250, 350, "graft.gen.Grasynda$.fit(Grasynda.scala:1)"),
      JobRec(2, 700, 900, gbt), JobRec(3, 1500, 1600, ""), JobRec(4, 2010, 2050, read))
    val tasks = Seq(TaskRec(1, 10, 2000000000L, 1000000L, 0L), TaskRec(2, 30, 1000000000L, 0L, 0L),
      TaskRec(2, 10, 1000000000L, 0L, 0L))
    val m = Attribution.metrics(spans, jobs, tasks)
    assert(m("gen.generate.jobs") == 1 && m("eval.predictive.jobs") == 1)
    assert(m("eval.predictive.mllib_jobs") == 1)
    assert(m("unattributed_jobs") == 1)
    assert(m("io.jobs") == 0) // the check's read is the benchmark's, not the program's
    assert(m("gen.generate.exec_cpu_s") == 2.0 && m("gen.generate.shuffle_mb") == 1.0)
    assert(m("eval.predictive.wall_s") == 0.6) // 1.0 s minus the child's 0.4 s
    assert(m("eval.predictive.construct_s") == 0.1)
    assert(m("gen.generate.driver_only_s") == 0.3) // 0.4 s minus the job's 0.1 s
    assert(m("eval.predictive.driver_only_s") == 0.4) // self 0.6 s minus the 0.2 s job
    assert(m("eval.predictive.task_skew") == 30.0 / 20.0)
  }
}
