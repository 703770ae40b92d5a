package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.cli.{Cli, GraftConfig}
import graft.eval.{CompositeMetric, DistributionEvaluator, PredictiveEvaluator}
import graft.gen.{BlockBootstrap, Grasynda, RegimeBootstrap, RegimeConditional}
import graft.opt.SweepOptimizer
import graft.series.{SeriesOps, SeriesSpec}

/** One workload: set-up writes the seed's inputs and prepares them, a
  * pass is the client's unit of repeated work. A pass returns one digest
  * per checked operation; every pass must reproduce the warm-up pass's
  * digests exactly. */
trait Workload {
  def setup(dir: Path): Unit
  /** The pass's digests by operation, or None when an operation failed. */
  def pass(client: Client, dir: Path): Option[Map[String, String]]
  /** Client operations whose latencies are this workload's items. */
  def itemPrefix: Option[String] = None
  def inputProps: Map[String, Any]
  /** Drop what set-up cached, before the next set-up or the end. */
  def release(): Unit = ()
}

object Workload {
  val Names: Seq[String] = Seq("eval_matrix", "curate")

  def apply(name: String, spark: SparkSession, seed: Long, trace: Tracer): Workload =
    name match {
      case "eval_matrix" => new EvalMatrix(spark, seed, trace)
      case "curate" => new Curate(spark, seed, trace)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${Names.mkString(", ")})")
    }

  /** Six significant digits: stable across the float reassociation an
    * aggregation's merge order may cause, sharp enough to catch a wrong
    * result. */
  def round6(x: Double): String = f"$x%.6g"

  def finite(m: Map[String, Double]): Option[String] =
    m.collectFirst { case (k, v) if !v.isFinite => s"$k is $v" }

  /** The numeric fields of a row; a null one reads as NaN, so that
    * `finite` refuses it. */
  def rowValues(r: Row): Map[String, Double] =
    r.schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType.isInstanceOf[NumericType] =>
        f.name -> (if (r.isNullAt(i)) Double.NaN else r.getAs[Number](i).doubleValue)
    }.toMap

  def digest(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${round6(v)}" }.mkString(";")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** The reference's flagship matrix: generator × seed cells against one
  * real series, then the predictive-utility test and a random sweep.
  * Driver round-trips bound it. */
final class EvalMatrix(spark: SparkSession, seed: Long, trace: Tracer) extends Workload {
  import Workload._
  private val Order = Seq("DATE_TIME")
  private val Price = "typical_price"
  /** Bars per generated series: the reference's n_samples. */
  private val GenBars = 1575
  private val CellSeeds = Seq(1L)
  /** Cell generators: the two whose generation runs Spark work. All four
    * are fitted every pass; grasynda generates for the predictive test and
    * scores every sweep configuration. */
  private val Generators = Seq("block_bootstrap", "regime_bootstrap")

  private var real: DataFrame = _
  private var realIndexed: DataFrame = _
  private var realReturns: Array[Double] = _
  private var props: Map[String, Any] = Map.empty

  def inputProps: Map[String, Any] = props
  override def itemPrefix: Option[String] = Some("cell:")

  def setup(dir: Path): Unit = {
    val s = Inputs.priceSeries(seed)
    props = Inputs.priceProps(s) ++ Map("cells_per_pass" -> Generators.length * CellSeeds.length,
      "generated_bars" -> GenBars)
    val path = dir.resolve("prices.parquet").toString
    import spark.implicits._
    s.epochSec.indices.map(i => (s.epochSec(i), s.price(i))).toDF("ts", Price)
      .select(timestamp_seconds(col("ts")).as("DATE_TIME"), col(Price))
      .coalesce(1).write.parquet(path)
    real = spark.read.parquet(path).cache()
    realReturns = returns.orderBy(col("DATE_TIME")).select(col("ret")).collect().map(_.getDouble(0))
    realIndexed = real
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(Order.map(col): _*)))
      .select(col("rn"), col(Price))
      .cache()
    realIndexed.count()
  }

  private def returns: DataFrame = trace.call("series")(
    SeriesOps.logReturns(real, SeriesSpec(Nil, Order), Price, "ret").filter(col("ret").isNotNull))

  override def release(): Unit = {
    Option(realIndexed).foreach(_.unpersist())
    Option(real).foreach(_.unpersist())
  }

  /** Fits every generator once, as the reference's matrix does per run. */
  private def fit(): Map[String, Long => DataFrame] = {
    val grasynda = trace.call("gen.fit")(Grasynda.fit(returns, Order, "ret", nBins = 10))
    val regime = trace.call("gen.fit")(RegimeConditional.fit(real, Order, Price, nRegimes = 3))
    val hybrid = trace.call("gen.fit")(RegimeBootstrap.fit(real, Order, Price, nRegimes = 3))
    Map(
      "block_bootstrap" -> (sd => BlockBootstrap.generate(real, Order, Price, 30, GenBars, sd)),
      "grasynda" -> (sd => Grasynda.generate(spark, grasynda, sd, GenBars, 100.0)),
      "regime_conditional" -> (sd => RegimeConditional.generate(spark, regime, sd, GenBars, 100.0)),
      "regime_bootstrap" -> (sd => RegimeBootstrap.generate(spark, hybrid, sd, GenBars, 100.0)))
  }

  private def synth(generate: Map[String, Long => DataFrame], gen: String, sd: Long): DataFrame =
    trace.call("gen.generate")(generate(gen)(sd))
      .select(col("rn"), col("typical_price").as(Price))

  def pass(client: Client, dir: Path): Option[Map[String, String]] =
    client.op("fit")(fit()).flatMap { case (generate, _) => matrix(client, generate) }

  private def matrix(client: Client, generate: Map[String, Long => DataFrame]): Option[Map[String, String]] = {
    val cells = for (gen <- Generators; sd <- CellSeeds) yield
      client.checked(s"cell:$gen:$sd") {
        val sy = synth(generate, gen, sd)
        val d = trace("eval.distribution")(
          DistributionEvaluator.evaluate(realIndexed, sy, Seq("rn"), Price, withAdf = false))(_.first())
        val c = trace("eval.composite")(
          CompositeMetric.scoreDf(realIndexed, sy, Seq("rn"), Price))(_.first())
        rowValues(d).map { case (k, v) => s"dist.$k" -> v } ++
          rowValues(c).map { case (k, v) => s"comp.$k" -> v }
      }(finite).map { case (m, _) => s"cell:$gen:$sd" -> digest(m) }

    val n = realReturns.length + 1
    val predictive = client.checked("predictive") {
      val train = realIndexed.filter(col("rn") <= n * 70 / 100)
      val valid = realIndexed.filter(col("rn") > n * 70 / 100 && col("rn") <= n * 85 / 100)
      val test = realIndexed.filter(col("rn") > n * 85 / 100)
      rowValues(trace("eval.predictive")(
        PredictiveEvaluator.evaluate(synth(generate, "grasynda", 7L), train, valid, test,
          Seq("rn"), Price, windowSize = 24, horizon = 1, seed = seed, maxIter = 3))(
        _.first()))
    }(finite).map { case (m, _) => "predictive" -> digest(m) }

    val sweep = client.checked("sweep") {
      trace("opt")(SweepOptimizer.randomSweep(spark, realReturns,
        nBinsChoices = Seq(5, 8, 10, 15, 20), smoothChoices = Seq(0.0, 0.2, 0.5),
        nConfigs = 8, seeds = Seq(1L, 2L, 3L), genN = GenBars, seed = seed))(_.collect())
    } { rs =>
      if (rs.isEmpty) Some("empty sweep")
      else finite(rs.map(r => s"${r.getInt(0)}" -> r.getDouble(3)).toMap)
    }.map { case (rs, _) =>
      "sweep" -> rs.map(r => s"${r.getInt(0)}:${round6(r.getDouble(3))}").mkString(",")
    }

    val all = cells ++ Seq(predictive, sweep)
    if (all.forall(_.isDefined)) Some(all.flatten.toMap) else None
  }
}

/** The training-data path: one `--mode curate` run over today's seeded
  * documents, incremental against the seen register of earlier days —
  * exact, near and semantic dedup, quality and Gopher gates, token-budget
  * mixture, chunking, packing, the parquet output and the new register.
  * Text kernels, pair joins and io in one driver-bound pipeline. */
final class Curate(spark: SparkSession, seed: Long, trace: Tracer) extends Workload {
  import Workload._
  private val Spec = Inputs.CorpusSpec(docs = 500, priorDocs = 800)
  private var docs: String = _
  private var register: String = _
  private var budget = 0L
  private var expectedInput = 0L
  private var registerRows = 0L
  private var props: Map[String, Any] = Map.empty

  def inputProps: Map[String, Any] = props

  def setup(dir: Path): Unit = {
    val (prior, today) = Inputs.corpus(seed, Spec)
    props = Inputs.corpusProps(prior, today, Spec.sources)
    // with equal weights, a budget of half the leanest source's mass per
    // source keeps every source a downsample (no epoch copies), so each
    // document lands in the output at most once
    budget = Inputs.minSourceUniqueWords(today, Spec.sources) * Spec.sources / 2
    require(budget > 0, "a source has no unique document")
    val priorTexts = prior.map(_.text).toSet
    expectedInput = today.count(d => !priorTexts.contains(d.text)).toLong
    import spark.implicits._
    docs = dir.resolve("docs.parquet").toString
    // the register an earlier curate run leaves: (seen_id, text_md5) of
    // its exact-dedup survivors, the first id of each distinct text
    register = dir.resolve("prior_seen.parquet").toString
    today.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source").write.parquet(docs)
    val seen = prior.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("text_md5")).agg(min(col("doc_id")).as("seen_id"))
      .select("seen_id", "text_md5")
    seen.write.parquet(register)
    registerRows = prior.map(_.text).distinct.length.toLong
  }

  private def config(out: String): GraftConfig =
    GraftConfig.defaults ++ Map(
      "mode" -> "curate", "input_docs" -> docs, "output" -> out,
      "incremental_from" -> register.stripSuffix("_seen.parquet"),
      "metrics_out" -> s"${out}_metrics.json", "source_col" -> "source",
      "near_threshold" -> "0.7", "semantic_threshold" -> "0.9",
      "gopher_min_stop" -> "2", "min_tokens" -> "20", "max_rep_ratio" -> "0.5",
      "mixture_target" -> (0 until Spec.sources).map(i => f"src$i%02d:0.05").mkString(","),
      "token_budget" -> budget.toString, "chunk_window" -> "480",
      "chunk_stride" -> "384", "pack_budget" -> "2048")

  private def funnel(out: String): Map[String, Double] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${out}_metrics.json"))
    val it = m.fields()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
    b.result()
  }

  /** Checks the run's output against its funnel, its input and the
    * register; returns the digest values. A document is chunked into
    * chunk_id 0..k, so it appears once when its rows are exactly that run
    * with no chunk twice. */
  private def check(out: String): Map[String, Double] = trace.call("bench.check") {
    val f = funnel(out)
    val o = spark.read.parquet(out)
    val r = o.groupBy("doc_id").agg(count(lit(1)).as("n"),
        countDistinct(col("chunk_id")).as("nd"), max(col("chunk_id")).as("mx"),
        sum(xxhash64(col("doc_id"), col("chunk"))).as("h"))
      .agg(sum(col("n")), sum(when(col("n") =!= col("nd") || col("n") =!= col("mx") + 1, 1)
        .otherwise(0)), sum(col("h"))).first()
    val rows = r.getLong(0)
    require(rows > 0, "empty output")
    require(r.getLong(1) == 0, s"${r.getLong(1)} doc_ids appear more than once in the output")
    require(f("n_chunks") == rows, s"funnel n_chunks ${f("n_chunks")} != $rows output rows")
    require(f("n_input") == expectedInput,
      s"funnel n_input ${f("n_input")} != $expectedInput documents not seen before")
    val seenRows = spark.read.parquet(s"${out}_seen.parquet").count()
    require(seenRows == registerRows + f("n_after_exact_dedup"),
      s"new register has $seenRows rows, expected $registerRows earlier + " +
        s"${f("n_after_exact_dedup")} exact-dedup survivors")
    // today's ids are new, so a document already seen can only come back
    // through its text
    val leaked = o.select("doc_id").distinct().join(spark.read.parquet(docs), "doc_id")
      .join(spark.read.parquet(register), md5(col("text")) === col("text_md5")).count()
    require(leaked == 0, s"$leaked output documents were already in the seen register")
    f ++ Map("rows" -> rows.toDouble, "seen_rows" -> seenRows.toDouble,
      "hash" -> r.getLong(2).toDouble)
  }

  def pass(client: Client, dir: Path): Option[Map[String, String]] = {
    val out = dir.resolve("curated").toString
    var checkedValues = Map.empty[String, Double]
    client.checked("curate")(trace.call("cli")(Cli.run(spark, config(out)))) { _ =>
      checkedValues = check(out); None
    }.map(_ => Map("curate" -> digest(checkedValues)))
  }
}
