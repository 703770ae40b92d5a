package perfbench

import scala.util.Random

/** Seeded input generators. Each is a pure function of its seed, so a
  * seed names one input exactly and the program never sees anything but
  * the generated data. */
object Inputs {

  // ── eval_matrix: one regime-switching price series ──────────────────

  final case class PriceSeries(epochSec: Array[Long], price: Array[Double],
                               regime: Array[Int])

  /** Per-regime (drift, volatility) of a 4-hour log-return, and the
    * probability of staying in the regime at each bar. */
  val Regimes: Seq[(Double, Double)] =
    Seq((0.0002, 0.004), (0.0, 0.009), (-0.0004, 0.02))
  val StayProb = 0.985
  /** The size of the reference's d1 series: 4-hour bars. */
  val PriceBars = 7376
  val BarSeconds = 4 * 3600L
  val StartEpochSec = 1577836800L // 2020-01-01T00:00:00Z

  def priceSeries(seed: Long, n: Int = PriceBars): PriceSeries = {
    val rnd = new Random(seed)
    val ts = Array.tabulate(n)(i => StartEpochSec + i * BarSeconds)
    val price = new Array[Double](n)
    val regime = new Array[Int](n)
    var r = rnd.nextInt(Regimes.length)
    var p = 100.0
    var i = 0
    while (i < n) {
      if (i > 0 && rnd.nextDouble() > StayProb)
        r = (r + 1 + rnd.nextInt(Regimes.length - 1)) % Regimes.length
      val (mu, sigma) = Regimes(r)
      if (i > 0) p *= math.exp(mu + sigma * rnd.nextGaussian())
      price(i) = p
      regime(i) = r
      i += 1
    }
    PriceSeries(ts, price, regime)
  }

  def priceProps(s: PriceSeries): Map[String, Any] = {
    val n = s.price.length
    Map(
      "bars" -> n,
      "regime_shares" -> Regimes.indices.map(k => s.regime.count(_ == k).toDouble / n),
      "regime_switches" -> (1 until n).count(i => s.regime(i) != s.regime(i - 1)),
      "price_min" -> s.price.min, "price_max" -> s.price.max)
  }

  // ── curate: a daily increment against the register of earlier days ──

  final case class Doc(id: Long, source: String, text: String, kind: String)

  /** `priorDocs` earlier documents form the seen register; today's
    * `docs` carry the stated shares of exact duplicates, near-duplicates,
    * low-quality documents and copies of earlier documents (`overlap`). */
  final case class CorpusSpec(docs: Int, priorDocs: Int, sources: Int = 20,
                              exactDupShare: Double = 0.10,
                              nearDupShare: Double = 0.10,
                              lowQualityShare: Double = 0.10,
                              overlapShare: Double = 0.20)

  val Stopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in",
      "is", "it", "for", "on", "as", "was", "at", "by", "this", "from")

  private def vocabulary(rnd: Random, size: Int): Array[String] = {
    val syll = Array("ka", "lo", "mi", "ren", "sa", "tor", "vel", "du", "pra",
      "ne", "sil", "o", "ba", "ith", "cor", "an", "ves", "tum", "gra", "el")
    Array.fill(size)((0 until 2 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.length))).mkString)
  }

  private def sentence(rnd: Random, vocab: Array[String]): String = {
    val n = 8 + rnd.nextInt(13)
    val ws = (0 until n).map { _ =>
      if (rnd.nextDouble() < 0.35) Stopwords(rnd.nextInt(Stopwords.length))
      else vocab(math.min(vocab.length - 1, (vocab.length * math.pow(rnd.nextDouble(), 2.5)).toInt))
    }
    ws.mkString(" ") + "."
  }

  /** 60–250 words of prose-like sentences. */
  private def prose(rnd: Random, vocab: Array[String]): Vector[String] = {
    val target = 60 + rnd.nextInt(191)
    val b = Vector.newBuilder[String]
    var words = 0
    while (words < target) {
      val s = sentence(rnd, vocab); b += s; words += s.count(_ == ' ') + 1
    }
    b.result()
  }

  /** Word-level edit of ~2% of the words (at least one): a near-duplicate
    * by shingles. */
  private def edited(rnd: Random, vocab: Array[String], text: String): String = {
    val ws = text.split(" ")
    val k = math.max(1, ws.length / 50)
    (0 until k).foreach(_ => ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length)))
    ws.mkString(" ")
  }

  private def lowQuality(rnd: Random, vocab: Array[String]): String =
    if (rnd.nextBoolean()) // too short for the token gates
      (0 until 5 + rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ") + "."
    else { // one trigram repeated: repetition far above the gate
      val tri = Seq.fill(3)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      Seq.fill(20 + rnd.nextInt(30))(tri).mkString(" ") + "."
    }

  /** Earlier documents (all `unique`) and today's. Today's kinds, by the
    * spec's shares: `overlap` (an earlier document's text under a new id),
    * `exact_dup` (a copy of an earlier document of today), `near_dup`
    * (half word-edited, half sentence-shuffled copies — the latter differ
    * by shingles but not by bag of words), `low_quality` (too short or
    * repetitive) and `unique`. Ids are distinct across both. */
  def corpus(seed: Long, spec: CorpusSpec): (Seq[Doc], Seq[Doc]) = {
    val rnd = new Random(seed)
    val vocab = vocabulary(rnd, 3000)
    def src(): String = f"src${rnd.nextInt(spec.sources)}%02d"
    val prior = (0 until spec.priorDocs).map(i =>
      Doc(1000L + i, src(), prose(rnd, vocab).mkString(" "), "unique"))
    val uniques = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    val t1 = spec.overlapShare
    val t2 = t1 + spec.exactDupShare
    val t3 = t2 + spec.nearDupShare
    val t4 = t3 + spec.lowQualityShare
    val today = (0 until spec.docs).map { i =>
      val id = 1000L + spec.priorDocs + i
      val u = rnd.nextDouble()
      if (u < t1) Doc(id, src(), prior(rnd.nextInt(prior.length)).text, "overlap")
      else if (u < t2 && uniques.nonEmpty)
        Doc(id, src(), uniques(rnd.nextInt(uniques.length)).mkString(" "), "exact_dup")
      else if (u >= t2 && u < t3 && uniques.nonEmpty) {
        val base = uniques(rnd.nextInt(uniques.length))
        val text =
          if (rnd.nextBoolean()) edited(rnd, vocab, base.mkString(" "))
          else rnd.shuffle(base).mkString(" ")
        Doc(id, src(), text, "near_dup")
      } else if (u >= t3 && u < t4) Doc(id, src(), lowQuality(rnd, vocab), "low_quality")
      else {
        val p = prose(rnd, vocab); uniques += p
        Doc(id, src(), p.mkString(" "), "unique")
      }
    }
    (prior, today)
  }

  /** Words of `unique` documents in the leanest source: dedup and the
    * gates keep every unique document, so each source has at least this
    * much mass left for the mixture. */
  def minSourceUniqueWords(ds: Seq[Doc], sources: Int): Long = {
    val bySource = ds.filter(_.kind == "unique").groupBy(_.source)
      .map { case (s, d) => s -> d.map(_.text.count(_ == ' ') + 1L).sum }
    if (bySource.size < sources) 0L else bySource.values.min
  }

  def corpusProps(prior: Seq[Doc], today: Seq[Doc], sources: Int): Map[String, Any] = {
    val priorTexts = prior.map(_.text).toSet
    Map(
      "prior_docs" -> prior.length, "docs" -> today.length,
      "sources" -> today.map(_.source).distinct.length,
      "kind_shares" -> today.groupBy(_.kind).map { case (k, v) => k -> v.length.toDouble / today.length },
      "overlap_share" -> today.count(d => priorTexts.contains(d.text)).toDouble / today.length,
      "words" -> today.map(_.text.count(_ == ' ') + 1L).sum,
      "min_source_unique_words" -> minSourceUniqueWords(today, sources))
  }
}
