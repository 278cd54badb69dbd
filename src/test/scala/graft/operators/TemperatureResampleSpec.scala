package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for [[Sampling.temperatureResample]]'s temperature
  * edges — the rate math the mixture family leans on:
  *
  *  - τ = 1: weights = the counts themselves, so every keep rate is
  *    exactly `mod` and the corpus passes through WHOLE (proportional
  *    sampling of a corpus is the corpus).
  *  - τ → ∞: weights → 1, rates → (min n)/n_s — each source's expected
  *    kept mass is the scarcest source's count (uniform-over-sources).
  *  - monotone flattening: rates are (n_min/n_s)^(1-1/τ), decreasing in
  *    τ for every non-scarcest source, so a hotter run's kept set NESTS
  *    inside a cooler run's, per source — checked on seeded random
  *    corpora across a τ ladder.
  *  - the scarcest source is kept (essentially) whole at every τ.
  */
class TemperatureResampleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def corpus(sizes: Map[String, Int]) = {
    import spark.implicits._
    var id = 0L
    sizes.toSeq.sortBy(_._1).flatMap { case (s, n) =>
      (1 to n).map { _ => id += 1; (id, s) }
    }.toDF("doc_id", "source")
  }

  private def keptBySource(df: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).map { case (s, rows) => s -> rows.map(_._1).toSet }

  test("tau = 1 reproduces proportional sampling: the corpus passes through whole") {
    val sizes = Map("en" -> 400, "de" -> 90, "zh" -> 25)
    val df = corpus(sizes)
    val kept = keptBySource(Sampling.temperatureResample(df, "doc_id", "source", tau = 1.0))
    assert(kept.view.mapValues(_.size).toMap ==
      sizes.map { case (s, n) => s -> n },
      "tau=1 must keep every row of every source")
  }

  test("tau -> infinity flattens to uniform-over-sources") {
    val sizes = Map("en" -> 900, "de" -> 400, "zh" -> 100)
    val df = corpus(sizes)
    val kept = keptBySource(
      Sampling.temperatureResample(df, "doc_id", "source", tau = 1e12))
    val minN = sizes.values.min
    for ((s, ids) <- kept) {
      // kept_s ~ Binomial(n_s, minN/n_s): expectation minN, sd <= sqrt(minN)
      val sd = math.sqrt(minN.toDouble)
      assert(math.abs(ids.size - minN) <= 4 * sd,
        s"$s kept ${ids.size}, expected ~$minN (uniform share)")
    }
  }

  test("hotter temperatures nest inside cooler ones; the scarcest source stays whole") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 10) {
      val nSources = 2 + rnd.nextInt(4)
      val sizes = (1 to nSources)
        .map(i => s"s$i" -> (20 + rnd.nextInt(500))).toMap
      val df = corpus(sizes).cache()
      try {
        val taus = Seq(1.5, 2.0, 4.0, 16.0)
        val runs = taus.map(t => t ->
          keptBySource(Sampling.temperatureResample(df, "doc_id", "source", tau = t)))
        val minSource = sizes.minBy { case (s, n) => (n, s) }._1
        for ((t, kept) <- runs) {
          // rate_min = w_min * (n_min/w_min) / n_min * mod = mod up to one
          // ulp of double rounding: at worst ONE bucket (mod - 1) can fall
          // out, never a visible downsample
          val keptMin = kept.getOrElse(minSource, Set.empty).size
          assert(keptMin >= sizes(minSource) - 1,
            s"trial $trial tau=$t: scarcest $minSource kept $keptMin of ${sizes(minSource)}")
        }
        for (Seq((t1, k1), (t2, k2)) <- runs.sliding(2)) {
          for (s <- sizes.keys) {
            val (a, b) = (k1.getOrElse(s, Set.empty), k2.getOrElse(s, Set.empty))
            assert(b.subsetOf(a),
              s"trial $trial: $s kept-set at tau=$t2 must nest in tau=$t1")
          }
        }
      } finally df.unpersist(blocking = false)
    }
  }
}
