package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact/approx parity for the two corpus-sized percentile sites in
  * [[QualityQueries]] and [[AuditQueries]] — the AdaptiveGateSpec contract extended to the quartile
  * bucketing family. The exact paths are what the oracle hash-checks
  * (q_perplexity_buckets, q_doc_percentiles); the approx paths
  * (`percentile_approx`, bounded memory per group, map-side combinable)
  * are the 100 TB deployment. Contracts:
  *
  *  - perplexityBuckets: a document's bucket may flip ONLY between the
  *    two buckets adjacent to a quartile boundary, and only when its
  *    score falls between the exact and approx threshold of that SAME
  *    boundary — rank-epsilon at the cut, never head→tail.
  *  - docPercentiles: per-language approx percentiles are genuine order
  *    statistics of the language's multiset, within the value span the
  *    1/accuracy rank error permits around the exact cut.
  */
class PercentileParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.01"

  test("approx perplexityBuckets flips only rank-epsilon docs at a shared boundary") {
    val exact = QualityQueries.perplexityBuckets(spark, dir, exact = true)
      .select("doc_id", "lang", "lm_score", "bucket").cache()
    val approx = QualityQueries.perplexityBuckets(spark, dir, exact = false,
      accuracy = 10000)
      .select(col("doc_id"), col("bucket").as("bucket_a"))

    try {
      val total = exact.count()
      val joined = exact.join(approx, "doc_id").cache()
      try {
        // same universe: approx changes thresholds, never the doc set
        assert(joined.count() == total)

        val flips = joined.filter(col("bucket") =!= col("bucket_a"))
          .collect()
        // adjacency: head↔middle or middle↔tail only — an approx cut
        // at one quartile can never throw a doc across BOTH quartiles
        val legal = Set(("head", "middle"), ("middle", "head"),
          ("middle", "tail"), ("tail", "middle"))
        flips.foreach { r =>
          val pair = (r.getString(3), r.getString(4))
          assert(legal(pair), s"doc ${r.getLong(0)} flipped $pair")
        }

        // each flip sits between the exact and approx threshold of the
        // boundary it crossed, for its own language
        def thr(exactMode: Boolean) = {
          val docs = graft.Tables.documents(spark, dir)
          val scored = graft.operators.TextAnalysis
            .lmScore(docs, "text", "doc_id")
          val withLang = docs.select(col("doc_id"), col("lang"))
            .join(scored.select(col("doc_id"), col("lm_score")), Seq("doc_id"))
          val q = if (exactMode)
            withLang.groupBy("lang").agg(
              percentile(col("lm_score"), lit(0.75)).as("q75"),
              percentile(col("lm_score"), lit(0.25)).as("q25"))
          else
            withLang.groupBy("lang").agg(
              percentile_approx(col("lm_score"), lit(0.75), lit(10000)).as("q75"),
              percentile_approx(col("lm_score"), lit(0.25), lit(10000)).as("q25"))
          q.collect().map(r => r.getString(0) ->
            (r.getDouble(1), r.getDouble(2))).toMap
        }
        val eThr = thr(exactMode = true)
        val aThr = thr(exactMode = false)

        flips.foreach { r =>
          val (lang, score) = (r.getString(1), r.getDouble(2))
          val crossedHead = Set(r.getString(3), r.getString(4)) == Set("head", "middle")
          val (e, a) =
            if (crossedHead) (eThr(lang)._1, aThr(lang)._1)
            else (eThr(lang)._2, aThr(lang)._2)
          val lo = math.min(e, a)
          val hi = math.max(e, a)
          assert(score >= lo && score <= hi,
            s"doc ${r.getLong(0)} ($lang, $score) outside [$lo,$hi] of its boundary")
        }

        // the sliver is small at accuracy=10000 on sf0.01 group sizes
        assert(flips.length <= total * 0.02,
          s"${flips.length} of $total docs changed bucket")
      } finally joined.unpersist(blocking = false)
    } finally exact.unpersist(blocking = false)
  }

  test("approx docPercentiles stays within the per-language value span at the cut") {
    val exact = AuditQueries.docPercentiles(spark, dir, exact = true).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = AuditQueries.docPercentiles(spark, dir, exact = false,
      accuracy = 10000).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == approx.keySet)

    // per-language sorted token counts, to express the rank-error bound
    val docs = graft.Tables.documents(spark, dir)
    val byLang = docs.select(col("lang"),
        graft.operators.TextAnalysis.tokenCount(col("text"))
          .cast("double").as("n"))
      .collect().groupBy(_.getString(0))
      .map { case (l, rows) => l -> rows.map(_.getDouble(1)).sorted }

    for ((lang, e) <- exact) {
      val a = approx(lang)
      assert(e.getLong(1) == a.getLong(1), s"$lang n_docs drifted")
      val vals = byLang(lang)
      val n = vals.length
      for ((idx, q) <- Seq(2 -> 0.5, 3 -> 0.9, 4 -> 0.99)) {
        // percentile_approx at accuracy=10000 lands within ±max(1, n/10000)
        // ranks of the true order statistic; exact interpolates between
        // floor/ceil ranks — so both live inside a small rank window
        val eps = math.max(1, n / 10000)
        val loRank = math.max(0, math.floor(q * (n - 1)).toInt - eps)
        val hiRank = math.min(n - 1, math.ceil(q * (n - 1)).toInt + eps)
        val (lo, hi) = (vals(loRank), vals(hiRank))
        val av = a.getDouble(idx)
        assert(av >= lo && av <= hi,
          s"$lang q=$q approx=$av outside value window [$lo,$hi] (n=$n)")
        val ev = e.getDouble(idx)
        assert(ev >= lo && ev <= hi,
          s"$lang q=$q exact=$ev outside value window [$lo,$hi] (n=$n)")
      }
    }
  }
}
