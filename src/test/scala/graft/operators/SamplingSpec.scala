package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for [[Sampling.tokenBudgetSelect]] — the distributed
  * prefix-sum selection. The invariant under test: the partitioned
  * (range-repartition + per-partition window + driver offsets)
  * computation equals the naive single-window global cumulative sum,
  * for any partition count and any input distribution. */
class SamplingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def mix(z0: Long): Long = {
    var z = z0 * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 31)
  }

  private def corpus(n: Int) = {
    import spark.implicits._
    // deterministic pseudo-random tokens/scores, including score ties
    (0 until n).map { i =>
      val id = i.toLong
      val tokens = 1L + math.floorMod(mix(id * 7 + 1), 50L)
      val score = math.floorMod(mix(id * 13 + 2), 20L) / 10.0
      (id, tokens, score)
    }.toDF("doc_id", "n_tokens", "quality")
      .repartition(7) // deliberately unaligned input partitioning
  }

  private def naive(df: org.apache.spark.sql.DataFrame, budget: Long) = {
    val w = Window.orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_tokens", "quality", "cum_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("tokenBudgetSelect equals the naive global-window cumulative sum") {
    val d = corpus(500)
    for (budget <- Seq(1L, 100L, 3000L, 1000000L)) {
      val dist = rows(Sampling.tokenBudgetSelect(
        d, "doc_id", "n_tokens", "quality", budget))
      val ref = rows(naive(d, budget))
      assert(dist == ref, s"budget=$budget: $dist vs $ref")
    }
  }

  test("unimaxAlloc: waterfill sums to the exact budget, caps at mass, levels the uncapped") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 25) {
      val n = 1 + rnd.nextInt(7)
      val masses = (0 until n).map(i => (s"l$i", 1L + rnd.nextInt(1000)))
      // one row per source carrying its whole mass — the operator only
      // aggregates, so the row shape is irrelevant to the algorithm
      val df = masses.toDF("lang", "n_tokens")
      val out = Sampling.unimaxAlloc(df, "lang", "n_tokens")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      val total = masses.map(_._2).sum
      val budget = total * 6 / 10
      assert(out.map(_._3).sum == budget,
        s"trial $trial: allocations must sum to exactly the budget")
      out.foreach { case (l, m, a, rate) =>
        assert(a <= m, s"trial $trial: $l over-allocated past its mass")
        assert(math.abs(rate - a.toDouble * 1000000.0 / m) == 0.0)
      }
      val uncapped = out.filter { case (_, m, a, _) => a < m }.map(_._3)
      if (uncapped.nonEmpty)
        assert(uncapped.max - uncapped.min <= 1,
          s"trial $trial: uncapped languages must level within 1 token")
      // low-resource languages below the waterline are used IN FULL
      val waterline = if (uncapped.nonEmpty) uncapped.min else Long.MaxValue
      out.foreach { case (l, m, a, _) =>
        if (m < waterline) assert(a == m,
          s"trial $trial: $l (mass $m) below the waterline must be whole")
      }
    }
  }

  test("unimaxAlloc: budget product past Long.MaxValue stays exact (overflow regression)") {
    import spark.implicits._
    // two sources near Long.MaxValue/2 each: total * budgetNum would
    // wrap a Long multiply (total ~9.2e18, x9 ~8.3e19) — the BigInt
    // quotient must stay exact and non-negative (the r13 ADVICE low)
    val big = Long.MaxValue / 2 - 7L
    val df = Seq(("a", big), ("b", big)).toDF("lang", "n_tokens")
    val out = Sampling.unimaxAlloc(df, "lang", "n_tokens",
        budgetNum = 9L, budgetDen = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val budget = (BigInt(big) * 2 * 9 / 10).toLong
    assert(out.map(_._3).sum == budget,
      "allocations must sum to the exact (unwrapped) budget")
    assert(out.forall(r => r._3 >= 0 && r._3 <= r._2),
      "no allocation may go negative or exceed its mass")
    // and a total mass past Long.MaxValue is rejected LOUDLY, not wrapped
    val over = Seq(("a", Long.MaxValue - 1L), ("b", 3L)).toDF("lang", "n_tokens")
    val e = intercept[IllegalArgumentException] {
      Sampling.unimaxAlloc(over, "lang", "n_tokens")
    }
    assert(e.getMessage.contains("overflows Long"))
  }

  test("mixtureResample: target proportions, binding source whole, unweighted dropped") {
    import spark.implicits._
    // skewed corpus: a 4000, b 1000, c 500, d 800 (d gets no weight)
    val docs = (0 until 6300).map { i =>
      val src = if (i < 4000) "a" else if (i < 5000) "b" else if (i < 5500) "c" else "d"
      (i.toLong, src)
    }.toDF("doc_id", "source")
    val kept = Sampling.mixtureResample(docs, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.2, "c" -> 0.3))
    val bySrc = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // T = min(4000/0.5, 1000/0.2, 500/0.3) = 500/0.3 ≈ 1666.7 — c binds
    assert(bySrc("c") == 500L, s"binding source must be kept whole: $bySrc")
    assert(!bySrc.contains("d"), "unweighted sources drop entirely")
    // kept proportions track the target within md5-bucket sampling noise
    val total = bySrc.values.sum.toDouble
    assert(math.abs(bySrc("a") / total - 0.5) < 0.05, s"a share off: $bySrc")
    assert(math.abs(bySrc("b") / total - 0.2) < 0.05, s"b share off: $bySrc")
    // deterministic: same input partitioned differently → same kept set
    val again = Sampling.mixtureResample(docs.repartition(13), "doc_id",
        "source", Map("a" -> 0.5, "b" -> 0.2, "c" -> 0.3))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
    // a weighted-but-absent source must not zero the whole resample
    val withGhost = Sampling.mixtureResample(docs, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.2, "c" -> 0.3, "nosuch" -> 0.1))
    assert(withGhost.count() == kept.count(), "absent sources are ignored")
  }

  test("mixtureResampleTokens: the binding source is decided by token mass, not doc count") {
    import spark.implicits._
    // a: many short docs (100 × 10 tok = 1000); b: few long docs
    // (10 × 200 tok = 2000). Under DOC weighting a dominates; under
    // TOKEN weighting with equal weights, a is the scarce source
    // (T = min(1000/0.5, 2000/0.5) = 2000) and must be kept whole
    val docs = ((0 until 100).map(i => (i.toLong, "a", 10L)) ++
        (100 until 110).map(i => (i.toLong, "b", 200L)))
      .toDF("doc_id", "source", "n_tokens")
    val kept = Sampling.mixtureResampleTokens(docs, "doc_id", "source",
        "n_tokens", Map("a" -> 0.5, "b" -> 0.5))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") == 100L, s"token-scarce source must be kept whole: $kept")
    // b keeps ~half its documents (rate = 0.5·2000/2000 = 0.5)
    assert(kept.getOrElse("b", 0L) > 0L && kept("b") < 10L,
      s"token-rich source must be downsampled: $kept")
  }

  test("tokenBudgetSelect boundary: zero budget selects nothing, and the " +
      "budget is a hard cap on the running total including the current row") {
    val d = corpus(50)
    assert(Sampling.tokenBudgetSelect(d, "doc_id", "n_tokens", "quality", 0L)
      .count() == 0)
    val all = rows(Sampling.tokenBudgetSelect(
      d, "doc_id", "n_tokens", "quality", Long.MaxValue))
    assert(all.size == 50, "an unbounded budget keeps every row")
    assert(all.map(_._4).max == all.map(_._2).sum,
      "the largest cumulative equals the total token count")
  }
}
