package graft.operators

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic hash-based sampling and splitting for training-data
  * pipelines. Random sampling (`df.sample`) is seed- and partitioning-
  * dependent; a content-hash bucket is reproducible everywhere, stable
  * under repartitioning and re-runs, and trivially auditable — the
  * standard way to cut train/validation/test splits at corpus scale.
  * All narrow projections, zero shuffle. */
object Sampling {

  /** Stable bucket in [0, mod): the top 60 bits of md5(key) — the same
    * md5-prefix-to-long construction the SimHash family uses, so the
    * DuckDB oracle spells it as ('0x' || substr(md5(x), 1, 15))::BIGINT. */
  def hashBucket(key: Column, mod: Int): Column =
    (conv(substring(md5(key.cast(StringType)), 1, 15), 16, 10)
      .cast(LongType) % mod).cast(LongType)

  /** train/test assignment: bucket < trainPct of 100 → "train". */
  def trainTestSplit(df: DataFrame, idCol: String, trainPct: Int): DataFrame =
    df.withColumn("bucket", hashBucket(col(idCol), 100))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train")).otherwise(lit("test")))

  /** Stratified subsample: a different deterministic percentage per
    * stratum (e.g. downsample dominant languages, keep the tail whole).
    * Strata absent from `pcts` fall back to `defaultPct`. Still a narrow
    * filter — the per-stratum rate is a CASE over the stratum column,
    * zero shuffle at any scale. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      pcts: Map[String, Int], defaultPct: Int): DataFrame = {
    val rate = pcts.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (s, p)) => when(col(stratumCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), 100) < rate)
  }

  /** Exactly-k-per-group deterministic sample: rank group members by
    * (md5 bucket, id) and keep the first k — a reproducible "reservoir"
    * whose membership is stable under re-runs and repartitioning. One
    * bounded per-group window (the top-k shape, same as vocabTopK);
    * skewed groups cost one hot partition, the usual top-k caveat. */
  def samplePerGroup(df: DataFrame, idCol: String, groupCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(hashBucket(col(idCol), 1000000).asc, col(idCol).asc)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }

  /** Resample a corpus to TARGET mixture weights over a source column —
    * the dataset-card knob ("web 60%, books 25%, code 15%") executed as
    * a deterministic downsample. The largest total `T` keeping every
    * per-source keep-rate ≤ 1 is `T = min_s(n_s / w_s)`; each weighted
    * source then keeps `rate_s = w_s·T/n_s` of its documents via the
    * [[hashBucket]] filter, so the surviving corpus has EXACTLY the
    * requested proportions in expectation and the binding (scarcest
    * relative to its weight) source is kept whole. Sources without a
    * weight drop entirely; weighted sources absent from the corpus are
    * ignored (they would otherwise force T = 0).
    *
    * Scale shape: rates derive from ONE map-side-combined aggregation
    * whose result is |sources| rows on the driver — bounded by the
    * mixture card, not the data — baked back as a CASE literal; the
    * resample itself is the same narrow zero-shuffle filter as
    * [[stratifiedSample]], stable under re-runs and repartitioning. */
  def mixtureResample(df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], mod: Int = 1000000): DataFrame = {
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    resampleByMass(df, idCol, sourceCol, counts, weights, mod)
  }

  /** [[mixtureResample]] with the mass measured in TOKENS instead of
    * documents — the realistic dataset-card knob (mixtures are stated
    * in training tokens): per-source mass is Σ`tokensCol`, the binding
    * ratio and keep-rates follow, and the same per-document md5-bucket
    * filter applies them, so the EXPECTED surviving token mass lands on
    * the target shares. (Exact selection to a hard token budget is
    * [[tokenBudgetSelect]]; this is the proportional knob.) */
  def mixtureResampleTokens(df: DataFrame, idCol: String, sourceCol: String,
      tokensCol: String, weights: Map[String, Double],
      mod: Int = 1000000): DataFrame = {
    val masses = df.groupBy(sourceCol).agg(sum(col(tokensCol)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    resampleByMass(df, idCol, sourceCol, masses, weights, mod)
  }

  /** UniMax language-balanced allocation (Chung et al. 2023; the
    * mT5-successor / PaLM-2 sampling rule): spread a token budget as
    * UNIFORMLY as possible across languages, but never take more than a
    * language HAS (the epoch cap, here 1 epoch) — low-resource languages
    * are used in full, high-resource languages truncate at a common
    * waterline, and no language is over-sampled the way temperature
    * flattening over-samples the tail. The waterfill is INTEGER-EXACT:
    * languages sorted by (mass ASC, name ASC), each takes
    * `min(mass, remaining ⌊/⌋ languages-left)` — the sequence sums to
    * exactly `budget` and leaves every uncapped language within 1 token
    * of the others (SamplingSpec property-checks both), and integer
    * arithmetic restates bit-exactly in the oracle's recursive CTE.
    *
    * Returns the |languages|-row allocation table: (source, lang_tokens,
    * alloc_tokens, rate) where rate is per-million for composing with
    * the md5-bucket document filter (the [[mixtureResample]] machinery).
    * Scale shape: ONE map-side-combined aggregate to a languages-sized
    * table, a driver fold over it, nothing corpus-sized after the scan.
    * Budget = mass_total · budgetNum ⌊/⌋ budgetDen (integer, exact). */
  def unimaxAlloc(df: DataFrame, sourceCol: String, massCol: String,
      budgetNum: Long = 6L, budgetDen: Long = 10L): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0, "budget fraction must be positive")
    // budget > total mass breaks the exact-sum contract (every language
    // caps and the leftover has nowhere to go) — reject it loudly
    require(budgetNum <= budgetDen,
      s"unimaxAlloc budget fraction $budgetNum/$budgetDen exceeds 1: the " +
        "1-epoch cap cannot absorb more than the corpus holds")
    val spark = df.sparkSession
    // masses are token COUNTS by contract: the per-row DECIMAL(38,0)
    // widening below would silently round a fractional mass HALF_UP per
    // row (0.6 + 0.6 would sum to 2, not 1) — reject non-integral
    // columns loudly instead of repurposing the semantics
    df.schema(massCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case other => throw new IllegalArgumentException(
        s"unimaxAlloc: $massCol must be an integral token count, got $other")
    }
    // sum on DECIMAL(38,0): a Long accumulator would WRAP silently on a
    // 100 TB-scale source before the driver-side overflow guards below
    // ever see the value — widen first, range-check loudly at collect
    val sizes = df.groupBy(sourceCol)
      .agg(sum(col(massCol).cast(DecimalType(38, 0))).as("mass"))
      .collect().map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"unimaxAlloc: null $sourceCol or all-null $massCol group — " +
            "sources and masses must be non-null")
        val mass = r.getDecimal(1).toBigInteger
        require(BigInt(mass).isValidLong,
          s"unimaxAlloc: mass $mass for source ${r.getString(0)} overflows Long")
        (r.getString(0), mass.longValueExact())
      }
      // oracle-parity precondition (like the BM25 term list): equal-mass
      // ties break on the source NAME, compared here in UTF-16 units and
      // in the oracle in UTF-8 binary collation — identical for ASCII
      // names (all shipped sources), divergent only for names mixing
      // U+E000..U+FFFF with supplementary-plane characters
      .sortBy { case (l, m) => (m, l) }
    require(sizes.forall(_._2 > 0), "every source needs positive mass")
    val totalB = sizes.map(m => BigInt(m._2)).sum
    require(totalB.isValidLong,
      s"unimaxAlloc: total mass $totalB overflows Long")
    val total = totalB.toLong
    // the product total * budgetNum can overflow Long for a 100 TB-scale
    // corpus with a large caller-supplied numerator; BigInt keeps the
    // quotient exact (it is ≤ total, so it always fits back in a Long)
    val budget = (BigInt(total) * budgetNum / budgetDen).toLong
    var remaining = budget
    val n = sizes.length
    val rows = sizes.zipWithIndex.map { case ((l, m), i) =>
      val share = remaining / (n - i)
      val a = math.min(m, share)
      remaining -= a
      (l, m, a, a.toDouble * 1000000.0 / m)
    }
    import spark.implicits._
    rows.toSeq.toDF(sourceCol, "lang_tokens", "alloc_tokens", "rate")
  }

  /** Temperature-flattened multilingual mixture (Conneau et al. 2020
    * §3.1; the mT5 sampling rule): target weights derive from the
    * corpus's OWN distribution as mass^(1/τ), flattening it toward
    * uniform so high-resource languages stop drowning the tail without
    * anyone hand-writing a dataset card. τ = 2 (exponent 0.5) is the
    * engine-exact choice: sqrt is a correctly-rounded IEEE-754 op on
    * every engine where pow is only 1-ulp-accurate, so the derived
    * weights — and therefore the kept set — are bit-reproducible against
    * the oracle. With w = √n the binding ratio is T = min √n and each
    * source keeps min(√n)/√n_s: the scarcest language is kept whole,
    * larger ones downsample by the square-root rule. Same scale shape as
    * [[mixtureResample]]: one group-cardinality-bounded aggregation, then
    * the narrow zero-shuffle md5-bucket filter. */
  def temperatureResample(df: DataFrame, idCol: String, sourceCol: String,
      mod: Int = 1000000, tau: Double = 2.0): DataFrame = {
    require(tau > 0, "temperature must be positive")
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // w = n^(1/τ). τ = 1 keeps every source whole (the corpus is already
    // proportional to itself); τ = 2 is the engine-exact sqrt default
    // (math.pow(n, 0.5) and math.sqrt(n) can differ by an ulp — the
    // oracle pins sqrt); τ → ∞ flattens to uniform-over-sources (each
    // source's expected kept mass → min n). Per-source keep rates are
    // (n_min/n_s)^(1-1/τ) — monotonically flattening in τ, the
    // TemperatureResampleSpec contract.
    val weights = counts.map { case (s, n) =>
      s -> (if (tau == 2.0) math.sqrt(n.toDouble)
            else math.pow(n.toDouble, 1.0 / tau))
    }
    resampleByMass(df, idCol, sourceCol, counts, weights, mod)
  }

  /** The mass-parameterized core of [[mixtureResample]] /
    * [[mixtureResampleTokens]]: per-source mass is a plain Map (from a
    * batch aggregation), and what remains is a pure narrow md5-bucket
    * filter — stateless and shuffle-free. */
  private def resampleByMass(df: DataFrame, idCol: String, sourceCol: String,
      mass: Map[String, Long], weights: Map[String, Double],
      mod: Int = 1000000): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "target weights must be positive")
    val present = weights.filter { case (s, _) => mass.getOrElse(s, 0L) > 0L }
    require(present.nonEmpty, "no weighted source present in the corpus")
    val t = present.map { case (s, w) => mass(s) / w }.min
    // rate in BUCKETS: w·T/n·mod, left-to-right double evaluation — the
    // oracle restates the identical IEEE op order, so the kept sets match
    // bit-for-bit even when a rate lands within one ulp of an integer
    val rate = present.toSeq.sortBy(_._1).foldLeft(lit(-1.0)) {
      case (acc, (s, w)) =>
        when(col(sourceCol) === s, lit(w * t / mass(s) * mod)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), mod).cast(DoubleType) < rate)
  }

  /** Priority selection to a global token budget: rows in
    * (`scoreCol` desc, `idCol` asc) priority order are kept while the
    * running `tokensCol` total (including the current row) stays within
    * `budget` — the "take the best documents until the training budget
    * is full" shape. The returned frame adds `cum_tokens`.
    *
    * The running total is a genuinely DISTRIBUTED prefix sum — a naive
    * `Window.orderBy` with no partition spec collapses the corpus onto
    * one task, the classic 100 TB scale-killer. Instead: range-
    * repartition on the priority order (a parallel sort),
    * [[graft.Materialize.pin]] the materialized partitions, per-partition
    * subtotals to the driver (one row per partition — bounded by the
    * shuffle-partition count, not the data), then a window WITHIN each
    * partition plus the broadcast partition offset. Every stage is
    * parallel; the only driver state is the ≤`parts` subtotal rows. */
  def tokenBudgetSelect(df: DataFrame, idCol: String, tokensCol: String,
      scoreCol: String, budget: Long): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    // pin the scored input ONCE before the range exchange (r17):
    // repartitionByRange runs a SAMPLING job over its child to pick the
    // range bounds, then the exchange's map pass executes the child
    // again — with an expensive input (tokenBudget's quality+token text
    // pass) that was two full corpus passes, profiled as two ~270 ms
    // serial stages. The input rows here are narrow (id, tokens, score)
    // triples; the sampler and the map pass then read blocks. Isolated
    // A/B (7-rep min, same box): q_token_budget 0.927 → 0.576 s.
    val once = Materialize.pin(df)
    // pin the range partitioning: the subtotal pass and the final window
    // must read the SAME partitions, not a resampled recompute
    val ordered = Materialize.pin(once
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id()))
    val sums = ordered.groupBy("__pid").agg(sum(col(tokensCol)).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L)((acc, p) => acc + sums.getOrElse(p, 0L))
    val offset = (0 until parts).foldLeft(lit(0L)) { (acc, p) =>
      when(col("__pid") === p, lit(offsets(p))).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ordered
      .withColumn("cum_tokens", sum(col(tokensCol)).over(w) + offset)
      .filter(col("cum_tokens") <= budget)
      .drop("__pid")
  }

  /** Per-group adaptive score gate: keep rows at or above their OWN
    * group's `quantile` score threshold — thresholds derived from the
    * corpus itself instead of a magic constant (a verbose language can't
    * starve a terse one). The threshold frame is group-cardinality-sized
    * and broadcast back, so the gate stays a narrow filter either way.
    *
    * `exact = true` uses exact `percentile` — it buffers a group's value
    * multiset (near-unique doubles ⇒ ~the group in memory), which is what
    * the bit-exact oracle check needs at test SF but NOT what to run on
    * 100 TB. `exact = false` is the scale path: `percentile_approx`
    * (Greenwald-Khanna t-digest-style summaries, bounded memory per
    * group, map-side combinable) with `accuracy` trading memory for
    * error ≤ 1/accuracy in rank space. The kept sets differ only for
    * rows whose score falls between the two thresholds — rank-epsilon
    * near the cut, the AdaptiveGateSpec parity contract. */
  def adaptiveGate(scored: DataFrame, groupCol: String, scoreCol: String,
      quantile: Double, exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    val thr =
      if (exact)
        scored.groupBy(groupCol)
          .agg(percentile(col(scoreCol), lit(quantile)).as("q_thr"))
      else
        scored.groupBy(groupCol)
          .agg(percentile_approx(col(scoreCol), lit(quantile), lit(accuracy))
            .as("q_thr"))
    scored.join(broadcast(thr), groupCol)
      .filter(col(scoreCol) >= col("q_thr"))
  }
}
