package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}
import graft.operators.{TextAnalysis => TA}
import QualityQueries.qualitySql
import SharedArtifacts.sharedSourceGrams

/** Corpus audit queries: the dataset card, cardinality and sketch audits,
  * cross-source overlap and drift, length and percentile profiles, and
  * shard manifests.
  */
object AuditQueries extends QueryFamily {
  /** Snapshot-MERGEABLE cardinality — the incremental-ingest form of
    * [[cardinalityAudit]]: per source, DataSketches-HLL sketches of two
    * deterministic snapshot slices (hash-of-id mod 5 — hashed so the
    * slice is independent of the fixture's id-derived source) are
    * built independently (`hll_sketch_agg`), UNIONED as
    * binary sketches (`hll_union`), and the union estimate is compared
    * against a direct single-pass sketch of the combined slice. The
    * operational point: at 100 TB each ingest day sketches ITS OWN
    * delta (bytes per source), and corpus-wide distinct counts come
    * from unioning persisted sketches without ever re-reading a
    * previous day's data. The guarantee is the sketch's ERROR BOUND,
    * not bitwise equality — DataSketches HLL estimates through a HIP
    * accumulator that depends on merge topology (measured here:
    * union-vs-direct drift ~1%, and even the direct estimate shifts
    * with partition layout), so `merge_ok` flags drift ≤ 2% and
    * `union_drift` reports it; contrast [[cardinalityAudit]], whose
    * HLL++ register max-merge IS bit-invariant but has no binary
    * sketch/union surface. No oracle (DuckDB has no DataSketches HLL
    * — the q_cardinality_audit precedent); SketchUnionSpec carries the
    * drift and accuracy contracts. The per-slice `n*_exact` columns are
    * the test-SF measuring stick (their countDistinct shuffles every
    * distinct pair — the cost the sketches exist to avoid); the
    * production form drops them, exactly as [[cardinalityAudit]]
    * documents. */
  def sketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val grams = TA.ngramRows(
        Tables.documents(spark, dir).select("doc_id", "source", "text"),
        "text", "source", n = 5, keep = Seq("doc_id"), distinct = true)
      .select(col("source"), col("doc_id"), xxhash64(col("gram")).as("h"))
    // slice on a HASH of the id, not the id itself — the fixture's
    // source is doc_id-mod-derived, so a raw doc_id%5 slice would
    // correlate with source and leave most sources without a delta
    val slice = pmod(xxhash64(col("doc_id")), lit(5))
    val v1 = grams.filter(slice =!= 4)
    val v2 = grams.filter(slice === 4)
    val s1 = v1.groupBy("source").agg(hll_sketch_agg(col("h")).as("sk1"),
      count_distinct(col("h")).as("n1_exact"))
    val s2 = v2.groupBy("source").agg(hll_sketch_agg(col("h")).as("sk2"),
      count_distinct(col("h")).as("n2_exact"))
    val direct = grams.groupBy("source")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("h"))).as("n_direct_est"))
    // FULL outer: a source whose every row hashes into one slice must
    // still appear (a left join anchored on slice 1 would silently drop
    // a slice-2-only source from the audit)
    s1.join(s2, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("n1_exact"), lit(0L)).as("n1_exact"),
        coalesce(col("n2_exact"), lit(0L)).as("n2_exact"),
        when(col("sk1").isNotNull, hll_sketch_estimate(col("sk1")))
          .otherwise(lit(0L)).as("n1_est"),
        when(col("sk1").isNotNull && col("sk2").isNotNull,
          hll_sketch_estimate(hll_union(col("sk1"), col("sk2"))))
          .when(col("sk1").isNotNull, hll_sketch_estimate(col("sk1")))
          .otherwise(hll_sketch_estimate(col("sk2"))).as("n_union_est"))
      .join(broadcast(direct), Seq("source"))
      .withColumn("union_drift",
        abs(col("n_union_est") - col("n_direct_est")).cast(DoubleType) /
          col("n_direct_est").cast(DoubleType))
      .withColumn("merge_ok", col("union_drift") <= lit(0.02))
      .orderBy("source")
  }
  query("q_sketch_union", Property("graft.queries.SketchUnionSpec"))(sketchUnion)

  /** The publish-step manifest: 16 deterministic training shards over the
    * cleaned corpus — per shard, docs/tokens/chars. md5-stable shard
    * membership (re-runs can't move a document), one map-side-combined
    * aggregation ([[graft.operators.Sharding.shardManifest]]). */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sharding.shardManifest(
        Tables.documents(spark, dir), "text", "doc_id", nShards = 16)
      .orderBy("shard")
  query("q_shard_manifest", Oracle(
      """SELECT ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY shard ORDER BY shard""".stripMargin))(shardManifest)

  /** Shard-balance audit over the [[shardManifest]] — the straggler
    * predictor a publish step checks before a training run: with one
    * writer (and later one data-loader worker) per shard, wall-clock is
    * the MAX shard, so `skew_ratio` (max/mean tokens) IS the fraction of
    * the fleet that idles, and `cv` (stddev/mean) says whether the hash
    * assignment is balanced or needs more shards. One aggregate over the
    * 16-row manifest; Σx² rides DECIMAL(38,0) (oracle HUGEINT) because
    * squared per-shard token counts overflow a Long at 100 TB. The
    * derived doubles run one fixed IEEE op order on both engines, with
    * the variance clamped at 0 before sqrt (a rounding-mode −0 must not
    * NaN the report). */
  def shardSkew(spark: SparkSession, dir: String): DataFrame = {
    val nd = col("n_shards").cast(DoubleType)
    val totd = col("total_tokens").cast(DoubleType)
    val m = totd / nd
    val ex2 = col("s2").cast(DoubleType) / nd
    graft.operators.Sharding.shardManifest(
        Tables.documents(spark, dir), "text", "doc_id", nShards = 16)
      .agg(count(lit(1)).as("n_shards"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        sum(col("n_tokens").cast(DecimalType(38, 0))
          * col("n_tokens").cast(DecimalType(38, 0))).as("s2"))
      .select(col("n_shards"), col("total_tokens"), col("max_tokens"),
        col("min_tokens"),
        m.as("avg_tokens"),
        when(col("total_tokens") === 0, lit(null).cast(DoubleType))
          .otherwise(col("max_tokens").cast(DoubleType) / m).as("skew_ratio"),
        when(col("total_tokens") === 0, lit(null).cast(DoubleType))
          .otherwise(sqrt(greatest(ex2 - m * m, lit(0.0))) / m).as("cv"))
  }
  query("q_shard_skew", Oracle(
      """WITH m AS (SELECT ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard,
        |                  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY shard),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) n_shards,
        |             CAST(SUM(n_tokens) AS BIGINT) total_tokens,
        |             MAX(n_tokens) max_tokens, MIN(n_tokens) min_tokens,
        |             SUM(n_tokens * n_tokens) s2
        |      FROM m)
        |SELECT n_shards, total_tokens, max_tokens, min_tokens,
        |       CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE) AS avg_tokens,
        |       CASE WHEN total_tokens = 0 THEN NULL
        |            ELSE CAST(max_tokens AS DOUBLE)
        |                 / (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE)) END
        |         AS skew_ratio,
        |       CASE WHEN total_tokens = 0 THEN NULL
        |            ELSE SQRT(GREATEST(CAST(s2 AS DOUBLE) / CAST(n_shards AS DOUBLE)
        |                   - (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE))
        |                     * (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE)), 0.0))
        |                 / (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE)) END
        |         AS cv
        |FROM a""".stripMargin))(shardSkew)

  /** Grouped percentiles of document token counts — corpus length
    * diagnostics. `exact = true` (the declared query): Spark `percentile`
    * and DuckDB `quantile_cont` both do linear interpolation on the
    * sorted values, so the result is exact and hash-comparable (arrays
    * avoided: one column per percentile). Exact percentile buffers each
    * language's value multiset in one aggregation buffer — fine at test
    * SF, NOT the 100 TB shape when one language holds most of the
    * corpus. `exact = false` is the scale path: `percentile_approx`
    * (bounded-memory rank summaries, map-side combinable), rank error
    * ≤ 1/accuracy — PercentileParitySpec pins the exact/approx drift. */
  def docPercentiles(spark: SparkSession, dir: String, exact: Boolean,
      accuracy: Int = 10000): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        TA.tokenCount(col("text")).cast("double").as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        pctl(exact, accuracy)(col("n"), 0.5).as("p50"),
        pctl(exact, accuracy)(col("n"), 0.9).as("p90"),
        pctl(exact, accuracy)(col("n"), 0.99).as("p99"))
      .orderBy("lang")
  query("q_doc_percentiles", Oracle(
      """SELECT lang, COUNT(*) AS n_docs,
        |       quantile_cont(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE), 0.5) AS p50,
        |       quantile_cont(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE), 0.9) AS p90,
        |       quantile_cont(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE), 0.99) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))(docPercentiles(_, _, exact = true))
  // The 100 TB regime as its own declared query: `percentile_approx`'s
  // bounded-memory rank summaries instead of the whole-multiset exact
  // buffer. No DuckDB oracle restates a GK sketch bit for bit; the rank
  // error bound (<= 1/accuracy against the exact dual) is the spec's.
  query("q_doc_percentiles_approx", Property("graft.queries.PercentileParitySpec"))(
    docPercentiles(_, _, exact = false))

  /** Exact vs approx per-group percentile, the
    * [[graft.operators.Sampling.adaptiveGate]] pattern shared by every
    * corpus-sized percentile site in this file. */
  private[queries] def pctl(exact: Boolean, accuracy: Int)(c: Column, q: Double): Column =
    if (exact) percentile(c, lit(q))
    else percentile_approx(c, lit(q), lit(accuracy))

  /** One-row dataset card — the headline stats a curated corpus
    * publishes (the Datasheets-for-Datasets summary block): document /
    * token totals, language and source cardinalities, exact-duplicate
    * share, and mean token count / quality. Scale shape: everything
    * except the duplicate share comes from ONE corpus scan aggregated to
    * the (lang, source)-sized frame and re-aggregated (the tableProfile
    * no-Expand doctrine: the multi-distinct runs over the tiny grouped
    * frame, never the corpus); the exact duplicate share is the one
    * inherently distinct-shuffle stat — digests-only, the [[dedupStats]]
    * contract, with null texts hashed to a sentinel so the share is
    * exact in their presence. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val g = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
        sum(TA.tokenCount(col("text")).cast(DecimalType(38, 0))).as("tok"),
        sum(floor(TA.qualityScore(col("text")) * lit(1000000.0))
          .cast(LongType).cast(DecimalType(38, 0))).as("q_fx"))
    val head = g.agg(sum(col("n")).cast(LongType).as("n_docs"),
      sum(col("tok")).as("tok_d"),
      sum(col("q_fx")).as("q_fx_d"),
      countDistinct(col("lang")).cast(LongType).as("n_langs"),
      countDistinct(col("source")).cast(LongType).as("n_sources"))
    val uniq = docs.agg(
      countDistinct(coalesce(md5(col("text")), lit("<null>")))
        .cast(LongType).as("n_unique"))
    head.crossJoin(broadcast(uniq))
      .select(col("n_docs"),
        col("tok_d").cast(LongType).as("n_tokens"),
        col("n_langs"), col("n_sources"), col("n_unique"),
        ((col("n_docs") - col("n_unique")).cast(DoubleType)
          / col("n_docs").cast(DoubleType)).as("dup_share"),
        (col("tok_d").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("mean_tokens"),
        (col("q_fx_d").cast(DoubleType) / col("n_docs").cast(DoubleType)
          / lit(1e6)).as("mean_quality"))
      .orderBy("n_docs") // single row; the house total-ORDER-BY rule
  }
  // dataset card: the text-stats token recipe, the calibrated-quality
  // fixed point, and the dedup-stats sentinel digest in one card; the
  // derived doubles run one shared IEEE op order
  query("q_dataset_card", Oracle(
      s"""WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) n,
         |             SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) tok,
         |             SUM(CAST(FLOOR(($qualitySql) * 1000000.0) AS BIGINT)) q_fx
         |           FROM documents GROUP BY 1, 2),
         |h AS (SELECT CAST(SUM(n) AS BIGINT) n_docs,
         |             CAST(SUM(tok) AS BIGINT) n_tokens,
         |             CAST(SUM(q_fx) AS BIGINT) q_fx,
         |             CAST(COUNT(DISTINCT lang) AS BIGINT) n_langs,
         |             CAST(COUNT(DISTINCT source) AS BIGINT) n_sources FROM g),
         |u AS (SELECT CAST(COUNT(DISTINCT COALESCE(MD5(text), '<null>')) AS BIGINT) n_unique
         |      FROM documents)
         |SELECT n_docs, n_tokens, n_langs, n_sources, n_unique,
         |       CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_share,
         |       CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
         |       CAST(q_fx AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0 AS mean_quality
         |FROM h CROSS JOIN u ORDER BY n_docs""".stripMargin))(datasetCard)

  /** Sketch-based distinct-gram cardinality audit: per source, the
    * EXACT distinct 5-gram count beside the HyperLogLog++ estimate
    * (`approx_count_distinct`, rsd 2%) and the realized relative error.
    * At 100 TB the exact column is the one you cannot afford — its
    * countDistinct shuffles every distinct (source, gram) pair — while
    * the sketch column is ONE pass with bytes-sized partial aggregates
    * (per-partition HLL registers, max-merged at the reducer: the same
    * mergeability that lets per-shard sketches from different ingest
    * days union into a corpus-wide cardinality without re-reading
    * anything). This query ships both at test SF to MEASURE the
    * estimator against ground truth; the production form drops the
    * exact column. Estimates are deterministic (register max-merge is
    * order/partitioning-invariant — CardinalityAuditSpec pins that and
    * the error bound), but DuckDB's approx_distinct is a different
    * sketch, so this declares NO oracle SQL: the correctness compare
    * records only the rows+schema-level check (the q_ivf_recall precedent). */
  def cardinalityAudit(spark: SparkSession, dir: String): DataFrame =
    TA.ngramRows(Tables.documents(spark, dir).select("source", "text"),
        "text", "source", n = 5, distinct = true)
      .select(col("source"), xxhash64(col("gram")).as("h"))
      .groupBy("source")
      .agg(countDistinct(col("h")).cast(LongType).as("n_exact"),
        approx_count_distinct(col("h"), 0.02).cast(LongType).as("n_approx"))
      .withColumn("rel_error",
        abs(col("n_approx") - col("n_exact")).cast(DoubleType) /
          col("n_exact").cast(DoubleType))
      .orderBy("source")
  query("q_cardinality_audit", Property("graft.queries.CurationSplitSpec"))(cardinalityAudit)

  /** Cross-source content-overlap matrix: for every pair of sources
    * sharing at least one distinct word-5-gram, the shared-gram count
    * and the Jaccard of the two sources' gram sets — the audit a
    * curator reads to find sources that are partial mirrors of each
    * other BEFORE mixing them (full-text digests miss near-mirrors;
    * 5-gram sets catch them, the q_span_dedup granularity). Scale
    * shape: one tokenization pass emits per-document-distinct grams
    * (native ShingleText), grams collapse to 8-byte hashes, and ONE
    * map-side-combined shuffle on the hash builds a per-gram sorted
    * source set; ordered pairs explode in-row from each set (bounded by
    * sources-per-gram², the same bound the sources² output assumes) and
    * per-source set sizes fall out of the same table — no gram-table
    * self-join, no second corpus pass; sizes attach as broadcast joins.
    * The per-gram table feeds the sizes and pair aggregates, so it
    * materializes once, as a persisted artifact. Spark compares
    * hashes, the oracle literal gram text — counts coincide absent a
    * 64-bit collision (the proven q_decontaminate argument). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    // no persist/localCheckpoint scaffolding (dropped r17, the e47dbe5
    // doctrine): gramSources IS a persisted parquet artifact, so the two
    // consumers (sizes + pairs) re-read a cheap columnar scan — the old
    // eager persist+checkpoint paid a materialization pass plus ~6 extra
    // jobs per call (profiled 13 jobs; isolated 7-rep min 0.897 → 0.510 s
    // back-to-back, and 0.258 s on the calmer follow-up run). On the
    // stamp-0 fallback each consumer re-derives inline — correct, just
    // slower in that degraded environment (the sharedShingles rule).
    sourceOverlapFrom(sharedSourceGrams(spark, dir))
  // Spark joins on xxhash64 of the gram, the oracle on literal gram
  // text — counts coincide absent a 64-bit collision (the proven
  // q_decontaminate argument). Jaccard divides the same three exact
  // integers in the same order on both engines.
  query("q_source_overlap", Oracle(
      """WITH arr AS (SELECT source, STRING_SPLIT(text, ' ') a FROM documents),
        |g0 AS (SELECT source, UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-4, 0)),
        |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4] || ' ' || a[i+5])) s
        |       FROM arr),
        |g AS (SELECT DISTINCT source, s FROM g0),
        |sz AS (SELECT source, COUNT(*) n FROM g GROUP BY source),
        |p AS (SELECT a.source sa, b.source sb, COUNT(*) ns
        |      FROM g a JOIN g b ON a.s = b.s AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT p.sa AS source_a, p.sb AS source_b,
        |       CAST(p.ns AS BIGINT) AS n_shared,
        |       CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
        |       CAST(p.ns AS DOUBLE) / (x.n + y.n - p.ns) AS jaccard
        |FROM p JOIN sz x ON x.source = p.sa JOIN sz y ON y.source = p.sb
        |ORDER BY source_a, source_b""".stripMargin))(sourceOverlap)

  /** The overlap matrix from the per-gram source-set table — separated
    * from the persist/checkpoint wrapper so PlanQualitySpec can assert
    * the un-truncated plan (the qualityEnsembleSelected recipe).
    * Ordered (a < b) source pairs explode IN-ROW from each sorted set
    * (sources-per-gram² per row, bounded); per-source distinct-gram
    * counts fall out of the same table by exploding set members — no
    * second corpus pass, no join bigger than the broadcast size
    * attach. */
  private[queries] def sourceOverlapFrom(gramSources: DataFrame): DataFrame = {
    val sizes = gramSources
      .select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val pairArr = flatten(transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs"))), y =>
        struct(x.as("source_a"), y.as("source_b")))))
    val pairs = gramSources
      .select(explode(pairArr).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Per-SOURCE embedding drift — the L2 distance between each source's
    * centroid and the global corpus centroid: the provenance-sliced
    * drift monitor read next to [[embeddingMoments]] (global) and
    * [[labelCentroids]] (by class). A source whose centroid sits far
    * from the corpus mean is either genuinely different content or was
    * embedded by a different model version — both require attention
    * before the source joins an ANN index or a training mix. Exactness:
    * per-(source, dim) sums ride the labelCentroids fixed-point
    * doctrine (exact BIGINTs, order/partitioning-invariant); the global
    * per-dim sums are the SAME integers re-aggregated (never a second
    * corpus pass); each dim's squared mean-difference floor-quantizes
    * to 1e-12 fixed point so the cross-dim sum is again an exact
    * integer — drift is deterministic to the last bit. Scale shape: one
    * id-keyed equi join pairs modalities (bucketed co-location at
    * 100 TB — the clusterProfile contract), the explode feeds ONE
    * map-side-combined aggregate, and everything after is
    * sources×dims-sized with a broadcast global attach. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val paired = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
    val bySrc = paired
      .select(col("source"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("source", "dim")
      // DECIMAL(38,0) sums — the labelCentroids/embeddingMoments
      // overflow treatment for 10¹²-row fixed-point accumulations
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType)
          .cast(DecimalType(38, 0))).as("s_fx"))
    val global = bySrc.groupBy("dim")
      .agg(sum(col("n")).as("n_g"), sum(col("s_fx")).as("g_fx"))
    val d = (col("s_fx").cast(DoubleType) / col("n") / lit(1e6)) -
      (col("g_fx").cast(DoubleType) / col("n_g") / lit(1e6))
    bySrc.join(broadcast(global), Seq("dim"))
      .select(col("source"), col("n"),
        floor(d * d * lit(1e12)).cast(LongType).as("t_fx"))
      .groupBy("source")
      .agg(max(col("n")).as("n_vecs"), sum(col("t_fx")).as("d2_fx"))
      .select(col("source"), col("n_vecs"),
        sqrt(col("d2_fx").cast(DoubleType) / lit(1e12)).as("drift"))
      .orderBy("source")
  }
  // q_source_drift: the labelCentroids fixed-point sums per source,
  // re-aggregated for the global centroid, squared differences floor-
  // quantized to 1e-12 — every aggregate an exact integer, the doubles
  // derived in one shared IEEE op order
  query("q_source_drift", Oracle(
      """WITH p AS (SELECT e.vec_id, d.source, e.embedding
        |           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        |x AS (SELECT source, UNNEST(RANGE(LEN(embedding))) dim,
        |             UNNEST(embedding) v FROM p),
        |s AS (SELECT source, dim, CAST(COUNT(*) AS BIGINT) n,
        |        CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) s_fx
        |      FROM x GROUP BY 1, 2),
        |g AS (SELECT dim, CAST(SUM(n) AS BIGINT) n_g,
        |        CAST(SUM(s_fx) AS BIGINT) g_fx FROM s GROUP BY 1),
        |t AS (SELECT source, n,
        |        CAST(FLOOR((CAST(s_fx AS DOUBLE) / n / 1e6 - CAST(g_fx AS DOUBLE) / n_g / 1e6)
        |                 * (CAST(s_fx AS DOUBLE) / n / 1e6 - CAST(g_fx AS DOUBLE) / n_g / 1e6)
        |                 * 1e12) AS BIGINT) t_fx
        |      FROM s JOIN g USING (dim))
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n_vecs,
        |       SQRT(CAST(CAST(SUM(t_fx) AS BIGINT) AS DOUBLE) / 1e12) AS drift
        |FROM t GROUP BY 1 ORDER BY source""".stripMargin))(sourceDrift)

  /** Per-source unigram-distribution drift: KL(P_source ‖ P_corpus)
    * over whitespace tokens — the TEXT-space twin of [[sourceDrift]]'s
    * embedding-space monitor (the signal data-mixing work weighs
    * sources by: a source whose token distribution diverges hard from
    * the corpus either adds diversity or is broken extraction, and the
    * mixer needs to know which before it allocates budget). Exactness:
    * each word's contribution floor-quantizes to a 1e-6 fixed-point
    * BIGINT — `FLOOR(1e6 · p_sw · LN(ratio))` with the probability and
    * ratio doubles built from exact integer counts in one shared IEEE
    * op order — so the per-source sum is an exact integer (the
    * [[splitPsi]] doctrine, summed because integer addition commutes).
    * Scale shape: the corpus tokenizes ONCE into a (source, word)
    * map-side-combined count table; per-word corpus counts and
    * per-source totals are re-aggregations of those counts (never a
    * second scan); the only corpus-sized-ish join is the vocab-keyed
    * equi-join of the (source, word) frame with the per-word table,
    * while source totals and the corpus total attach as broadcasts. */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    // one tokenization scan feeding THREE re-aggregations below
    val sw = Materialize.pin(Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source", "word")
      .agg(count(lit(1)).as("c_sw")))
    val byWord = sw.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
    val bySrc = sw.groupBy("source")
      .agg(sum(col("c_sw")).as("n_s"), count(lit(1)).cast(LongType).as("vocab"))
    val total = bySrc.agg(sum(col("n_s")).as("n"))
    val ratio = (col("c_sw").cast(DoubleType) * col("n").cast(DoubleType)) /
      (col("n_s").cast(DoubleType) * col("c_w").cast(DoubleType))
    val termFx = floor(lit(1e6) *
      (col("c_sw").cast(DoubleType) / col("n_s").cast(DoubleType)) *
      log(ratio)).cast(LongType)
    sw.join(byWord, Seq("word"))
      .join(broadcast(bySrc), Seq("source"))
      .crossJoin(broadcast(total))
      .select(col("source"), termFx.as("fx"))
      .groupBy("source")
      // DECIMAL(38,0): the sourceDrift overflow treatment (the per-word
      // terms are small, but the vocab count they sum over is not)
      .agg(sum(col("fx").cast(DecimalType(38, 0))).as("kl_fx"))
      .join(broadcast(bySrc), Seq("source"))
      .select(col("source"), col("n_s").as("n_tokens"), col("vocab"),
        (col("kl_fx").cast(DoubleType) / lit(1e6)).as("kl"))
      .orderBy("source")
  }
  // source KL: per-word 1e-6 fixed-point terms (FLOOR of one shared
  // IEEE product order: (1e6 * p_sw) * LN(ratio)) summed as exact
  // integers — the splitPsi doctrine with a cross-vocab sum
  query("q_source_kl", Oracle(
      """WITH sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) c_sw
        |            FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) w
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |bw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) c_w FROM sw GROUP BY 1),
        |bs AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) n_s,
        |              CAST(COUNT(*) AS BIGINT) vocab FROM sw GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_sw) AS BIGINT) n FROM sw),
        |terms AS (SELECT s.source,
        |            CAST(FLOOR(1000000.0
        |              * (CAST(s.c_sw AS DOUBLE) / CAST(b.n_s AS DOUBLE))
        |              * LN((CAST(s.c_sw AS DOUBLE) * CAST(t.n AS DOUBLE))
        |                   / (CAST(b.n_s AS DOUBLE) * CAST(w.c_w AS DOUBLE))))
        |              AS BIGINT) fx
        |          FROM sw s JOIN bw w USING (w) JOIN bs b USING (source)
        |          CROSS JOIN t),
        |kls AS (SELECT source, SUM(fx) kl_fx FROM terms GROUP BY 1)
        |SELECT b.source, b.n_s AS n_tokens, b.vocab,
        |       CAST(k.kl_fx AS DOUBLE) / 1000000.0 AS kl
        |FROM bs b JOIN kls k USING (source) ORDER BY source""".stripMargin))(sourceKl)

  /** Token-length histogram per language in power-of-two buckets — the
    * context-length planning report (what fraction of each language's
    * documents fit in a 1k/4k/8k window, what the packing block size
    * should be, where truncation starts to bite). Bucket = the largest
    * power of two ≤ the whitespace token count, assigned by an exact
    * integer CASE chain on BOTH engines (never floor(log2(n)) — log2 of
    * an exact power of two is not reliably exact in floating point).
    * Scale shape: per-row projection + ONE map-side-combined aggregate
    * keyed (lang, bucket) — partials collapse to langs×buckets rows per
    * partition; the share window runs over that tiny post-agg frame,
    * partitioned by lang. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    Tables.documents(spark, dir)
      .select(col("lang"), lenBucketCol.as("bucket_lo"))
      .groupBy("lang", "bucket_lo")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(w).cast(DoubleType))
      .orderBy("lang", "bucket_lo")
  }
  query("q_length_histogram", Oracle(lengthHistogramSql))(lengthHistogram)
  /** q_length_histogram oracle generated from [[LengthBuckets]] — the
    * same exact-integer bucket assignment as a descending CASE chain. */
  private def lengthHistogramSql: String = {
    s"""WITH b AS (SELECT lang,
       |             $lenBucketCaseSql AS bucket_lo
       |           FROM documents),
       |h AS (SELECT lang, bucket_lo, CAST(COUNT(*) AS BIGINT) n_docs
       |      FROM b GROUP BY 1, 2)
       |SELECT lang, bucket_lo, n_docs,
       |       CAST(n_docs AS DOUBLE)
       |         / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS share
       |FROM h ORDER BY lang, bucket_lo""".stripMargin
  }

  /** Power-of-two bucket floors shared by [[lengthHistogram]] and its
    * generated oracle SQL — ascending so the fold's last-match-wins
    * nesting picks the LARGEST floor ≤ n. */
  private val LengthBuckets: Seq[Long] =
    (1 to 13).map(p => 1L << p) // 2 .. 8192

  /** Largest power-of-two floor ≤ the whitespace token count, as a
    * Column — the fold is last-match-wins, so ascending bucket order
    * picks the LARGEST satisfied floor. Shared by [[lengthHistogram]]
    * and [[splitPsi]]. */
  private[queries] def lenBucketCol: Column = {
    val n = size(split(col("text"), " "))
    LengthBuckets.foldLeft(lit(1L)) { (acc, b) =>
      when(n >= b, lit(b)).otherwise(acc)
    }
  }

  /** The same bucket assignment as a DuckDB CASE chain (descending, so
    * the FIRST satisfied arm is the largest floor) — shared by the
    * q_length_histogram and q_split_psi oracles. */
  private[queries] def lenBucketCaseSql: String = {
    val cases = LengthBuckets.reverse
      .map(b => s"WHEN LEN(STRING_SPLIT(text, ' ')) >= $b THEN $b")
      .mkString("\n              ")
    s"CAST(CASE $cases\n              ELSE 1 END AS BIGINT)"
  }

}
