package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{TextAnalysis => TA}
import AuditQueries.{lenBucketCaseSql, lenBucketCol}
import DedupQueries.jaccardSql
import SharedArtifacts.nearDupClusters

/** Sampling and mixture queries: stratified and per-group samples,
  * mixture resampling and allocation (temperature, UniMax), and
  * train/holdout splits with their drift.
  */
object SamplingQueries extends QueryFamily {
  /** Stratified deterministic subsample: 30% of en, 60% of de, 90% of
    * everything else — the downsample-the-dominant-language shape. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 30, "de" -> 60), defaultPct = 90)
      .orderBy("doc_id")
  query("q_stratified_sample", Oracle(
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
        |      CASE WHEN lang = 'en' THEN 30 WHEN lang = 'de' THEN 60 ELSE 90 END
        |ORDER BY doc_id""".stripMargin))(stratifiedSample)

  /** [[graft.operators.Sampling.mixtureResample]] to a 40/20/20/20
    * en/de/es/zh target over the skewed language distribution (en holds
    * ~44% of the corpus): en downsamples, the binding source keeps
    * everything, fr (no weight) drops. The oracle restates the whole
    * recipe — per-source counts, T = MIN(n/w), bucket < w·T/n·mod with
    * the proven md5-bucket SQL — so the mixture math itself is part of
    * the checked semantics, not just the final filter. */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureResample(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", "lang",
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "zh" -> 0.2))
      .orderBy("doc_id")
  // the mixture recipe restated end to end: counts, the binding ratio
  // T = MIN(n/w) (DOUBLE division), per-source bucket rate w·T/n·mod in
  // the SAME left-to-right IEEE op order as the Scala side, then the
  // proven md5-bucket filter. fr has no weight row: the join drops it.
  query("q_mixture_resample", Oracle(
      """WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, CAST(wt AS DOUBLE) AS wt
        |      FROM (VALUES ('en', 0.4), ('de', 0.2), ('es', 0.2), ('zh', 0.2)) AS w(lang, wt)),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS t FROM n JOIN w USING (lang)),
        |r AS (SELECT lang, wt * t.t / n * 1000000 AS rate FROM n JOIN w USING (lang), t)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS DOUBLE) < rate
        |ORDER BY doc_id""".stripMargin))(mixtureResample)

  /** Temperature-flattened mixture over the per-language doc counts —
    * no hand-written card; see
    * [[graft.operators.Sampling.temperatureResample]]. */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureResample(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", "lang")
      .orderBy("doc_id")
  // temperature mixture: weights are SQRT(n) (correctly-rounded IEEE on
  // both engines, unlike pow), then the identical T = MIN(n/w) recipe
  // and md5-bucket filter in the same left-to-right IEEE op order
  query("q_temperature_mixture", Oracle(
      """WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, SQRT(CAST(n AS DOUBLE)) AS wt, n FROM n),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS t FROM w),
        |r AS (SELECT lang, wt * t.t / n * 1000000 AS rate FROM w, t)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS DOUBLE) < rate
        |ORDER BY doc_id""".stripMargin))(temperatureMixture)

  /** [[mixtureResample]]'s token-weighted sibling: the same 40/20/20/20
    * target, but the per-language mass is Σ tokens — the form a real
    * dataset card states. Keeps (doc_id, lang, n_tokens) so the oracle
    * checks the token accounting too. */
  def mixtureTokens(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureResampleTokens(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
          TA.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "lang", "n_tokens",
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "zh" -> 0.2))
      .orderBy("doc_id")
  // token-weighted mixture: identical recipe with n = per-language
  // token sums (the LEN(STRING_SPLIT) token count proven elsewhere)
  query("q_mixture_tokens", Oracle(
      """WITH d AS (SELECT doc_id, lang, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) n_tokens FROM documents),
        |n AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS n FROM d GROUP BY lang),
        |w AS (SELECT lang, CAST(wt AS DOUBLE) AS wt
        |      FROM (VALUES ('en', 0.4), ('de', 0.2), ('es', 0.2), ('zh', 0.2)) AS w(lang, wt)),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS t FROM n JOIN w USING (lang)),
        |r AS (SELECT lang, wt * t.t / n * 1000000 AS rate FROM n JOIN w USING (lang), t)
        |SELECT d.doc_id, d.lang, d.n_tokens
        |FROM d JOIN r USING (lang)
        |WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS DOUBLE) < rate
        |ORDER BY doc_id""".stripMargin))(mixtureTokens)

  /** UniMax language-balanced allocation
    * ([[graft.operators.Sampling.unimaxAlloc]]): the 60%-of-corpus token
    * budget waterfilled uniformly across languages with a 1-epoch cap —
    * the languages-sized allocation table (mass, allocation, per-million
    * keep rate) a curator composes with the md5-bucket filter. */
  def unimaxAlloc(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.unimaxAlloc(
        Tables.documents(spark, dir).select(col("lang"),
          TA.tokenCount(col("text")).as("n_tokens")),
        "lang", "n_tokens")
      .orderBy("lang")
  query("q_unimax_alloc", Oracle(unimaxAllocSql))(unimaxAlloc)
  /** Integer waterfill restated as a recursive CTE over the
    * mass-ascending language order — the packNextFit oracle pattern:
    * each iteration allocates one language, carrying `remaining`. */
  private def unimaxAllocSql: String =
    """WITH RECURSIVE m AS (SELECT lang, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) mass
      |       FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(SUM(mass) AS BIGINT) total, CAST(COUNT(*) AS BIGINT) n FROM m),
      |s AS (SELECT lang, mass, ROW_NUMBER() OVER (ORDER BY mass ASC, lang ASC) rn FROM m),
      |r AS (
      |  SELECT s.lang, s.mass, s.rn,
      |         LEAST(s.mass, (tot.total * 6 // 10) // tot.n) AS alloc,
      |         (tot.total * 6 // 10) - LEAST(s.mass, (tot.total * 6 // 10) // tot.n) AS remaining
      |  FROM s, tot WHERE s.rn = 1
      |  UNION ALL
      |  SELECT s.lang, s.mass, s.rn,
      |         LEAST(s.mass, r.remaining // (tot.n - r.rn)) AS alloc,
      |         r.remaining - LEAST(s.mass, r.remaining // (tot.n - r.rn))
      |  FROM r JOIN s ON s.rn = r.rn + 1 CROSS JOIN tot)
      |SELECT lang, mass AS lang_tokens, alloc AS alloc_tokens,
      |       CAST(alloc AS DOUBLE) * 1000000.0 / mass AS rate
      |FROM r ORDER BY lang""".stripMargin

  /** Exactly 25 documents per language, deterministically chosen. */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.samplePerGroup(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", "lang", k = 25)
      .orderBy("doc_id")
  query("q_sample_per_group", Oracle(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 ASC,
        |                    doc_id ASC) rn
        |  FROM documents) WHERE rn <= 25 ORDER BY doc_id""".stripMargin))(samplePerGroup)

  /** Deterministic md5-bucket train/test assignment per document. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.trainTestSplit(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", trainPct = 90)
      .select("doc_id", "lang", "bucket", "split")
      .orderBy("doc_id")
  query("q_train_split", Oracle(
      """SELECT doc_id, lang,
        |       ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
        |       CASE WHEN ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |            THEN 'train' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin))(trainSplit)

  /** Leakage-safe split: [[trainSplit]]'s deterministic md5-bucket
    * assignment keyed on the NEAR-DUP CLUSTER instead of the document,
    * so two near-duplicates can never straddle train/test — the eval-
    * contamination failure a per-document hash split cannot prevent
    * (the doc-level q_train_split puts ~2·p(1−p) of each dup pair
    * across the boundary; this puts zero). Every document maps to its
    * MinHash connected-component canonical (its own id when
    * unduplicated) and the bucket hashes that `unit_id`. Scale shape:
    * the component table is dup-docs-sized → BROADCAST left join onto
    * the corpus spine (the [[dedupWeights]] argument); the split itself
    * stays a narrow per-row hash — no new shuffle beyond the pair
    * mining already proven for [[dedupClusters]]. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val units = docs.select(col("doc_id"), col("lang"))
      .join(broadcast(nearDupClusters(spark, dir)), Seq("doc_id"), "left")
      .withColumn("unit_id", coalesce(col("canonical_id"), col("doc_id")))
    graft.operators.Sampling.trainTestSplit(units, "unit_id", trainPct = 90)
      .select("doc_id", "lang", "unit_id", "bucket", "split")
      .orderBy("doc_id")
  }
  // q_leakage_safe_split: the q_dedup_clusters reachability closure
  // picks each dup doc's canonical, COALESCE defaults singletons to
  // themselves, and the bucket is the q_train_split md5 recipe over
  // the unit id.
  query("q_leakage_safe_split", Oracle(
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT da a, db b FROM jp UNION SELECT db a, da b FROM jp),
         |reach AS (SELECT a AS node, a AS reachable FROM edges
         |          UNION
         |          SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reachable),
         |comp AS (SELECT node AS doc_id, MIN(reachable) AS canonical_id
         |         FROM reach GROUP BY node),
         |u AS (SELECT d.doc_id, d.lang,
         |        COALESCE(c.canonical_id, d.doc_id) AS unit_id
         |      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id, lang, unit_id,
         |       ('0x' || SUBSTR(MD5(CAST(unit_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
         |       CASE WHEN ('0x' || SUBSTR(MD5(CAST(unit_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
         |            THEN 'train' ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin))(leakageSafeSplit)

  /** Population Stability Index between the train and test splits, per
    * feature bucket — the split-health audit run before trusting an
    * evaluation: a hash split SHOULD distribute every feature identically
    * (PSI ≈ 0); a bucket with a large `psi_term` means the eval set is
    * not measuring the training distribution for that slice (industry
    * folklore: Σ psi_term > 0.2 = act). Features audited: `lang` (the
    * categorical) and `length` (the [[LengthBuckets]] power-of-two
    * floor), both riding ONE scan — a 2-element explode per row, then
    * one map-side-combined aggregate on (feature, bucket) and a
    * broadcast join of the feature-level totals. The log rides the
    * 1e-6 floor-quantized fixed-point doctrine (the BM25-IDF treatment)
    * so the reported doubles come from one shared IEEE op order; a
    * bucket empty on either side reports psi_term NULL (the standard
    * "PSI undefined, act anyway" signal) rather than ±∞. */
  def splitPsi(spark: SparkSession, dir: String): DataFrame = {
    val assigned = graft.operators.Sampling.trainTestSplit(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          lenBucketCol.cast(StringType).as("len_bucket")),
      "doc_id", trainPct = 90)
    val counts = assigned
      .select(col("split"), explode(array(
          struct(lit("lang").as("feature"), col("lang").as("bucket")),
          struct(lit("length").as("feature"), col("len_bucket").as("bucket"))))
        .as("fb"))
      .select(col("split"), col("fb.feature").as("feature"), col("fb.bucket").as("bucket"))
      .groupBy("feature", "bucket")
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    val totals = counts.groupBy("feature")
      .agg(sum(col("n_train")).as("tot_train"), sum(col("n_test")).as("tot_test"))
    val pTrain = col("n_train").cast(DoubleType) / col("tot_train").cast(DoubleType)
    val pTest = col("n_test").cast(DoubleType) / col("tot_test").cast(DoubleType)
    counts.join(broadcast(totals), Seq("feature"))
      .select(col("feature"), col("bucket"), col("n_train"), col("n_test"),
        pTrain.as("p_train"), pTest.as("p_test"),
        when(col("n_train") > 0 && col("n_test") > 0,
          (pTrain - pTest) *
            (floor(log(pTrain / pTest) * lit(1000000.0)).cast(LongType)
              .cast(DoubleType) / lit(1000000.0)))
          .otherwise(lit(null).cast(DoubleType)).as("psi_term"))
      .orderBy("feature", "bucket")
  }
  query("q_split_psi", Oracle(splitPsiSql))(splitPsi)
  /** q_split_psi oracle: the q_train_split md5-bucket predicate, the
    * shared [[lenBucketCaseSql]] assignment, and the identical
    * fixed-point-log PSI arithmetic (floor-quantized LN at 1e-6, then
    * one shared IEEE op order for the emitted doubles). */
  private def splitPsiSql: String =
    s"""WITH s AS (SELECT lang,
       |             CAST($lenBucketCaseSql AS VARCHAR) AS len_bucket,
       |             CASE WHEN ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
       |                  THEN 'train' ELSE 'test' END AS split
       |           FROM documents),
       |f AS (SELECT 'lang' AS feature, lang AS bucket, split FROM s
       |      UNION ALL
       |      SELECT 'length' AS feature, len_bucket AS bucket, split FROM s),
       |c AS (SELECT feature, bucket,
       |             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) n_train,
       |             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) n_test
       |      FROM f GROUP BY 1, 2),
       |t AS (SELECT feature, CAST(SUM(n_train) AS BIGINT) tot_train,
       |             CAST(SUM(n_test) AS BIGINT) tot_test
       |      FROM c GROUP BY 1)
       |SELECT feature, bucket, n_train, n_test,
       |       CAST(n_train AS DOUBLE) / CAST(tot_train AS DOUBLE) AS p_train,
       |       CAST(n_test AS DOUBLE) / CAST(tot_test AS DOUBLE) AS p_test,
       |       CASE WHEN n_train > 0 AND n_test > 0 THEN
       |         (CAST(n_train AS DOUBLE) / CAST(tot_train AS DOUBLE)
       |           - CAST(n_test AS DOUBLE) / CAST(tot_test AS DOUBLE))
       |         * (CAST(FLOOR(LN((CAST(n_train AS DOUBLE) / CAST(tot_train AS DOUBLE))
       |                          / (CAST(n_test AS DOUBLE) / CAST(tot_test AS DOUBLE)))
       |                       * 1000000.0) AS BIGINT) / 1000000.0)
       |       ELSE NULL END AS psi_term
       |FROM c JOIN t USING (feature)
       |ORDER BY feature, bucket""".stripMargin

  /** Corpus mixture report: per (source, lang), document and token
    * counts plus each cell's share of the whole corpus — the dataset
    * card every training run starts from. One map-side-combined
    * aggregation shuffle over the corpus; the share window runs on the
    * POST-aggregation frame (≤ sources × languages rows), so its
    * single-partition exchange moves a few hundred bytes, not data. */
  def sourceMixture(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TA.tokenCount(col("text"))).as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens").cast(DoubleType) / sum(col("n_tokens")).over(w).cast(DoubleType))
      .withColumn("doc_share",
        col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(w).cast(DoubleType))
      .orderBy("source", "lang")
  }
  query("q_source_mixture", Oracle(
      """WITH a AS (SELECT source, lang, COUNT(*) AS n_docs,
        |             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        |       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share,
        |       CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE) AS doc_share
        |FROM a ORDER BY source, lang""".stripMargin))(sourceMixture)
}
