package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}
import graft.operators.{Dedup, TextAnalysis => TA}
import AuditQueries.pctl
import SharedArtifacts.{DsirBuckets, NbBuckets, sharedBpeModel, sharedDsirScores,
  sharedLmModel, sharedLmScores, sharedNbHoldout}
import TokenQueries.{bpeCtes, wtokCte}

/** Text-quality and LM-scoring queries over `documents`: per-document
  * statistics and language id, repetition and entropy signals, bigram-LM
  * and DSIR scores, Naive-Bayes classification, quality ensembles and
  * gates, lexicon and PII scrubbing, and the composed curation pipeline.
  */
object QualityQueries extends QueryFamily {
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TA.charCount(col("text")).as("char_len"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.avgTokenLen(col("text")).as("avg_token_len"),
        TA.stopwordRatio(col("text")).as("stopword_ratio"),
        TA.distinctTokenRatio(col("text")).as("distinct_ratio"),
        TA.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  query("q_text_stats", Oracle(
      s"""SELECT doc_id,
         |       CAST(LENGTH(text) AS BIGINT) AS char_len,
         |       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         |       CASE WHEN LEN(STRING_SPLIT(text, ' ')) = 0 THEN 0.0
         |            ELSE CAST(LIST_AGGREGATE(LIST_TRANSFORM(STRING_SPLIT(text, ' '), x -> CAST(LENGTH(x) AS BIGINT)), 'sum') AS DOUBLE)
         |                 / LEN(STRING_SPLIT(text, ' ')) END AS avg_token_len,
         |       CASE WHEN LEN(STRING_SPLIT(text, ' ')) = 0 THEN 0.0
         |            ELSE CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS($stopList, x))) AS DOUBLE)
         |                 / LEN(STRING_SPLIT(text, ' ')) END AS stopword_ratio,
         |       CASE WHEN LEN(STRING_SPLIT(text, ' ')) = 0 THEN 0.0
         |            ELSE CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
         |                 / LEN(STRING_SPLIT(text, ' ')) END AS distinct_ratio,
         |       $qualitySql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin))(textStats)

  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TA.langId(col("text")).as("lang_guess"),
        TA.markerHits(col("text"), TA.langMarkers("en")).as("en_hits"),
        TA.markerHits(col("text"), TA.langMarkers("de")).as("de_hits"),
        TA.markerHits(col("text"), TA.langMarkers("fr")).as("fr_hits"),
        TA.markerHits(col("text"), TA.langMarkers("es")).as("es_hits"))
      .orderBy("doc_id")
  query("q_lang_id", Oracle(langIdGuessSql))(langId)

  // q_lm_gate keep-threshold: the corpus-median lm_score (~0.0345 on the
  // synthetic documents at every SF — the vocabulary, and therefore the
  // score scale, is SF-invariant), so the gate visibly splits the corpus.
  private val LmGateThreshold = 0.0345
  /** Per-language ADAPTIVE quality gate: keep documents at or above
    * their own language's 25th quality percentile — thresholds derived
    * from the corpus itself instead of a magic constant, so a verbose
    * language can't starve a terse one. The per-lang quantile frame is
    * languages-sized → broadcast back; the gate stays a narrow filter.
    * Exact `percentile` matches the oracle's `quantile_cont` bit-for-bit
    * (the q_doc_percentiles argument); the per-row score is IEEE-
    * deterministic (the q_text_stats argument), so the kept set is
    * engine-independent. The operator
    * ([[graft.operators.Sampling.adaptiveGate]]) also carries the 100 TB
    * path — `exact = false` swaps the threshold step to bounded-memory
    * `percentile_approx` with the gate unchanged (AdaptiveGateSpec is the
    * exact/approx parity contract); the oracle hash-check needs the exact
    * form, so that is what this query runs. */
  def adaptiveQualityGate(spark: SparkSession, dir: String): DataFrame = {
    // pinned once (r17, the qualityAgreement rule): adaptiveGate
    // consumes this twice (threshold aggregate + join-back), and each
    // consumption re-ran the qualityScore text pass. Narrow rows.
    val scored = Materialize.pin(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TA.qualityScore(col("text")).as("quality")))
    graft.operators.Sampling.adaptiveGate(scored, "lang", "quality",
        quantile = 0.25, exact = true)
      .withColumnRenamed("q_thr", "q25")
      .select("doc_id", "lang", "quality", "q25")
      .orderBy("doc_id")
  }
  query("q_adaptive_quality", Oracle(
      s"""WITH scored AS (SELECT doc_id, lang, $qualitySql AS quality FROM documents),
         |th AS (SELECT lang, quantile_cont(quality, 0.25) AS q25 FROM scored GROUP BY lang)
         |SELECT doc_id, s.lang AS lang, quality, q25
         |FROM scored s JOIN th ON s.lang = th.lang
         |WHERE quality >= q25 ORDER BY doc_id""".stripMargin))(adaptiveQualityGate)

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    * the fraction of characters covered by the most frequent word bigram
    * (count × gram chars / doc chars) and by duplicated word trigrams
    * (grams occurring more than once). High values flag boilerplate-like,
    * repetitive documents. Two map-side-combined aggregations over the
    * exploded n-gram stream — scale-safe at any corpus size (keys are
    * (doc, gram); no per-document quadratic work). */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    TA.repetitionStats(Tables.documents(spark, dir), "text", "doc_id", "n_chars")
      .orderBy("doc_id")
  query("q_quality_repetition", Oracle(
      """WITH t AS (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) tok,
        |                  unnest(range(len(string_split(text, ' ')))) pos
        |           FROM documents),
        |g AS (SELECT doc_id, n_chars,
        |             tok || ' ' || lead(tok, 1) OVER w AS g2,
        |             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS g3
        |      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |c2 AS (SELECT doc_id, n_chars, g2, count(*) cnt FROM g WHERE g2 IS NOT NULL GROUP BY 1, 2, 3),
        |top2 AS (SELECT doc_id, g2, cnt FROM (
        |   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g2 ASC) rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT doc_id, g3, count(*) cnt FROM g WHERE g3 IS NOT NULL GROUP BY 1, 2),
        |d3 AS (SELECT doc_id, SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(g3) END) dupchars FROM c3 GROUP BY doc_id)
        |SELECT d.doc_id, t.g2 AS top_bigram,
        |       CASE WHEN d.n_chars = 0 OR t.cnt IS NULL THEN 0.0
        |            ELSE t.cnt * LENGTH(t.g2) * 1.0 / d.n_chars END AS top_bigram_frac,
        |       CASE WHEN d.n_chars = 0 OR x.dupchars IS NULL THEN 0.0
        |            ELSE x.dupchars * 1.0 / d.n_chars END AS dup_trigram_frac
        |FROM documents d LEFT JOIN top2 t ON t.doc_id = d.doc_id LEFT JOIN d3 x ON x.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin))(repetitionStats)

  /** The FULL Gopher repetition battery (Rae et al. 2021 §A1.1, the
    * n-gram half): per document, the fraction of characters covered by
    * the most frequent n-gram for n ∈ {2,3,4} (count × gram chars /
    * doc chars) and by duplicated n-grams for n ∈ {5..10} (Σ count ×
    * gram chars over grams occurring more than once) — the nine
    * columns MassiveText thresholds to drop machine-generated
    * repetition ([[repetitionStats]] is the 2-signal teaser; this is
    * the whole table). Scale shape: the signals are DOC-LOCAL, so all
    * NINE ride one narrow shuffle-free projection of per-row
    * [[graft.functions.GramStats]] natives — never nine exploded gram
    * shuffles (the formulation the in-row native replaced, measured
    * 2.3× slower at n=2,3 alone). */
  def repetitionProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id") +:
        repetitionSignals(col("text"), col("n_chars"))
          .map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  query("q_repetition_profile", Oracle(repetitionProfileSql))(repetitionProfile)
  /** q_repetition_profile oracle: per n, explode the n-grams from the
    * shared token array, count per (doc, gram), and restate the two
    * fraction families with the exact tie-break ((cnt DESC, gram ASC))
    * and the integer-multiply-then-divide IEEE order the native uses.
    * Docs shorter than n have no grams → NULL-guarded 0.0, the
    * GramStats edge. */
  private def repetitionProfileSql: String = {
    def gramExpr(n: Int) = (1 to n).map(j => s"a[i+$j]").mkString(" || ' ' || ")
    val ns = RepetitionTopNs ++ RepetitionDupNs
    val gramCtes = ns.map { n =>
      s"""g$n AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-${n - 1}, 0)),
         |          i -> ${gramExpr(n)})) AS g FROM arr),
         |c$n AS (SELECT doc_id, g, COUNT(*) cnt FROM g$n GROUP BY 1, 2)""".stripMargin
    }
    val tops = RepetitionTopNs.map { n =>
      s"""t$n AS (SELECT doc_id, g, cnt FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) rn
         |  FROM c$n) WHERE rn = 1)""".stripMargin
    }
    val dups = RepetitionDupNs.map { n =>
      s"""d$n AS (SELECT doc_id, SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(g) END) dc
         |       FROM c$n GROUP BY 1)""".stripMargin
    }
    val topCols = RepetitionTopNs.map { n =>
      s"""CASE WHEN d.n_chars = 0 OR t$n.cnt IS NULL THEN 0.0
         |     ELSE t$n.cnt * LENGTH(t$n.g) * 1.0 / d.n_chars END AS top_${n}gram_frac""".stripMargin
    }
    val dupCols = RepetitionDupNs.map { n =>
      s"""CASE WHEN d.n_chars = 0 OR d$n.dc IS NULL THEN 0.0
         |     ELSE d$n.dc * 1.0 / d.n_chars END AS dup_${n}gram_frac""".stripMargin
    }
    val joins = RepetitionTopNs.map(n => s"LEFT JOIN t$n ON t$n.doc_id = d.doc_id") ++
      RepetitionDupNs.map(n => s"LEFT JOIN d$n ON d$n.doc_id = d.doc_id")
    s"""WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
       |${(gramCtes ++ tops ++ dups).mkString(",\n")}
       |SELECT d.doc_id,
       |${(topCols ++ dupCols).mkString(",\n")}
       |FROM documents d
       |${joins.mkString("\n")}
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The nine repetition fractions of [[repetitionProfile]] as
    * (name, Column) pairs, in output order. */
  private def repetitionSignals(text: Column,
      nChars: Column): Seq[(String, Column)] = {
    import graft.functions.GramStats.gramStats
    RepetitionTopNs.map { n =>
      val s = gramStats(text, n)
      s"top_${n}gram_frac" ->
        when(nChars === 0 || s.getField("top_cnt") === 0, lit(0.0))
          .otherwise((s.getField("top_cnt") * length(s.getField("top_gram")))
            .cast(DoubleType) / nChars)
    } ++ RepetitionDupNs.map { n =>
      val s = gramStats(text, n)
      s"dup_${n}gram_frac" ->
        when(nChars === 0, lit(0.0))
          .otherwise(s.getField("dup_chars").cast(DoubleType) / nChars)
    }
  }

  private[graft] val RepetitionTopNs = Seq(2, 3, 4)
  private[graft] val RepetitionDupNs = Seq(5, 6, 7, 8, 9, 10)

  /** Corpus-wide boilerplate detection: 3-grams appearing in ≥ minDf
    * distinct documents are "boilerplate"; per document, the fraction of
    * its distinct 3-grams that are boilerplate. The doc-frequency count is
    * one map-side-combined shuffle on the gram; the (small) boilerplate
    * set is broadcast back — the corpus side never shuffles for the
    * membership test, the same shape as benchmark decontamination. */
  def boilerplate(spark: SparkSession, dir: String, minDf: Int = 5): DataFrame =
    // pinned BEFORE the orderBy: the global sort's range-partitioner
    // sampling would otherwise execute the df-count + membership join twice
    Materialize.pin(
        TA.boilerplateStats(Tables.documents(spark, dir), "text", "doc_id", minDf))
      .orderBy("doc_id")
  query("q_boilerplate", Oracle(
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
        |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
        |boiler AS (SELECT s FROM (SELECT s, COUNT(*) df FROM sh GROUP BY s) WHERE df >= 5)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_grams,
        |       CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_boiler,
        |       SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS boiler_frac
        |FROM sh LEFT JOIN boiler b ON b.s = sh.s
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))(boilerplate(_, _))

  /** PII scrubbing audit over a contact-card string assembled from
    * customer fields (the synthetic tables carry no raw PII, so the query
    * builds a deterministic one — the OPERATOR is [[graft.operators.Redact]]
    * and runs unmodified over any real column): the full default rule
    * chain (email → IPv4 → phone → digit runs) plus per-rule counts.
    * Pure narrow projection; no shuffle. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Redact
    val contact = concat(
      lit("user"), col("c_custkey").cast(StringType),
      lit("@example.com tel +1 555-"),
      lpad((col("c_custkey") % 10000).cast(StringType), 4, "0"),
      lit(" ip 10.0."), col("c_nationkey").cast(StringType),
      lit("."), (col("c_custkey") % 256).cast(StringType),
      lit(" port "), (col("c_custkey") % 90 + 10).cast(StringType),
      lit(" acct "), (col("c_custkey") + 7000000).cast(StringType))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), contact.as("contact"))
      .select(col("c_custkey"),
        Redact.scrub(col("contact")).as("scrubbed"),
        Redact.matchCount(col("contact"), Redact.email).as("n_emails"),
        Redact.matchCount(col("contact"), Redact.ipv4).as("n_ips"),
        Redact.matchCount(col("contact"), Redact.phone).as("n_phones"),
        Redact.matchCount(col("contact"), Redact.digitRun).as("n_ids"))
      .orderBy("c_custkey")
  }
  query("q_pii_scrub", Oracle(piiScrubSql))(piiScrub)
  private def piiScrubSql: String = {
    import graft.operators.Redact
    // single-line: the outer template's stripMargin would otherwise eat
    // the leading | of a line-initial ||
    val contact = "'user' || c_custkey || '@example.com tel +1 555-' || " +
      "lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || " +
      "' ip 10.0.' || c_nationkey || '.' || (c_custkey % 256) || " +
      "' port ' || (c_custkey % 90 + 10) || ' acct ' || (c_custkey + 7000000)"
    val scrub = Redact.defaults.foldLeft("contact") { (acc, r) =>
      s"regexp_replace($acc, '${rx(r)}', '${r.replacement}', 'g')"
    }
    s"""WITH c AS (SELECT c_custkey, $contact AS contact FROM customer)
       |SELECT c_custkey, $scrub AS scrubbed,
       |  CAST(len(regexp_extract_all(contact, '${rx(Redact.email)}')) AS BIGINT) n_emails,
       |  CAST(len(regexp_extract_all(contact, '${rx(Redact.ipv4)}')) AS BIGINT) n_ips,
       |  CAST(len(regexp_extract_all(contact, '${rx(Redact.phone)}')) AS BIGINT) n_phones,
       |  CAST(len(regexp_extract_all(contact, '${rx(Redact.digitRun)}')) AS BIGINT) n_ids
       |FROM c ORDER BY c_custkey""".stripMargin
  }

  private[graft] val SelfDedupW = 2

  /** Quality-gate threshold sweep: for a 20-step threshold grid over the
    * [[TA.qualityScore]] signal, how many documents each gate would keep
    * — the calibration table a curator reads before picking a cutoff.
    * The scale shape is the point: a sweep is NOT 20 corpus passes (nor
    * a corpus×grid cross join) — scores histogram into a bounded 20-row
    * table in ONE map-side-combined aggregate, and every threshold's
    * keep-count is a suffix-sum over that table. The window/join after
    * the aggregate touch 20 rows, nothing corpus-sized. */
  def gateSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TA.qualityScore(col("text"))
    val hist = Tables.documents(spark, dir)
      .select(least(floor(q * lit(20.0)).cast(LongType), lit(19L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val dense = spark.range(0, 20).toDF("bucket")
      .join(hist, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
    val suffix = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // total = the bucket-0 suffix sum — derived from the 20-row table
    // itself (max over an unbounded window), NOT a second reference to
    // the corpus subtree that would only collapse under ReuseExchange
    val whole = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dense
      .withColumn("n_ge", sum("n").over(suffix).cast(LongType))
      .withColumn("total", max(col("n_ge")).over(whole))
      .select(
        (col("bucket").cast(DoubleType) / lit(20.0)).as("threshold"),
        col("n_ge"),
        (col("n_ge").cast(DoubleType) / col("total")).as("frac"))
      .orderBy("threshold")
  }
  query("q_gate_sweep", Oracle(gateSweepSql))(gateSweep)
  /** Sweep restated: same 20-bucket histogram + suffix-sum. */
  private def gateSweepSql: String =
    s"""WITH q AS (SELECT $qualitySql AS q FROM documents),
       |h AS (SELECT LEAST(CAST(FLOOR(q * 20.0) AS BIGINT), 19) b,
       |             CAST(COUNT(*) AS BIGINT) n
       |      FROM q GROUP BY 1),
       |g AS (SELECT CAST(range AS BIGINT) b FROM RANGE(20)),
       |j AS (SELECT g.b, COALESCE(h.n, 0) n FROM g LEFT JOIN h ON h.b = g.b),
       |c AS (SELECT b, CAST(SUM(n) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) n_ge FROM j),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) total FROM j)
       |SELECT CAST(b AS DOUBLE) / 20.0 AS threshold, n_ge,
       |       CAST(n_ge AS DOUBLE) / total AS frac
       |FROM c CROSS JOIN t ORDER BY threshold""".stripMargin

  /** Character-entropy quality signal ([[graft.functions.CharEntropyFx]]):
    * Shannon entropy of each document's code-point histogram, the cheap
    * detector for repeated-character / padding / binary-ish junk that
    * length and word-ratio rules miss. One native codegen pass per row
    * (histogram local to the row), shuffle-free except the output sort.
    * Exactness: the score is a fixed-point integer (per-value FLOOR(LN
    * ·1e6) logs, exact integer sum — deterministic under any
    * accumulation order) with the nats value derived per-row. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("char_len"),
        graft.functions.CharEntropyFx.entFx(col("text")).as("ent_fx"),
        entropyNats(col("text")).as("entropy"))
      .orderBy("doc_id")
  query("q_char_entropy", Oracle(charEntropySql))(charEntropy)
  /** Fixed-point entropy restated over the exploded code-point
    * histogram. */
  private def charEntropySql: String =
    s"""WITH $entropyFxCtes
       |SELECT d.doc_id, d.char_len, CAST(COALESCE(f.ent_fx, 0) AS BIGINT) AS ent_fx,
       |       CASE WHEN d.char_len = 0 THEN 0.0
       |            ELSE (CAST(COALESCE(f.ent_fx, 0) AS DOUBLE) / 1000000.0) / d.char_len END AS entropy
       |FROM dl d LEFT JOIN fx f ON f.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The ONE definition of the entropy-in-nats expression — shared by
    * [[charEntropy]] and [[curationPipeline]]'s gate, so the fixed-point
    * scale and the empty-text convention can never drift between them.
    * Codegen CSE collapses the duplicate native subtrees. */
  private def entropyNats(text: Column): Column = {
    val len = length(text).cast(LongType)
    when(len === 0, lit(0.0))
      .otherwise((graft.functions.CharEntropyFx.entFx(text)
          .cast(DoubleType) / lit(1000000.0)) / len)
  }

  /** [[graft.operators.TextAnalysis.lmScore]] over the corpus: the
    * bigram-LM (CCNet-shape) quality score every document, ordered for
    * the oracle compare. */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    sharedLmScores(spark, dir).orderBy("doc_id")
  query("q_lm_score", Oracle(lmScoreSql))(lmScore)

  /** The deployed form of the LM-quality filter: train the compact
    * [[graft.functions.BigramLmModel]] once (here UNPRUNED — `topK` far
    * above the corpus's gram count — so its scores are lmScore-exact
    * and the DuckDB oracle can restate them; a 100 TB run sets a real
    * topK and the rare-gram tail falls to the same 1/V floor), then
    * gate the corpus through [[TA.lmGate]]: one codegen'd
    * tokenize-hash-probe pass per row, no shuffle, no second corpus
    * scan. The threshold
    * sits at the corpus median, the "keep the fluent half" shape. */
  def lmGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = sharedLmModel(spark, dir)
    TA.lmGate(docs, "text", model, LmGateThreshold)
      .select(col("doc_id"), col("lm_score"))
      .orderBy("doc_id")
  }
  query("q_lm_gate", Oracle(lmGateSql))(lmGate)
  /** q_lm_gate oracle: the q_lm_score per-doc score (an UNPRUNED
    * [[graft.functions.BigramLmModel]] scores lmScore-identically —
    * the SurvivorLmSpec exactness contract — so the gate's kept set is
    * exactly "score ≥ threshold" under the proven score recipe), then
    * the threshold filter. Sub-2-token documents score 0 on both
    * engines and fall out identically. */
  private def lmGateSql: String =
    s"""WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
       |g AS (SELECT doc_id, a[i+1] AS w1, a[i+1] || ' ' || a[i+2] AS g2
       |      FROM arr, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
       |c2 AS (SELECT g2, COUNT(*) c2 FROM g GROUP BY g2),
       |c1 AS (SELECT w1, COUNT(*) c1 FROM g GROUP BY w1),
       |vocab AS (SELECT COUNT(DISTINCT w1) v FROM g),
       |p AS (SELECT g.doc_id, (c2.c2 + 1) * 1.0 / (c1.c1 + vocab.v) AS p
       |      FROM g JOIN c2 USING (g2) JOIN c1 USING (w1) CROSS JOIN vocab),
       |d AS (SELECT doc_id,
       |             CAST(SUM(CAST(FLOOR(p * 1e15) AS BIGINT)) AS DOUBLE)
       |               / (COUNT(*) * 1e15) AS lm_score
       |      FROM p GROUP BY doc_id)
       |SELECT doc_id, lm_score FROM d WHERE lm_score >= $LmGateThreshold
       |ORDER BY doc_id""".stripMargin

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    * language's documents into head / middle / tail by their LM score —
    * the standard corpus partitioning that lets a training mixture
    * over-sample the fluent head without dropping the tail outright.
    * Buckets are per-language quartiles of [[TA.lmScore]] (higher score =
    * more probable = head), so a verbose language's absolute scores never
    * leak into a terse one's cut, the same per-group-threshold doctrine
    * as q_adaptive_quality. Shapes: the lmScore pipeline (one corpus
    * scan, groupBy counts joined back), a languages-sized quartile frame
    * broadcast onto the scored stream, then a narrow bucket projection —
    * nothing new shuffles at 100 TB beyond lmScore itself. The quartile
    * step carries both regimes exactly like
    * [[graft.operators.Sampling.adaptiveGate]]: `exact = true` (the
    * declared query — bit-matches the oracle's `quantile_cont`, but
    * buffers a language's whole score multiset in one aggregation
    * buffer) and `exact = false`, the 100 TB path — bounded-memory
    * `percentile_approx` with the bucket projection unchanged. Rank
    * error ≤ 1/accuracy means bucket flips are confined to documents
    * whose score sits between the exact and approx cut of the SAME
    * boundary (head↔middle at q75, middle↔tail at q25) —
    * PercentileParitySpec is that contract. */
  def perplexityBuckets(spark: SparkSession, dir: String, exact: Boolean,
      accuracy: Int = 10000): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = sharedLmScores(spark, dir)
    val withLang = docs.select(col("doc_id"), col("lang"))
      .join(scored.select(col("doc_id"), col("lm_score")), Seq("doc_id"))
    val thresholds = withLang.groupBy("lang").agg(
      pctl(exact, accuracy)(col("lm_score"), 0.75).as("q75"),
      pctl(exact, accuracy)(col("lm_score"), 0.25).as("q25"))
    withLang.join(broadcast(thresholds), "lang")
      .withColumn("bucket",
        when(col("lm_score") >= col("q75"), lit("head"))
          .when(col("lm_score") >= col("q25"), lit("middle"))
          .otherwise(lit("tail")))
      .select("doc_id", "lang", "lm_score", "bucket")
      .orderBy("doc_id")
  }
  query("q_perplexity_buckets", Oracle(perplexityBucketsSql))(
    perplexityBuckets(_, _, exact = true))
  /** q_perplexity_buckets oracle: the q_lm_score recipe (engine-exact by
    * the fixed-point argument), per-language quartiles via quantile_cont
    * (bit-equal to Spark's exact `percentile` — the q_doc_percentiles
    * argument), and the same >= threshold CASE on exact doubles. */
  private def perplexityBucketsSql: String =
    """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
      |g AS (SELECT doc_id, a[i+1] AS w1, a[i+1] || ' ' || a[i+2] AS g2
      |      FROM arr, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
      |c2 AS (SELECT g2, COUNT(*) c2 FROM g GROUP BY g2),
      |c1 AS (SELECT w1, COUNT(*) c1 FROM g GROUP BY w1),
      |vocab AS (SELECT COUNT(DISTINCT w1) v FROM g),
      |p AS (SELECT g.doc_id, (c2.c2 + 1) * 1.0 / (c1.c1 + vocab.v) AS p
      |      FROM g JOIN c2 USING (g2) JOIN c1 USING (w1) CROSS JOIN vocab),
      |d AS (SELECT doc_id,
      |             CAST(SUM(CAST(FLOOR(p * 1e15) AS BIGINT)) AS DOUBLE)
      |               / (COUNT(*) * 1e15) AS lm_score
      |      FROM p GROUP BY doc_id),
      |s AS (SELECT dd.doc_id, dd.lang, COALESCE(d.lm_score, 0.0) AS lm_score
      |      FROM documents dd LEFT JOIN d ON d.doc_id = dd.doc_id),
      |t AS (SELECT lang, quantile_cont(lm_score, 0.75) q75,
      |             quantile_cont(lm_score, 0.25) q25 FROM s GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.lm_score,
      |       CASE WHEN s.lm_score >= t.q75 THEN 'head'
      |            WHEN s.lm_score >= t.q25 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM s JOIN t USING (lang) ORDER BY s.doc_id""".stripMargin

  // The 100 TB regime as its own declared query: bounded-memory
  // `percentile_approx` quartiles, bucket projection unchanged. No SQL
  // engine restates the GK sketch; the spec holds the exact-vs-approx
  // bucket-flip contract.
  query("q_perplexity_buckets_approx", Property("graft.queries.PercentileParitySpec"))(
    perplexityBuckets(_, _, exact = false))

  /** DSIR selection ([[TA.dsirScores]] — Xie et al. 2023): the English
    * slice plays the TARGET distribution, every document scores by its
    * hashed-bigram log importance weight against it, and the top 100 by
    * (score desc, doc_id) are the selected training subset — the
    * deterministic variant of the paper's Gumbel resampling, so the
    * kept set is oracle-checkable. The ln is floor-quantized to 1e-6
    * per bucket before any summation (see dsirScores), so scores are
    * engine-exact integers over 1e6. The selection itself is
    * orderBy+limit — TakeOrderedAndProject's per-partition partial
    * top-k, never a global sort or a single-partition window. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = sharedDsirScores(spark, dir)
    scored.orderBy(col("dsir_score").desc, col("doc_id").asc)
      .limit(100)
      .select("doc_id", "n_grams", "dsir_score")
      .orderBy("doc_id")
  }
  // DSIR: the q_lm_score gram recipe, the proven md5-bucket primitive,
  // one (nr, nt) count table, the smoothed ratio in the SAME IEEE op
  // order as the Scala side, ln floor-quantized to 1e-6 per bucket
  // BEFORE summation (exact integer arithmetic from there), CAST on the
  // HUGEINT-prone sums, deterministic (score DESC, doc_id) top-100
  query("q_dsir_select", Oracle(
      s"""WITH arr AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') a FROM documents),
         |g AS (SELECT doc_id, lang, a[i+1] || ' ' || a[i+2] AS g2
         |      FROM arr, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
         |gb AS (SELECT doc_id, lang, ('0x' || SUBSTR(MD5(g2), 1, 15))::BIGINT % $DsirBuckets AS b FROM g),
         |bt AS (SELECT b, CAST(COUNT(*) AS BIGINT) nr,
         |              CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) nt
         |       FROM gb GROUP BY b),
         |tot AS (SELECT CAST(SUM(nr) AS BIGINT) nr_tot, CAST(SUM(nt) AS BIGINT) nt_tot FROM bt),
         |tab AS (SELECT b, CAST(FLOOR(LN(
         |          (CAST(nt + 1 AS DOUBLE) / CAST(nt_tot + $DsirBuckets AS DOUBLE)) /
         |          (CAST(nr + 1 AS DOUBLE) / CAST(nr_tot + $DsirBuckets AS DOUBLE))
         |        ) * 1000000.0) AS BIGINT) lr_fx
         |        FROM bt CROSS JOIN tot),
         |pd AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) cnt FROM gb GROUP BY doc_id, b),
         |sc AS (SELECT pd.doc_id, CAST(SUM(pd.cnt) AS BIGINT) n_grams,
         |              CAST(SUM(pd.cnt * tab.lr_fx) AS BIGINT) fx
         |       FROM pd JOIN tab ON tab.b = pd.b GROUP BY pd.doc_id),
         |scored AS (SELECT d.doc_id, CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
         |                  CAST(COALESCE(sc.fx, 0) AS DOUBLE) / 1000000.0 AS dsir_score
         |           FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
         |rk AS (SELECT doc_id, n_grams, dsir_score,
         |              ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id ASC) r FROM scored)
         |SELECT doc_id, n_grams, dsir_score FROM rk WHERE r <= 100 ORDER BY doc_id""".stripMargin))(dsirSelect)

  /** Classifier-based data selection ([[TA.nbClassify]]): a multinomial
    * Naive-Bayes language classifier trained on the deterministic 80%
    * doc_id-mod train slice, predicting the 20% holdout — the GPT-3 /
    * PaLM "train a cheap classifier on a trusted slice, score the rest"
    * quality-filtering shape, with NB as the closed-form member (the
    * model is two count tables; training is one aggregation pass). All
    * log-probabilities floor-quantize to fixed point before summation,
    * so predictions and scores are engine-exact. */
  def nbClassify(spark: SparkSession, dir: String): DataFrame =
    sharedNbHoldout(spark, dir).orderBy("doc_id")
  // NB classifier: the dsir fixed-point doctrine applied to a dense
  // classes × buckets model — every LN floor-quantizes to 1e-6 BEFORE
  // summation, so per-(doc, class) scores are exact integers and the
  // argmax (score DESC, class ASC) is engine-independent. Sums CAST to
  // BIGINT (DuckDB HUGEINT dtype trap).
  query("q_nb_classify", Oracle(nbClassifySql))(nbClassify)

  /** Per-class precision / recall / F1 of [[nbClassify]]'s holdout
    * predictions — the evaluation table a pipeline publishes BEFORE
    * trusting any classifier-gated selection (a class with precision
    * 0.6 means 40% of what the gate admits under that label is
    * mislabeled). All counts are exact integers off the classify
    * result; the derived doubles run one mirrored IEEE op order; a
    * never-predicted class reports NULL precision/F1 rather than 0/0.
    * Scale shape: two tiny aggregations over the classified holdout
    * (classes-sized frames) and a full outer join — the expensive part
    * is the classify chain itself, already plan-proven. */
  def nbEval(spark: SparkSession, dir: String): DataFrame = {
    // the classify chain (train aggregation + scoring scan) is the
    // audit's dominant cost and feeds BOTH aggregations below — pin the
    // holdout-sized result so it runs once, not twice (artifact-backed
    // reads make this a cheap parquet re-read either way; the pin covers
    // the stamp-0 inline fallback)
    val cls = Materialize.pin(sharedNbHoldout(spark, dir))
    val byTrue = cls.groupBy("label")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
    val byPred = cls.groupBy(col("predicted").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val prec = when(col("n_pred") > 0,
      col("n_correct").cast(DoubleType) / col("n_pred").cast(DoubleType))
      .otherwise(lit(null).cast(DoubleType))
    val recall = when(col("n_true") > 0,
      col("n_correct").cast(DoubleType) / col("n_true").cast(DoubleType))
      .otherwise(lit(null).cast(DoubleType))
    // FULL outer: a class predicted for other classes' holdout docs but
    // with no holdout true rows of its own (precision 0) must still
    // appear — a left join anchored on the true side would hide it. No
    // broadcast hint: a full outer join has no broadcast build side
    byTrue.join(byPred, Seq("label"), "full")
      .withColumn("n_true", coalesce(col("n_true"), lit(0L)))
      .withColumn("n_correct", coalesce(col("n_correct"), lit(0L)))
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .withColumn("prec", prec)
      .withColumn("recall", recall)
      .select(col("label"), col("n_true"), col("n_pred"), col("n_correct"),
        col("prec"), col("recall"),
        when(col("prec").isNotNull && col("prec") + col("recall") > 0.0,
          lit(2.0) * col("prec") * col("recall") / (col("prec") + col("recall")))
          .otherwise(lit(null).cast(DoubleType)).as("f1"))
      .orderBy("label")
  }
  query("q_nb_eval", Oracle(nbEvalSql))(nbEval)
  /** q_nb_eval oracle: the SAME classify chain aggregated to the
    * per-class precision/recall/F1 table, double ops mirrored
    * column-for-column. */
  private def nbEvalSql: String =
    s"""WITH cls AS ($nbClassifySql),
       |p AS (SELECT label, CAST(COUNT(*) AS BIGINT) n_true,
       |        CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) n_correct
       |      FROM cls GROUP BY 1),
       |q AS (SELECT predicted, CAST(COUNT(*) AS BIGINT) n_pred FROM cls GROUP BY 1),
       |m AS (SELECT COALESCE(p.label, q.predicted) AS label,
       |        COALESCE(p.n_true, 0) AS n_true, COALESCE(q.n_pred, 0) AS n_pred,
       |        COALESCE(p.n_correct, 0) AS n_correct,
       |        CASE WHEN COALESCE(q.n_pred, 0) > 0
       |             THEN CAST(COALESCE(p.n_correct, 0) AS DOUBLE) / CAST(q.n_pred AS DOUBLE) END AS prec,
       |        CASE WHEN COALESCE(p.n_true, 0) > 0
       |             THEN CAST(p.n_correct AS DOUBLE) / CAST(p.n_true AS DOUBLE) END AS recall
       |      FROM p FULL OUTER JOIN q ON q.predicted = p.label)
       |SELECT label, n_true, n_pred, n_correct, prec, recall,
       |       CASE WHEN prec IS NOT NULL AND prec + recall > 0.0
       |            THEN 2.0 * prec * recall / (prec + recall) END AS f1
       |FROM m ORDER BY label""".stripMargin

  /** Language-ID confusion matrix — the heuristic [[langId]] guess
    * against the stored label, per (true, guessed) cell with the
    * within-true-class share: the audit that says WHERE the cheap
    * n-gram marker heuristic is safe to gate on and where it routes to
    * `und`/wrong (the fixture's zh has no marker list, so its row is
    * the designed failure case a curator must see). One narrow codegen
    * scan + one map-side-combined aggregate on the langs²-bounded key;
    * totals attach broadcast. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.documents(spark, dir)
      .select(col("lang").as("lang_true"), TA.langId(col("text")).as("lang_guess"))
      .groupBy("lang_true", "lang_guess").agg(count(lit(1)).as("n"))
    val t = c.groupBy("lang_true").agg(sum(col("n")).as("n_true"))
    c.join(broadcast(t), Seq("lang_true"))
      .select(col("lang_true"), col("lang_guess"), col("n"),
        (col("n").cast(DoubleType) / col("n_true").cast(DoubleType)).as("frac"),
        (col("lang_true") === col("lang_guess")).as("correct"))
      .orderBy("lang_true", "lang_guess")
  }
  query("q_langid_confusion", Oracle(langIdConfusionSql))(langIdConfusion)
  /** q_langid_confusion oracle: the q_lang_id guess restated (the same
    * hash-green marker CASE) joined to the stored label and aggregated
    * to the confusion matrix. */
  private def langIdConfusionSql: String =
    s"""WITH g AS ($langIdGuessSql),
       |c AS (SELECT d.lang AS lang_true, g.lang_guess, CAST(COUNT(*) AS BIGINT) n
       |      FROM documents d JOIN g ON g.doc_id = d.doc_id GROUP BY 1, 2),
       |t AS (SELECT lang_true, CAST(SUM(n) AS BIGINT) n_true FROM c GROUP BY 1)
       |SELECT lang_true, lang_guess, n,
       |       CAST(n AS DOUBLE) / CAST(n_true AS DOUBLE) AS frac,
       |       (lang_true = lang_guess) AS correct
       |FROM c JOIN t USING (lang_true) ORDER BY lang_true, lang_guess""".stripMargin

  /** The round-12 operators composed END-TO-END as one curation run:
    * strict lexicon gate (any "dup" hit rejects — the C4 badword rule,
    * one Aho–Corasick pass) → character-entropy gate (≥ 2.7 nats — drops
    * low-entropy junk) → within-document repeated-chunk scrub → exact
    * dedup keep-first on the SCRUBBED text → learned-BPE token
    * accounting of the survivors (model trained once per dataset and
    * read back from the persisted [[sharedBpeModel]] artifact after).
    * One narrow codegen scan carries all three gates and the scrub; the
    * only shuffles are the hex-digest dedup window and the output
    * sort. Oracle-exactness: each stage reuses its own proven oracle
    * restatement, chained as CTEs; the BPE count reads survivors' words
    * off the training chain's final states (every scrubbed word is a
    * corpus word, so the [[bpeEncode]] precondition carries over). */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lex = new graft.functions.LexiconAutomaton(CurationLex)
    val model = sharedBpeModel(spark, dir)
    val gated = docs
      .filter(graft.functions.LexiconHits.total(col("text"), lex) === 0L)
      .filter(entropyNats(col("text")) >= lit(CurationMinEntropy))
    val scrubbed = gated.select(col("doc_id"), col("lang"),
      graft.functions.SelfDedupChunks.dedup(col("text"), SelfDedupW)
        .as("text_clean"))
    Dedup.keepFirst(
        scrubbed.withColumn("digest", md5(col("text_clean"))),
        Seq("digest"), Seq(col("doc_id").asc))
      .select(col("doc_id"), col("lang"),
        size(split(col("text_clean"), " ")).cast(LongType).as("n_words_clean"),
        graft.functions.BpeEncodeCount.count(col("text_clean"), model)
          .as("n_bpe"))
      .orderBy("doc_id")
  }
  query("q_curation_pipeline", Oracle(curationPipelineSql))(curationPipeline)
  /** The composed curation run: every stage's SHARED oracle fragment
    * chained as CTEs over the BPE training chain ([[entropyFxCtes]],
    * [[scrubAggCtes]], [[wtokCte]] — one restatement each, so a fix to
    * a stage oracle can never silently diverge from the composite). */
  private def curationPipelineSql: String = {
    // total lexicon hits = Σ per-term REPLACE counts — any term set
    val lexHits = CurationLex
      .map(t => s"(LENGTH(text) - LENGTH(REPLACE(text, '$t', ''))) // ${t.length}")
      .mkString(" + ")
    s"""$bpeCtes,
       |$wtokCte,
       |lexgate AS (SELECT doc_id, lang, text FROM documents
       |            WHERE $lexHits = 0),
       |$entropyFxCtes,
       |egate AS (SELECT l.doc_id, l.lang, l.text
       |          FROM lexgate l JOIN dl ON dl.doc_id = l.doc_id
       |          LEFT JOIN fx ON fx.doc_id = l.doc_id
       |          WHERE CASE WHEN dl.char_len = 0 THEN 0.0
       |                     ELSE (CAST(COALESCE(fx.ent_fx, 0) AS DOUBLE) / 1000000.0) / dl.char_len
       |                END >= $CurationMinEntropy),
       |wsp AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') a FROM egate),
       |${scrubAggCtes("wsp")},
       |ek AS (SELECT doc_id, lang, text_clean FROM (
       |         SELECT wsp.doc_id, wsp.lang, sagg.text_dedup AS text_clean,
       |                ROW_NUMBER() OVER (PARTITION BY MD5(sagg.text_dedup) ORDER BY wsp.doc_id) rn
       |         FROM wsp JOIN sagg ON sagg.doc_id = wsp.doc_id) WHERE rn = 1),
       |dwc AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text_clean, ' ')) w FROM ek)
       |SELECT dwc.doc_id, dwc.lang,
       |       CAST(COUNT(*) AS BIGINT) AS n_words_clean,
       |       CAST(SUM(nt) AS BIGINT) AS n_bpe
       |FROM dwc JOIN wtok USING (w)
       |GROUP BY dwc.doc_id, dwc.lang ORDER BY dwc.doc_id""".stripMargin
  }

  /** Per-stage rejection audit of [[curationPipeline]] — the funnel
    * report a curator reads beside the pipeline output: how many
    * documents each gate rejected (attributed to the FIRST rejecting
    * stage, in pipeline order), how many the exact post-scrub dedup
    * dropped, and how many survived. ONE narrow codegen scan computes
    * every per-document verdict (lexicon, entropy, scrub digest), then
    * a single map-side-combined aggregation folds them to the 1-row
    * report — the only shuffle is the digest countDistinct's two-phase
    * aggregate; nothing corpus-sized moves. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val lex = new graft.functions.LexiconAutomaton(CurationLex)
    // NULL text coalesces to lexicon-rejected: the pipeline's first
    // filter drops such rows (a null predicate filters out), so
    // attributing them to stage 1 keeps the funnel ADDITIVE — without
    // the coalesce a null-text doc lands in n_input but in NO stage
    // bucket and the report stops summing
    val flagged = Tables.documents(spark, dir).select(
      coalesce(graft.functions.LexiconHits.total(col("text"), lex) === 0L,
        lit(false)).as("lex_ok"),
      coalesce(entropyNats(col("text")) >= lit(CurationMinEntropy),
        lit(false)).as("ent_ok"),
      graft.functions.SelfDedupChunks.dedup(col("text"), SelfDedupW)
        .as("text_clean"))
    flagged.agg(
        count(lit(1)).cast(LongType).as("n_input"),
        count(when(!col("lex_ok"), 1)).cast(LongType).as("n_lexicon_rejected"),
        count(when(col("lex_ok") && !col("ent_ok"), 1)).cast(LongType)
          .as("n_entropy_rejected"),
        count(when(col("lex_ok") && col("ent_ok"), 1)).cast(LongType)
          .as("n_gated"),
        countDistinct(when(col("lex_ok") && col("ent_ok"),
          md5(col("text_clean")))).cast(LongType).as("n_survivors"))
      .withColumn("n_dedup_dropped",
        (col("n_gated") - col("n_survivors")).cast(LongType))
      .select("n_input", "n_lexicon_rejected", "n_entropy_rejected",
        "n_gated", "n_dedup_dropped", "n_survivors")
      .orderBy("n_input")
  }
  query("q_curation_funnel", Oracle(curationFunnelSql))(curationFunnel)
  /** Funnel restated from the SAME stage fragments as
    * [[curationPipelineSql]] (shared [[entropyFxCtes]] /
    * [[scrubAggCtes]]) with per-stage counts instead of the survivor
    * rows — a count fix in one place fixes both oracles. */
  private def curationFunnelSql: String = {
    val lexHits = CurationLex
      .map(t => s"(LENGTH(text) - LENGTH(REPLACE(text, '$t', ''))) // ${t.length}")
      .mkString(" + ")
    // NULL text → lexicon-rejected (COALESCE FALSE) — the Spark side's
    // additivity rule, mirrored
    s"""WITH $entropyFxCtes,
       |lexf AS (SELECT doc_id, COALESCE(($lexHits) = 0, FALSE) AS lex_ok, text FROM documents),
       |entf AS (SELECT d.doc_id,
       |           COALESCE(CASE WHEN dl.char_len = 0 THEN 0.0
       |                 ELSE (CAST(COALESCE(fx.ent_fx, 0) AS DOUBLE) / 1000000.0) / dl.char_len
       |            END >= $CurationMinEntropy, FALSE) AS ent_ok
       |         FROM documents d JOIN dl ON dl.doc_id = d.doc_id
       |         LEFT JOIN fx ON fx.doc_id = d.doc_id),
       |gated AS (SELECT l.doc_id, l.text FROM lexf l JOIN entf e USING (doc_id)
       |          WHERE l.lex_ok AND e.ent_ok),
       |wsp AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM gated),
       |${scrubAggCtes("wsp")}
       |SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_input,
       |       CAST((SELECT COUNT(*) FROM lexf WHERE NOT lex_ok) AS BIGINT) AS n_lexicon_rejected,
       |       CAST((SELECT COUNT(*) FROM lexf l JOIN entf e USING (doc_id)
       |             WHERE l.lex_ok AND NOT e.ent_ok) AS BIGINT) AS n_entropy_rejected,
       |       CAST((SELECT COUNT(*) FROM gated) AS BIGINT) AS n_gated,
       |       CAST((SELECT COUNT(*) FROM gated) AS BIGINT)
       |         - CAST((SELECT COUNT(DISTINCT MD5(text_dedup)) FROM sagg) AS BIGINT) AS n_dedup_dropped,
       |       CAST((SELECT COUNT(DISTINCT MD5(text_dedup)) FROM sagg) AS BIGINT) AS n_survivors
       |ORDER BY n_input""".stripMargin
  }

  /** Selection-bias report of [[curationPipeline]] — the distribution-
    * shift audit run before shipping a curated corpus: per feature
    * bucket (language, source), the corpus share before curation vs
    * among survivors, the keep rate, and the quantized log-ratio
    * `bias_log` = ln(p_kept / p_corpus). A gate that is CONTENT-fair
    * should be close to 0 everywhere; a strongly negative bucket means
    * the pipeline is silently filtering out a language or source (the
    * classic failure: an English-tuned quality gate halving the
    * non-English share). Scale shape: ONE codegen scan computes every
    * per-document verdict; the survivor flag needs only the digest-keyed
    * keep-first window (gated rows sort first within each digest group,
    * so rank 1 ∧ gated ≡ the pipeline's keep-first-among-gated rule —
    * never a second pass); then a 2-element explode, one map-side-
    * combined aggregate, and a broadcast totals join. The log rides the
    * 1e-6 floor-quantized doctrine; an all-rejected bucket reports NULL
    * rather than −∞. */
  def curationBias(spark: SparkSession, dir: String): DataFrame = {
    val lexAut = new graft.functions.LexiconAutomaton(CurationLex)
    val flagged = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("source"),
      (graft.functions.LexiconHits.total(col("text"), lexAut) === 0L &&
        entropyNats(col("text")) >= lit(CurationMinEntropy)).as("gated"),
      md5(graft.functions.SelfDedupChunks.dedup(col("text"), SelfDedupW))
        .as("digest"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("digest")).orderBy(col("gated").desc, col("doc_id").asc)
    val counts = flagged
      .withColumn("kept", col("gated") && row_number().over(w) === 1)
      .select(col("kept"), explode(array(
          struct(lit("lang").as("feature"), col("lang").as("bucket")),
          struct(lit("source").as("feature"), col("source").as("bucket"))))
        .as("fb"))
      .select(col("kept"), col("fb.feature").as("feature"),
        col("fb.bucket").as("bucket"))
      .groupBy("feature", "bucket")
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    val totals = counts.groupBy("feature")
      .agg(sum(col("n_corpus")).as("tot_corpus"), sum(col("n_kept")).as("tot_kept"))
    val pc = col("n_corpus").cast(DoubleType) / col("tot_corpus").cast(DoubleType)
    val pk = col("n_kept").cast(DoubleType) / col("tot_kept").cast(DoubleType)
    counts.join(broadcast(totals), Seq("feature"))
      .select(col("feature"), col("bucket"), col("n_corpus"), col("n_kept"),
        (col("n_kept").cast(DoubleType) / col("n_corpus").cast(DoubleType))
          .as("keep_rate"),
        pc.as("p_corpus"),
        when(col("tot_kept") > 0, pk)
          .otherwise(lit(null).cast(DoubleType)).as("p_kept"),
        when(col("n_kept") > 0,
          floor(log(pk / pc) * lit(1000000.0)).cast(LongType)
            .cast(DoubleType) / lit(1000000.0))
          .otherwise(lit(null).cast(DoubleType)).as("bias_log"))
      .orderBy("feature", "bucket")
  }
  query("q_curation_bias", Oracle(curationBiasSql))(curationBias)
  /** q_curation_bias oracle: the SAME stage fragments as
    * [[curationPipelineSql]] ([[entropyFxCtes]] / [[scrubAggCtes]]) but
    * with the gate kept as a per-document flag, the keep-first window
    * ordered (gated DESC, doc_id) over ALL docs per scrub digest — rank
    * 1 ∧ gated ≡ the pipeline's keep-first-among-gated survivors — and
    * per-(feature, bucket) corpus/kept shares with the floor-quantized
    * log-ratio. Division order mirrors the Spark side operation for
    * operation so the IEEE doubles are bitwise identical. */
  private def curationBiasSql: String = {
    val lexHits = CurationLex
      .map(t => s"(LENGTH(text) - LENGTH(REPLACE(text, '$t', ''))) // ${t.length}")
      .mkString(" + ")
    s"""WITH $entropyFxCtes,
       |gf AS (SELECT d.doc_id, d.lang, d.source, d.text,
       |         (($lexHits) = 0 AND
       |          (CASE WHEN dl.char_len = 0 THEN 0.0
       |                ELSE (CAST(COALESCE(fx.ent_fx, 0) AS DOUBLE) / 1000000.0) / dl.char_len
       |           END) >= $CurationMinEntropy) AS gated
       |       FROM documents d JOIN dl ON dl.doc_id = d.doc_id
       |       LEFT JOIN fx ON fx.doc_id = d.doc_id),
       |wsp AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM gf),
       |${scrubAggCtes("wsp")},
       |kf AS (SELECT g.doc_id, g.lang, g.source, g.gated,
       |         ROW_NUMBER() OVER (PARTITION BY MD5(sagg.text_dedup)
       |                            ORDER BY g.gated DESC, g.doc_id ASC) rn
       |       FROM gf g JOIN sagg ON sagg.doc_id = g.doc_id),
       |fb AS (SELECT (gated AND rn = 1) AS kept, 'lang' AS feature, lang AS bucket FROM kf
       |       UNION ALL
       |       SELECT (gated AND rn = 1), 'source', source FROM kf),
       |c AS (SELECT feature, bucket, CAST(COUNT(*) AS BIGINT) n_corpus,
       |        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) n_kept
       |      FROM fb GROUP BY 1, 2),
       |t AS (SELECT feature, CAST(SUM(n_corpus) AS BIGINT) tot_corpus,
       |        CAST(SUM(n_kept) AS BIGINT) tot_kept FROM c GROUP BY 1)
       |SELECT c.feature, bucket, n_corpus, n_kept,
       |       CAST(n_kept AS DOUBLE) / CAST(n_corpus AS DOUBLE) AS keep_rate,
       |       CAST(n_corpus AS DOUBLE) / CAST(tot_corpus AS DOUBLE) AS p_corpus,
       |       CASE WHEN tot_kept > 0
       |            THEN CAST(n_kept AS DOUBLE) / CAST(tot_kept AS DOUBLE) END AS p_kept,
       |       CASE WHEN n_kept > 0
       |            THEN CAST(FLOOR(LN((CAST(n_kept AS DOUBLE) / CAST(tot_kept AS DOUBLE))
       |                               / (CAST(n_corpus AS DOUBLE) / CAST(tot_corpus AS DOUBLE)))
       |                          * 1000000.0) AS BIGINT) / 1000000.0 END AS bias_log
       |FROM c JOIN t USING (feature) ORDER BY feature, bucket""".stripMargin
  }

  private[graft] val CurationLex = Array("dup")
  private[graft] val CurationMinEntropy = 2.7

  /** C4-style lexicon terms for [[lexiconHits]]. Substring semantics
    * (terms match inside words and across spaces — "low" hits inside
    * "slow", "slow merge" is a phrase). Oracle-parity precondition
    * (documented on [[graft.functions.LexiconAutomaton]]): every term is
    * border-free — no proper prefix equals a suffix — so overlapping and
    * non-overlapping per-term counts coincide. */
  private[graft] val LexiconTerms: Array[String] =
    Array("slow", "dup", "low", "a", "slow merge")

  private lazy val lexiconModel =
    new graft.functions.LexiconAutomaton(LexiconTerms)

  /** Canonical text normalization ([[graft.functions.NormalizeText]]:
    * Unicode NFC → ROOT lowercase → ASCII-whitespace-run collapse +
    * trim) — the pass a CCNet/C4-style corpus runs BEFORE dedup so
    * byte-level variants of one content (composed vs decomposed
    * accents, case, ragged whitespace) stop evading hash/shingle
    * matching. The fixture corpus is already clean lowercase ASCII, so
    * the query normalizes a deterministically MESSIED variant (upper-
    * cased prefix echo, tab runs, trailing newline — built from the
    * text itself, no synthetic inputs) and proves the collapse does
    * real work: `n_chars_messy` > `n_chars_norm` on every row. Narrow
    * per-row codegen projection, no shuffle except the output sort;
    * stream-safe. Oracle restates the exact op order over the same
    * messied string (ASCII-only parity precondition documented on the
    * native). */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val messy = concat(lit("  "), upper(substring(col("text"), 1, 40)),
      lit("\t\t"), col("text"), lit(" \n"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), messy.as("messy"))
      .select(col("doc_id"),
        length(col("messy")).cast(LongType).as("n_chars_messy"),
        graft.functions.NormalizeText.normalize(col("messy")).as("text_norm"))
      .withColumn("n_chars_norm", length(col("text_norm")).cast(LongType))
      .orderBy("doc_id")
  }
  // q_normalize_text: the native's exact op order (NFC → lowercase →
  // ASCII-whitespace collapse + trim) over the same messied string;
  // NFC and case are identity on the ASCII corpus (the documented
  // parity precondition), so the collapse logic is what's exercised.
  query("q_normalize_text", Oracle(
      """WITH m AS (SELECT doc_id,
        |             '  ' || UPPER(SUBSTR(text, 1, 40)) || CHR(9) || CHR(9)
        |               || text || ' ' || CHR(10) AS messy
        |           FROM documents)
        |SELECT doc_id, CAST(LENGTH(messy) AS BIGINT) AS n_chars_messy,
        |       TRIM(REGEXP_REPLACE(LOWER(NFC_NORMALIZE(messy)),
        |                           '[\t\n\x0B\f\r ]+', ' ', 'g'), ' ') AS text_norm,
        |       CAST(LENGTH(TRIM(REGEXP_REPLACE(LOWER(NFC_NORMALIZE(messy)),
        |                           '[\t\n\x0B\f\r ]+', ' ', 'g'), ' ')) AS BIGINT)
        |         AS n_chars_norm
        |FROM m ORDER BY doc_id""".stripMargin))(normalizeText)

  /** The lexicon family's REMOVAL form (count → gate → SCRUB): strip
    * every lexicon term from the text by chained literal REPLACE, in
    * lexicon order — Spark's `replace` builtin and DuckDB's REPLACE have
    * identical leftmost non-overlapping semantics, so the oracle is the
    * same chain verbatim and order-sensitivity (a later term matching
    * inside an earlier term's remains) cancels out exactly. Narrow
    * per-row projection, no shuffle except the output sort. */
  def lexiconScrub(spark: SparkSession, dir: String): DataFrame = {
    val masked = LexiconTerms.foldLeft(col("text")) { (c, t) =>
      call_function("replace", c, lit(t), lit(""))
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), masked.as("text_masked"),
        (length(col("text")) - length(masked)).cast(LongType)
          .as("n_chars_removed"))
      .orderBy("doc_id")
  }
  query("q_lexicon_scrub", Oracle({
      val masked = LexiconTerms.foldLeft("text") { (c, t) =>
        s"REPLACE($c, '$t', '')" }
      s"""SELECT doc_id, $masked AS text_masked,
         |       CAST(LENGTH(text) - LENGTH($masked) AS BIGINT) AS n_chars_removed
         |FROM documents ORDER BY doc_id""".stripMargin
    }))(lexiconScrub)

  /** Multi-pattern lexicon tagging ([[graft.functions.LexiconAutomaton]]):
    * one Aho–Corasick pass per document counts every occurrence of every
    * lexicon term — the badword-filter / topic-tagger primitive. One row
    * per (document, term present): `doc_id, term, n_hits`. The automaton
    * is a plan-borne broadcast object; per-row work is one codegen scan
    * independent of lexicon size (the naive form is k per-term scans),
    * and the generator's input is evaluated ONCE per row, so the text is
    * scanned once even though the output fans out per term. No shuffle
    * except the output sort. */
  def lexiconHits(spark: SparkSession, dir: String): DataFrame = {
    val termArr = array(LexiconTerms.map(lit): _*)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.LexiconCounts
          .counts(col("text"), lexiconModel)).as(Seq("pos", "n_hits")))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"),
        element_at(termArr, col("pos") + 1).as("term"),
        col("n_hits"))
      .orderBy("doc_id", "term")
  }
  query("q_lexicon_hits", Oracle(lexiconHitsSql))(lexiconHits)
  /** Per-term REPLACE-count — identical to the automaton's overlapping
    * count because every lexicon term is border-free. */
  private def lexiconHitsSql: String = {
    val vals = LexiconTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH lex(term) AS (VALUES $vals)
       |SELECT doc_id, term,
       |       CAST((LENGTH(text) - LENGTH(REPLACE(text, term, ''))) // LENGTH(term) AS BIGINT) AS n_hits
       |FROM documents CROSS JOIN lex
       |WHERE LENGTH(text) - LENGTH(REPLACE(text, term, '')) > 0
       |ORDER BY doc_id, term""".stripMargin
  }

  /** cc/dl/fx: the per-document fixed-point entropy CTEs over
    * `documents` — the ONE restatement shared by [[charEntropySql]] and
    * the curation oracle (integer sum ⇒ accumulation order irrelevant). */
  private def entropyFxCtes: String =
    """cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) n
      |       FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, '')) c FROM documents)
      |       GROUP BY doc_id, c),
      |dl AS (SELECT doc_id, CAST(LENGTH(text) AS BIGINT) char_len FROM documents),
      |fx AS (SELECT cc.doc_id,
      |         CAST(-SUM(n * CAST(FLOOR(LN(CAST(n AS DOUBLE) / char_len) * 1000000.0) AS BIGINT)) AS BIGINT) ent_fx
      |       FROM cc JOIN dl ON dl.doc_id = cc.doc_id GROUP BY cc.doc_id)""".stripMargin

  /** ch/k2/sagg: non-overlapping chunking + keep-first + ordered
    * STRING_AGG rebuild over a CTE `src`(doc_id, …, a) — the ONE
    * restatement shared by [[selfDedupSql]] and the curation oracle.
    * Emits `sagg`(doc_id, text_dedup). */
  private[queries] def scrubAggCtes(src: String): String =
    s"""ch AS (SELECT doc_id, i,
       |         ARRAY_TO_STRING(a[(i*$SelfDedupW+1):((i+1)*$SelfDedupW)], ' ') chunk
       |       FROM $src, UNNEST(RANGE(CAST(CEIL(LEN(a) / $SelfDedupW.0) AS BIGINT))) t(i)),
       |k2 AS (SELECT doc_id, i, chunk,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id, chunk ORDER BY i) rn
       |       FROM ch),
       |sagg AS (SELECT doc_id, STRING_AGG(chunk, ' ' ORDER BY i) text_dedup
       |         FROM k2 WHERE rn = 1 GROUP BY doc_id)""".stripMargin

  /** The full NB train→model→score→argmax chain — extracted to a def so
    * the q_nb_eval oracle aggregates the SAME restatement instead of a
    * second copy that could drift. */
  private def nbClassifySql: String =
    s"""WITH tk AS (SELECT doc_id, lang, (doc_id % 10) < 8 AS is_train,
       |                   ('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT % $NbBuckets AS b
       |            FROM (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)),
       |cb AS (SELECT lang AS label, b, CAST(COUNT(*) AS BIGINT) n FROM tk WHERE is_train GROUP BY 1, 2),
       |pri AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) docs_c
       |        FROM documents WHERE (doc_id % 10) < 8 GROUP BY 1),
       |pri2 AS (SELECT label, CAST(FLOOR(LN(CAST(docs_c AS DOUBLE) /
       |                 CAST(SUM(docs_c) OVER () AS DOUBLE)) * 1000000.0) AS BIGINT) prior_fx
       |         FROM pri),
       |ctot AS (SELECT label, CAST(SUM(n) AS BIGINT) n_c FROM cb GROUP BY 1),
       |nc AS (SELECT p.label, COALESCE(c.n_c, 0) AS n_c FROM pri p LEFT JOIN ctot c USING (label)),
       |model AS (SELECT g.label, g.b,
       |                 CAST(FLOOR(LN(CAST(COALESCE(cb.n, 0) + 1 AS DOUBLE) /
       |                   CAST(g.n_c + $NbBuckets AS DOUBLE)) * 1000000.0) AS BIGINT) lp_fx
       |          FROM (SELECT label, n_c, CAST(t.b AS BIGINT) b
       |                FROM nc CROSS JOIN (SELECT UNNEST(RANGE($NbBuckets)) AS b) t) g
       |          LEFT JOIN cb ON cb.label = g.label AND cb.b = g.b),
       |pd AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) cnt FROM tk WHERE NOT is_train GROUP BY 1, 2),
       |tokfx AS (SELECT pd.doc_id, m.label AS cls, CAST(SUM(pd.cnt * m.lp_fx) AS BIGINT) tok_fx
       |          FROM pd JOIN model m ON m.b = pd.b GROUP BY 1, 2),
       |base AS (SELECT d.doc_id, d.lang AS label, p2.label AS cls, p2.prior_fx
       |         FROM documents d CROSS JOIN pri2 p2 WHERE (d.doc_id % 10) >= 8),
       |sc AS (SELECT b2.doc_id, b2.label, b2.cls,
       |              b2.prior_fx + COALESCE(t.tok_fx, 0) AS score_fx
       |       FROM base b2 LEFT JOIN tokfx t ON t.doc_id = b2.doc_id AND t.cls = b2.cls),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |                   ORDER BY score_fx DESC, cls ASC) r FROM sc)
       |SELECT doc_id, label, cls AS predicted, (label = cls) AS correct,
       |       CAST(score_fx AS DOUBLE) / 1000000.0 AS nb_score
       |FROM rk WHERE r = 1 ORDER BY doc_id""".stripMargin

  /** The q_lang_id oracle, extracted so the confusion-matrix oracle
    * aggregates the SAME guess restatement. */
  private val langIdGuessSql: String =
    """WITH hits AS (
      |  SELECT doc_id,
      |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS(['the','and','of'], x))) AS BIGINT) en_hits,
      |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS(['der','und','das'], x))) AS BIGINT) de_hits,
      |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS(['le','et','les'], x))) AS BIGINT) fr_hits,
      |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS(['el','y','los'], x))) AS BIGINT) es_hits
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN GREATEST(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
      |            WHEN de_hits = GREATEST(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
      |            WHEN en_hits = GREATEST(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
      |            WHEN es_hits = GREATEST(en_hits, de_hits, fr_hits, es_hits) THEN 'es'
      |            ELSE 'fr' END AS lang_guess,
      |       en_hits, de_hits, fr_hits, es_hits
      |FROM hits ORDER BY doc_id""".stripMargin

  /** The Gopher rule-based quality filter ([[TA.gopherRules]]) as a
    * first-class audit table: one row per document with every rule's
    * signal, its boolean, and the fused keep flag. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    TA.gopherRules(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy("doc_id")
  // Gopher rules: every signal is per-row arithmetic over exact
  // integers (mean word length = (LENGTH − separators)/n, both
  // code-point counts on both engines), so booleans and ratios are
  // engine-exact with no quantization needed.
  query("q_gopher_rules", Oracle(
      """WITH s AS (SELECT doc_id, STRING_SPLIT(text, ' ') a,
        |                  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) n,
        |                  CAST(LENGTH(text) AS BIGINT) nc
        |           FROM documents),
        |m AS (SELECT doc_id, n,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(nc - (n - 1) AS DOUBLE) / CAST(n AS DOUBLE) END mwl,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(LEN(LIST_FILTER(a, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / CAST(n AS DOUBLE) END alpha_frac,
        |  CAST(LEN(LIST_FILTER(a, t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS BIGINT) stop_hits,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(LEN(LIST_FILTER(a, t -> contains(t, '#') OR contains(t, '...'))) AS DOUBLE) / CAST(n AS DOUBLE) END sym_frac
        |  FROM s)
        |SELECT doc_id, n AS n_tokens, mwl AS mean_word_len, alpha_frac,
        |       stop_hits, sym_frac AS symbol_frac,
        |       (n BETWEEN 50 AND 100000) AS r_words,
        |       (mwl BETWEEN 3.0 AND 10.0) AS r_mwl,
        |       (alpha_frac >= 0.8) AS r_alpha,
        |       (stop_hits >= 2) AS r_stop,
        |       (sym_frac <= 0.1) AS r_sym,
        |       ((n BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
        |         AND (alpha_frac >= 0.8) AND (stop_hits >= 2)
        |         AND (sym_frac <= 0.1)) AS keep
        |FROM m ORDER BY doc_id""".stripMargin))(gopherRules)

  /** FineWeb-style multi-signal quality selection: three per-document
    * signals (token count, type-token ratio, mean word length) fuse as
    * the mean of their exact corpus-wide percentile ranks; top-100 by
    * the ensemble. The scale story is HOW the ranks are computed: exact
    * percent_rank normally needs a global sort of the corpus, but each
    * signal here is integer-valued (ratios floor-quantized to 1e-6
    * fixed point), so its value HISTOGRAM is cardinality-bounded — the
    * strictly-below cumulative count runs as a window over that tiny
    * frame and broadcasts back onto the corpus. cum_below/(N−1) is
    * percent_rank's exact definition, which lets the oracle state it
    * with DuckDB's native PERCENT_RANK — cross-validating the
    * histogram formulation against the engine-native one. */
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame = {
    // one pin of the narrow signal frame: its four consumers (three rank
    // branches + the ranked join) read the stored blocks, and the
    // selection itself executes lazily in the caller's action
    val sigs = Materialize.pin(Tables.documents(spark, dir).select(col("doc_id") +:
        ensembleSignals(col("text"), col("n_chars"))
          .map { case (n, c) => c.as(n) }: _*))
    qualityEnsembleSelected(sigs)
  }
  query("q_quality_ensemble", Oracle(
      s"""WITH $ensembleSigCte,
        |r AS (SELECT doc_id, s_tokens,
        |             PERCENT_RANK() OVER (ORDER BY s_tokens) r_tokens,
        |             PERCENT_RANK() OVER (ORDER BY s_ttr) r_ttr,
        |             PERCENT_RANK() OVER (ORDER BY s_mwl) r_mwl
        |      FROM sig),
        |e AS (SELECT doc_id, s_tokens AS n_tokens, r_tokens, r_ttr, r_mwl,
        |             (r_tokens + r_ttr + r_mwl) / 3.0 AS ens FROM r),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ens DESC, doc_id ASC) rr FROM e)
        |SELECT doc_id, n_tokens, r_tokens, r_ttr, r_mwl, ens
        |FROM rk WHERE rr <= 100 ORDER BY doc_id""".stripMargin))(qualityEnsemble)

  /** The unpinned selection plan over a signal frame — split out so
    * PlanQualitySpec can assert the physical shape (the pin above
    * truncates the observable plan to an RDD scan). */
  private[queries] def qualityEnsembleSelected(sigs: DataFrame): DataFrame = {
    val ranked = sigs
      .join(broadcast(rankBySignal(sigs, "s_tokens", "r_tokens")), Seq("s_tokens"))
      .join(broadcast(rankBySignal(sigs, "s_ttr", "r_ttr")), Seq("s_ttr"))
      .join(broadcast(rankBySignal(sigs, "s_mwl", "r_mwl")), Seq("s_mwl"))
      .withColumn("ens",
        (col("r_tokens") + col("r_ttr") + col("r_mwl")) / lit(3.0))
    // Top-100 via orderBy+limit: TakeOrderedAndProject keeps the
    // selection a per-partition partial top-k (the (ens desc, doc_id)
    // tiebreak is total, so rows match the rank formulation exactly) —
    // never a corpus-sized single-partition Window.
    ranked.orderBy(col("ens").desc, col("doc_id").asc).limit(100)
      .select(col("doc_id"), col("s_tokens").as("n_tokens"),
        col("r_tokens"), col("r_ttr"), col("r_mwl"), col("ens"))
      .orderBy("doc_id")
  }

  /** Pairwise Pearson correlation of the ensemble's quality signals —
    * the signal-REDUNDANCY audit read before trusting a multi-signal
    * gate (two signals correlating ≈1 vote twice for the same thing; an
    * ensemble wants complementary members, and this table says which
    * one to drop). Exactness: the signals are already exact integers
    * ([[ensembleSignals]]' 1e-6 fixed points), so every moment (Σx,
    * Σx², Σxy) is an exact DECIMAL(38,0) integer — order- and
    * partitioning-invariant — and each correlation is ONE shared IEEE
    * expression over those integers; zero-variance signals report NULL
    * rather than 0/0. Scale shape: ONE corpus scan into ONE map-side-
    * combined 1-row moment aggregate (a new signal adds columns, never
    * a scan — the constraint-report batching doctrine); the three
    * correlation rows are selects over that single row. The DECIMAL
    * moments hold to ~1e38 (n·Σxy ≤ 1e12·1e24 at 10¹² docs) — past
    * that the ANSI decimal overflow fails loudly, never wraps. */
  def signalCorr(spark: SparkSession, dir: String): DataFrame = {
    val sigCols = ensembleSignals(col("text"), col("n_chars"))
    val names = sigCols.map(_._1)
    // filter BEFORE computing moments: a null-text/null-n_chars row
    // would be skipped by every SUM but counted by n, silently skewing
    // each correlation (possibly past |1|) on BOTH engines — restrict
    // the population to rows every signal covers
    val sigs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(sigCols.map { case (n, c) =>
        c.cast(DecimalType(38, 0)).as(n) }: _*)
    val corrPairs = for {
      i <- names.indices; j <- names.indices if i < j
    } yield (names(i), names(j))
    val aggs =
      names.map(n => sum(col(n)).as(s"sx_$n")) ++
        names.map(n => sum(col(n) * col(n)).as(s"sq_$n")) ++
        corrPairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    // 1 row, consumed once per pair below
    val m = Materialize.pin(sigs
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), aggs: _*))
    def corrRow(a: String, b: String): DataFrame = {
      val num = col("n") * col(s"sp_${a}_$b") - col(s"sx_$a") * col(s"sx_$b")
      def den(s: String) = col("n") * col(s"sq_$s") - col(s"sx_$s") * col(s"sx_$s")
      m.select(lit(a).as("signal_a"), lit(b).as("signal_b"),
        col("n").cast(LongType).as("n_docs"),
        when(den(a) === 0 || den(b) === 0, lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType)
            / sqrt(den(a).cast(DoubleType) * den(b).cast(DoubleType)))
          .as("corr"))
    }
    corrPairs.map { case (a, b) => corrRow(a, b) }
      .reduce(_ unionAll _)
      .orderBy("signal_a", "signal_b")
  }
  // Ensemble ranks: the Spark side computes percent_rank as
  // cum_below/(N-1) from per-signal value histograms (no global sort);
  // the oracle states the SAME quantity with native PERCENT_RANK —
  // the definitions coincide exactly, so the hash compare
  // cross-validates the histogram formulation. Signals are integers
  // (ratios floor-quantized to 1e-6), rank sum order pinned.
  // signal correlations: the shared ensemble sig CTE's exact integers
  // (null-signal rows excluded so n covers exactly the summed
  // population), all moments in HUGEINT (the Spark side's
  // DECIMAL(38,0)), one shared IEEE expression per correlation
  query("q_signal_corr", Oracle(
      s"""WITH $ensembleSigCte,
        |nn AS (SELECT * FROM sig
        |       WHERE s_tokens IS NOT NULL AND s_ttr IS NOT NULL AND s_mwl IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |        SUM(CAST(s_tokens AS HUGEINT)) sx_t,
        |        SUM(CAST(s_ttr AS HUGEINT)) sx_r,
        |        SUM(CAST(s_mwl AS HUGEINT)) sx_m,
        |        SUM(CAST(s_tokens AS HUGEINT) * CAST(s_tokens AS HUGEINT)) sq_t,
        |        SUM(CAST(s_ttr AS HUGEINT) * CAST(s_ttr AS HUGEINT)) sq_r,
        |        SUM(CAST(s_mwl AS HUGEINT) * CAST(s_mwl AS HUGEINT)) sq_m,
        |        SUM(CAST(s_tokens AS HUGEINT) * CAST(s_ttr AS HUGEINT)) sp_tr,
        |        SUM(CAST(s_tokens AS HUGEINT) * CAST(s_mwl AS HUGEINT)) sp_tm,
        |        SUM(CAST(s_ttr AS HUGEINT) * CAST(s_mwl AS HUGEINT)) sp_rm
        |      FROM nn)
        |SELECT * FROM (
        |  SELECT 's_tokens' AS signal_a, 's_ttr' AS signal_b,
        |         CAST(n AS BIGINT) n_docs,
        |         CASE WHEN n*sq_t - sx_t*sx_t = 0 OR n*sq_r - sx_r*sx_r = 0 THEN NULL
        |              ELSE CAST(n*sp_tr - sx_t*sx_r AS DOUBLE)
        |                / SQRT(CAST(n*sq_t - sx_t*sx_t AS DOUBLE)
        |                       * CAST(n*sq_r - sx_r*sx_r AS DOUBLE)) END AS corr
        |  FROM m
        |  UNION ALL
        |  SELECT 's_tokens', 's_mwl', CAST(n AS BIGINT),
        |         CASE WHEN n*sq_t - sx_t*sx_t = 0 OR n*sq_m - sx_m*sx_m = 0 THEN NULL
        |              ELSE CAST(n*sp_tm - sx_t*sx_m AS DOUBLE)
        |                / SQRT(CAST(n*sq_t - sx_t*sx_t AS DOUBLE)
        |                       * CAST(n*sq_m - sx_m*sx_m AS DOUBLE)) END
        |  FROM m
        |  UNION ALL
        |  SELECT 's_ttr', 's_mwl', CAST(n AS BIGINT),
        |         CASE WHEN n*sq_r - sx_r*sx_r = 0 OR n*sq_m - sx_m*sx_m = 0 THEN NULL
        |              ELSE CAST(n*sp_rm - sx_r*sx_m AS DOUBLE)
        |                / SQRT(CAST(n*sq_r - sx_r*sx_r AS DOUBLE)
        |                       * CAST(n*sq_m - sx_m*sx_m AS DOUBLE)) END
        |  FROM m)
        |ORDER BY signal_a, signal_b""".stripMargin))(signalCorr)

  /** The ensemble's three integer-valued quality signals as ONE shared
    * set of Column trees — every query that reads them evaluates the
    * identical op sequence, so signal values (and so ranks) agree
    * bit-for-bit across queries. Ratios floor-quantize to
    * 1e-6 fixed point, keeping each signal's value set
    * cardinality-bounded (the histogram-rank precondition). */
  private[graft] def ensembleSignals(text: Column,
      nChars: Column): Seq[(String, Column)] = {
    val nTok = TA.tokenCount(text)
    Seq(
      "s_tokens" -> nTok,
      "s_ttr" -> floor(size(array_distinct(TA.tokens(text))).cast(DoubleType) /
        nTok.cast(DoubleType) * lit(1e6)).cast(LongType),
      "s_mwl" -> floor((nChars - (nTok - lit(1))).cast(DoubleType) /
        nTok.cast(DoubleType) * lit(1e6)).cast(LongType))
  }

  /** Exact percent_rank of an integer-valued signal WITHOUT a global
    * sort: (value → strictly-below cumulative count / (N−1)) computed on
    * the signal's value histogram. The two windows here are
    * single-partition by construction, but they run over the
    * cardinality-bounded histogram frame (bytes, not data) — the
    * post-aggregation-window doctrine of [[sourceMixture]]. N == 1
    * degenerates to rank 0.0 rather than 0/0. */
  private[graft] def rankBySignal(sigs: DataFrame, c: String,
      rankName: String): DataFrame = {
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col(c))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    sigs.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      .select(col(c),
        when(sum(col("cnt")).over(wAll) > 1,
          coalesce(sum(col("cnt")).over(wCum), lit(0L)).cast(DoubleType) /
            (sum(col("cnt")).over(wAll) - lit(1L)).cast(DoubleType))
          .otherwise(lit(0.0)).as(rankName))
  }

  /** Per-source quantile CALIBRATION of the quality score — the raw
    * score made cross-source comparable (a 0.9-quantile document in a
    * noisy crawl and in a clean dump both report q_rank 0.9) so one
    * global keep-threshold stops favoring whichever source's score
    * distribution happens to sit higher: the per-source-threshold
    * practice of the Gopher/FineWeb curation recipes, as a table.
    * `q_rank` is the exact within-source percent_rank (strictly-below
    * count / (n−1); single-member sources report 0). Scale shape: the
    * [[rankBySignal]] histogram doctrine, per source — the score
    * floor-quantizes to 1e-6 fixed point (cardinality-bounded), ONE
    * map-side-combined groupBy builds the (source, value) histogram,
    * the rank windows run PARTITIONED BY SOURCE over that bytes-sized
    * frame (never over documents), and the calibration table broadcasts
    * back onto the corpus scan. Broadcast bound: ≤ min(docs-in-source,
    * 1e6+1) cells per source — the deployment dial for thousands of
    * sources is a coarser quantization (1e-4 caps the table at 10⁴
    * cells/source), which only coarsens rank resolution, never
    * correctness. */
  def qualityCalibrated(spark: SparkSession, dir: String): DataFrame = {
    // pinned once (r17, the qualityAgreement rule): the histogram
    // branch and the broadcast-join-back branch each re-ran the
    // qualityScore text pass without the barrier — profiled as two
    // ~300 ms single-task corpus stages. The pinned rows are narrow
    // (doc_id, source, q_fx) triples. Isolated A/B below.
    val sig = Materialize.pin(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        floor(TA.qualityScore(col("text")) * lit(1000000.0))
          .cast(LongType).as("q_fx")))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("q_fx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val calib = sig.groupBy(col("source"), col("q_fx"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("source"), col("q_fx"),
        when(sum(col("cnt")).over(wAll) > 1,
          coalesce(sum(col("cnt")).over(wCum), lit(0L)).cast(DoubleType) /
            (sum(col("cnt")).over(wAll) - lit(1L)).cast(DoubleType))
          .otherwise(lit(0.0)).as("q_rank"))
    sig.join(broadcast(calib), Seq("source", "q_fx"))
      .select(col("doc_id"), col("source"),
        (col("q_fx").cast(DoubleType) / lit(1000000.0)).as("quality"),
        col("q_rank"))
      .orderBy("doc_id")
  }
  // q_quality_calibrated: RANK()−1 ≡ the strictly-below cumulative
  // count the Spark histogram computes; the (rk, n−1) division is the
  // same two-bigint IEEE op on both engines.
  query("q_quality_calibrated", Oracle(
      s"""WITH q AS (SELECT doc_id, source,
         |             CAST(FLOOR(($qualitySql) * 1000000.0) AS BIGINT) q_fx
         |           FROM documents),
         |r AS (SELECT doc_id, source, q_fx,
         |        CAST(RANK() OVER (PARTITION BY source ORDER BY q_fx) - 1 AS BIGINT) rk,
         |        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) n
         |      FROM q)
         |SELECT doc_id, source, CAST(q_fx AS DOUBLE) / 1000000.0 AS quality,
         |       CASE WHEN n > 1 THEN CAST(rk AS DOUBLE) / CAST(n - 1 AS DOUBLE)
         |            ELSE 0.0 END AS q_rank
         |FROM r ORDER BY doc_id""".stripMargin))(qualityCalibrated)

  /** NB-classifier reliability diagram — the calibration table read
    * before trusting classifier-gated selection AT a score threshold
    * (q_nb_eval answers "is the label right overall"; this answers "does
    * a higher score actually mean a higher hit rate"): the scored
    * holdout ([[sharedNbHoldout]]) split into score deciles by EXACT
    * percentile cuts, accuracy per decile. A calibrated scorer shows
    * monotone accuracy; a flat curve means the score carries no ranking
    * signal and a gate threshold is arbitrary. Exactness: the cut list
    * is the proven bit-exact `percentile` (q_doc_percentiles), bucket =
    * COUNT of cuts ≤ score (an in-row filter over the broadcast 9-cut
    * array — ties collapse identically on both engines), and every
    * output is integer counts plus ONE division. Scale shape: one 1-row
    * exact-percentile aggregate (the 100 TB regime swaps in
    * percentile_approx, the q_doc_percentiles_approx precedent), the
    * cuts broadcast back, one map-side-combined bucket aggregate. */
  def nbReliability(spark: SparkSession, dir: String): DataFrame = {
    val cls = sharedNbHoldout(spark, dir)
    val cuts = cls.agg(percentile(col("nb_score"),
      lit((1 to 9).map(_ / 10.0).toArray)).as("cuts"))
    cls.crossJoin(broadcast(cuts))
      .select(col("correct"),
        size(filter(col("cuts"), c => col("nb_score") >= c))
          .cast(LongType).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("bucket"), col("n_docs"), col("n_correct"),
        (col("n_correct").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("accuracy"))
      .orderBy("bucket")
  }
  // reliability diagram over the proven NB classify chain: exact
  // decile cuts (quantile_cont == Spark percentile, the
  // q_doc_percentiles bit-exact pair), bucket = count of cuts <= score
  // via the same in-row list filter, integer counts + ONE division
  query("q_nb_reliability", Oracle(
      s"""WITH cls AS ($nbClassifySql),
         |cuts AS (SELECT quantile_cont(nb_score, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM cls),
         |b AS (SELECT correct, CAST(LEN(LIST_FILTER(cuts.cuts, c -> nb_score >= c)) AS BIGINT) bucket FROM cls, cuts),
         |ag AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) n_docs,
         |              CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) n_correct
         |       FROM b GROUP BY bucket)
         |SELECT bucket, n_docs, n_correct,
         |       CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy
         |FROM ag ORDER BY bucket""".stripMargin))(nbReliability)

  /** Quality-scorer agreement matrix — do the cheap heuristic score
    * ([[TA.qualityScore]]) and the bigram-LM score agree on which
    * documents are good? Each score splits into corpus terciles by
    * exact percentile cuts; the 3×3 bucket cross-tabulation is the
    * audit (mass on the diagonal = the scorers rank alike; a hot
    * off-diagonal cell = one scorer's "good" is the other's "bad" —
    * exactly the documents a curator inspects by hand), and Cohen's
    * kappa rides every row as the one-number summary (chance-corrected
    * agreement; ~0 means the gates are independent and stacking them
    * multiplies false rejections). Exactness: integer counts
    * throughout; p_o, p_e, kappa in ONE mirrored IEEE op order; the
    * degenerate p_e = 1 corpus (everything in one cell) reports NULL
    * kappa rather than an ANSI x/0 error. Scale shape: one scoring
    * scan joined to the persisted LM-score artifact, a 1-row
    * percentile aggregate broadcast back, then everything is 3×3. */
  def qualityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val thirds = lit(Array(1.0 / 3.0, 2.0 / 3.0))
    // pinned once (r17): both the percentile-cut aggregate and the
    // bucket-cell pass consume this frame, and without the barrier each
    // re-runs the qualityScore text pass over the corpus — the query's
    // dominant compute, profiled as two ~160 ms corpus stages. The pinned
    // rows are 24-byte (doc_id, q, lm_score) triples. Isolated A/B (7-rep
    // min, back-to-back): 0.665 → 0.511 s.
    val scored = Materialize.pin(Tables.documents(spark, dir)
      .select(col("doc_id"), TA.qualityScore(col("text")).as("q"))
      .join(sharedLmScores(spark, dir).select(col("doc_id"), col("lm_score")),
        Seq("doc_id")))
    val cuts = scored.agg(
      percentile(col("q"), thirds).as("qc"),
      percentile(col("lm_score"), thirds).as("lc"))
    // <= 9 rows; feeds the kappa scalars + output rows
    val cells = Materialize.pin(scored.crossJoin(broadcast(cuts))
      .select(
        size(filter(col("qc"), c => col("q") >= c)).cast(LongType)
          .as("q_bucket"),
        size(filter(col("lc"), c => col("lm_score") >= c)).cast(LongType)
          .as("lm_bucket"))
      .groupBy("q_bucket", "lm_bucket").agg(count(lit(1)).as("n_docs")))
    // kappa from the <= 9 checkpointed cells DRIVER-SIDE (r17): the former
    // total/diag/rowM/colM/chance frame chain ran as ~10 serial one-row
    // Spark jobs plus three broadcast builds — ~0.3 s of pure job overhead
    // per call, profiled at 16 jobs for the whole query (guide §5: the
    // driver should do almost no data work — and nine rows is none; the
    // same bounded-collect pattern as duplicateClusters' union-find and
    // tokenBudget's per-partition subtotal offsets). Arithmetic is
    // identical to the former frame chain: Long sums, Long products
    // (multiplyExact/addExact throw on overflow exactly where ANSI mode
    // threw), and the same IEEE op order for po/pe/kappa.
    val cellRows = cells.select("q_bucket", "lm_bucket", "n_docs").collect()
    val total = cellRows.map(_.getLong(2)).sum
    val agree = cellRows.collect {
      case r if r.getLong(0) == r.getLong(1) => r.getLong(2) }.sum
    val rowM = cellRows.groupBy(_.getLong(0))
      .map { case (b, rs) => b -> rs.map(_.getLong(2)).sum }
    val colM = cellRows.groupBy(_.getLong(1))
      .map { case (b, rs) => b -> rs.map(_.getLong(2)).sum }
    val chance = rowM.foldLeft(0L) { case (acc, (b, nRow)) =>
      colM.get(b) match {
        case Some(nCol) => Math.addExact(acc, Math.multiplyExact(nRow, nCol))
        case None       => acc
      }
    }
    val po = agree.toDouble / total.toDouble
    val pe = chance.toDouble / (total.toDouble * total.toDouble)
    val kappaCol =
      if (1.0 - pe == 0) lit(null).cast(DoubleType)
      else lit((po - pe) / (1.0 - pe))
    cells
      .select(col("q_bucket"), col("lm_bucket"), col("n_docs"),
        (col("n_docs").cast(DoubleType) / lit(total.toDouble)).as("share"),
        kappaCol.as("kappa"))
      .orderBy("q_bucket", "lm_bucket")
  }
  // 3x3 tercile cross-tab of the proven heuristic-quality expr against
  // the proven LM score chain; kappa's p_o/p_e/ratio in the same IEEE
  // op order as the Column tree, NULL on the degenerate p_e = 1 corpus
  query("q_quality_agreement", Oracle(
      s"""WITH lm AS ($lmScoreSql),
         |sc AS (SELECT d.doc_id, $qualitySql AS q, lm.lm_score
         |       FROM documents d JOIN lm ON lm.doc_id = d.doc_id),
         |cuts AS (SELECT quantile_cont(q, [1.0/3.0, 2.0/3.0]) qc,
         |                quantile_cont(lm_score, [1.0/3.0, 2.0/3.0]) lc FROM sc),
         |bk AS (SELECT CAST(LEN(LIST_FILTER(cuts.qc, c -> q >= c)) AS BIGINT) q_bucket,
         |              CAST(LEN(LIST_FILTER(cuts.lc, c -> lm_score >= c)) AS BIGINT) lm_bucket
         |       FROM sc, cuts),
         |cells AS (SELECT q_bucket, lm_bucket, CAST(COUNT(*) AS BIGINT) n_docs FROM bk GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) total FROM cells),
         |di AS (SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) n_agree FROM cells WHERE q_bucket = lm_bucket),
         |rm AS (SELECT q_bucket, CAST(SUM(n_docs) AS BIGINT) n_row FROM cells GROUP BY 1),
         |cm AS (SELECT lm_bucket, CAST(SUM(n_docs) AS BIGINT) n_col FROM cells GROUP BY 1),
         |ch AS (SELECT CAST(COALESCE(SUM(n_row * n_col), 0) AS BIGINT) n_chance
         |       FROM rm JOIN cm ON cm.lm_bucket = rm.q_bucket),
         |kp AS (SELECT tot.total,
         |         CASE WHEN 1.0 - (CAST(n_chance AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))) = 0 THEN NULL
         |              ELSE (CAST(n_agree AS DOUBLE) / CAST(total AS DOUBLE)
         |                    - CAST(n_chance AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)))
         |                   / (1.0 - CAST(n_chance AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))) END AS kappa
         |       FROM tot, di, ch)
         |SELECT c.q_bucket, c.lm_bucket, c.n_docs,
         |       CAST(c.n_docs AS DOUBLE) / CAST(kp.total AS DOUBLE) AS share, kp.kappa
         |FROM cells c, kp ORDER BY c.q_bucket, c.lm_bucket""".stripMargin))(qualityAgreement)

  private[queries] val stopList = TA.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** The [[ensembleSignals]] Column trees restated once as the `sig`
    * CTE — SHARED by the q_quality_ensemble and q_signal_corr oracles
    * so a signal-definition edit can never silently decouple the two
    * (the pcaCtes precedent). */
  private def ensembleSigCte: String =
    """sig AS (
      |  SELECT doc_id,
      |         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) s_tokens,
      |         CAST(FLOOR(CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE) /
      |                    CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) * 1000000.0) AS BIGINT) s_ttr,
      |         CAST(FLOOR(CAST(n_chars - (LEN(STRING_SPLIT(text, ' ')) - 1) AS DOUBLE) /
      |                    CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) * 1000000.0) AS BIGINT) s_mwl
      |  FROM documents)""".stripMargin

  /** The q_text_stats quality score as a DuckDB expression over `text` —
    * shared verbatim by the q_token_budget oracle so both restate the
    * same (hash-proven) formula. */
  private[queries] def qualitySql: String =
    s"""(LEAST(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) / 100.0, 1.0)
       |        + CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE) / LEN(STRING_SPLIT(text, ' '))
       |        + LEAST(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS($stopList, x))) AS DOUBLE)
       |                / LEN(STRING_SPLIT(text, ' ')) * 5.0, 1.0)) / 3.0""".stripMargin

  /** Bigram-LM score oracle: the collocations gram-construction recipe,
    * counts by plain joins (same numbers the Spark windows produce), the
    * (c2+1)·1.0/(c1+V) smoothed probability (one engine-exact division),
    * and the 1e-15 fixed-point per-doc summation — floor(p·10¹⁵) is the
    * same long on both engines, its sum is order-independent, and the
    * final division is one IEEE op (see [[TA.lmScore]] for why
    * DECIMAL(38,18) is NOT engine-exact here). */
  private val lmScoreSql =
    """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
      |g AS (SELECT doc_id, a[i+1] AS w1, a[i+1] || ' ' || a[i+2] AS g2
      |      FROM arr, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
      |c2 AS (SELECT g2, COUNT(*) c2 FROM g GROUP BY g2),
      |c1 AS (SELECT w1, COUNT(*) c1 FROM g GROUP BY w1),
      |vocab AS (SELECT COUNT(DISTINCT w1) v FROM g),
      |p AS (SELECT g.doc_id, (c2.c2 + 1) * 1.0 / (c1.c1 + vocab.v) AS p
      |      FROM g JOIN c2 USING (g2) JOIN c1 USING (w1) CROSS JOIN vocab),
      |d AS (SELECT doc_id, COUNT(*) n_bigrams,
      |             CAST(SUM(CAST(FLOOR(p * 1e15) AS BIGINT)) AS DOUBLE)
      |               / (COUNT(*) * 1e15) AS lm_score
      |      FROM p GROUP BY doc_id)
      |SELECT dd.doc_id, COALESCE(d.n_bigrams, 0) AS n_bigrams,
      |       COALESCE(d.lm_score, 0.0) AS lm_score
      |FROM documents dd LEFT JOIN d ON d.doc_id = dd.doc_id
      |ORDER BY dd.doc_id""".stripMargin

  // Redact rule patterns injected verbatim (single-quoted SQL strings do
  // not process backslashes, so Java-regex and RE2 see the same pattern;
  // every pattern avoids lookaround for exactly this reason).
  private def rx(r: graft.operators.Redact.Rule): String = r.pattern.replace("'", "''")

}
