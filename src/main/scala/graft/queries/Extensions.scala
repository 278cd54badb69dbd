package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.Multimodal

/** Event-time windows and multimodal-column queries. */
object Extensions extends QueryFamily {
  /** Tumbling 1-hour windows over events: window().start aligns with
    * date_trunc('hour') so DuckDB can oracle it. Decimal-exact sum. */
  def windowEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start", "event_type")
  query("q_window_events", Oracle(
      """SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin))(windowEvents)

  /** Inactivity-gap sessionization: a new session starts when a
    * user's gap exceeds 30 minutes; session id = running count of session
    * starts per user. Gaps compare FLOOR-second epochs on both engines so
    * sub-second precision cannot straddle the threshold differently on
    * the two engines. One shuffle on user_id
    * serves both windows and the final aggregation — sessions never cross
    * users, so the plan reuses the partitioning. */
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("sec").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts").cast(LongType).as("sec"))
      .withColumn("prev", lag("sec", 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull || col("sec") - col("prev") > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"))
      .orderBy("user_id", "session_id")
  }
  query("q_sessionize", Oracle(
      """WITH e AS (SELECT user_id, event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) sec FROM events),
        |g AS (SELECT user_id, event_id, sec,
        |        CASE WHEN LAG(sec) OVER w IS NULL OR sec - LAG(sec) OVER w > 1800
        |             THEN 1 ELSE 0 END is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |s AS (SELECT user_id, sec,
        |        SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                          ROWS UNBOUNDED PRECEDING) session_id
        |      FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) session_id,
        |       COUNT(*) n_events, MIN(sec) start_sec, MAX(sec) end_sec
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin))(sessionizeBatch)

  /** Binary payload + metadata projection — metadata-only access never
    * deserializes payload bytes at scan time (parquet column pruning). */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.withPayload(Tables.documents(spark, dir), "text"),
        frameBytes = 64, everyK = 4)
      .select(col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.mime").as("mime"),
        md5(col("payload")).as("digest"),
        col("n_frames_sampled"))
      .orderBy("doc_id")
  query("q_multimodal_meta", Oracle(
      """SELECT doc_id,
        |       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
        |       'application/octet-stream' AS mime,
        |       MD5(text) AS digest,
        |       CAST(CEIL(CEIL(OCTET_LENGTH(ENCODE(text)) / 64.0) / 4.0) AS BIGINT) AS n_frames_sampled
        |FROM documents ORDER BY doc_id""".stripMargin))(multimodalMeta)

  /** Partition-level stubbed decode → deterministic feature vectors, one
    * row per (doc, dimension) so every cell is a scalar the driver's
    * comparator can hash. The oracle recomputes the byte histogram in SQL
    * (documents are ASCII, so code points are bytes). */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.withPayload(Tables.documents(spark, dir), "text"), "doc_id")
      .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "feature")))
      .select(col("doc_id"), col("dim").cast(LongType).as("dim"), col("feature"))
      .orderBy("doc_id", "dim")
  query("q_multimodal_features", Oracle(
      s"""WITH dims AS (
         |  SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS n, UNNEST(RANGE(${Multimodal.featureDim})) AS dim
         |  FROM documents),
         |bytes AS (
         |  SELECT doc_id,
         |         UNNEST(LIST_TRANSFORM(RANGE(LENGTH(text)), i -> ORD(SUBSTR(text, CAST(i + 1 AS INT), 1)) % ${Multimodal.featureDim})) AS dim
         |  FROM documents),
         |hist AS (SELECT doc_id, dim, COUNT(*) AS k FROM bytes GROUP BY doc_id, dim)
         |SELECT d.doc_id, CAST(d.dim AS BIGINT) AS dim,
         |       CAST(COALESCE(h.k, 0) AS DOUBLE) / GREATEST(d.n, 1) AS feature
         |FROM dims d LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.dim = d.dim
         |ORDER BY d.doc_id, d.dim""".stripMargin))(multimodalFeatures)

  /** Event-time AS-OF enrichment: every click picks up the user's most
    * recent purchase at or before it ([[graft.operators.AsofJoin]] —
    * union-window, ONE shuffle on user_id, no range-join explosion).
    * Times compare at floor-second granularity on both engines (the
    * proven q_sessionize recipe);
    * ties inside one second break to the highest purchase event_id.
    * Clicks before any purchase keep NULL payload — the left-outer
    * as-of. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast(LongType).as("sec"), col("event_type"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "sec")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "sec", "value")
    graft.operators.AsofJoin.asofJoin(
        clicks, purchases, keyCol = "user_id", tsCol = "sec",
        tieCol = "event_id", rightPayload = Seq("event_id", "value"))
      .withColumnRenamed("asof_event_id", "p_event_id")
      .withColumnRenamed("asof_value", "p_value")
      .orderBy("event_id")
  }
  // as-of restated as a LEFT LATERAL "latest at-or-before" pick — the
  // declarative spelling of exactly the union-window carry semantics
  // (inclusive at equal second, max event_id inside one second)
  query("q_asof_join", Oracle(
      """WITH e AS (SELECT event_id, user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) sec,
        |                  event_type, value FROM events),
        |l AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, sec, value FROM e WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, l.sec, p.event_id AS p_event_id, p.value AS p_value
        |FROM l LEFT JOIN LATERAL (
        |  SELECT r.event_id, r.value FROM r
        |  WHERE r.user_id = l.user_id AND r.sec <= l.sec
        |  ORDER BY r.sec DESC, r.event_id DESC LIMIT 1) p ON TRUE
        |ORDER BY l.event_id""".stripMargin))(asofJoin)

  /** Banded range join ([[graft.operators.RangeJoin]]): every (click,
    * error) pair by the same user within 30 minutes — "did an error
    * happen near this click". The band trick turns the range predicate
    * into an equi-join on (user, time-bin): no per-user cartesian, and
    * the shuffle key spreads hot users across reducers by time. The
    * oracle states the same relation declaratively (ABS(l−r) ≤ δ). */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast(LongType).as("sec"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "sec")
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "sec", "user_id")
    graft.operators.RangeJoin.withinDelta(
        clicks, errors, keyCol = "user_id", lTimeCol = "sec",
        rTimeCol = "sec", delta = 1800L)
      .select(col("event_id"), col("user_id"), col("sec"),
        col("r_event_id"), col("r_sec"))
      .orderBy("event_id", "r_event_id")
  }
  query("q_range_join", Oracle(
      """WITH e AS (SELECT event_id, user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) sec,
        |                  event_type FROM events),
        |l AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'error')
        |SELECT l.event_id, l.user_id, l.sec, r.event_id AS r_event_id, r.sec AS r_sec
        |FROM l JOIN r ON l.user_id = r.user_id AND ABS(l.sec - r.sec) <= 1800
        |ORDER BY l.event_id, r_event_id""".stripMargin))(rangeJoin)

  /** First-touch conversion funnel view → click → purchase: a user
    * reaches a stage when their FIRST event of that type comes at or
    * after their first event of the previous stage (the classic
    * first-occurrence funnel — strict per-event sequencing would need a
    * per-user ordered fold; first-touch is what one aggregation
    * expresses and what product funnels usually report). Output is the
    * three-row funnel report with per-stage user counts and conversion
    * ratios.
    *
    * Scale shape: ONE map-side-combined groupBy(user) with three
    * conditional `min`s — the only shuffle, keyed on user_id — then a
    * single-row global aggregate and a 3-row explode; the ratio math
    * happens on the 1-row frame. No windows anywhere. Times compare at
    * floor-second granularity on both engines (the proven q_sessionize
    * recipe); equal-second stage
    * arrivals count as reached (>=), deterministic on both engines. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts").cast(LongType).as("sec"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("sec"))).as("t_view"),
        min(when(col("event_type") === "click", col("sec"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("sec"))).as("t_purchase"))
    val counts = firsts.agg(
      sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n1"),
      sum(when(col("t_view").isNotNull && col("t_click") >= col("t_view"), 1L)
        .otherwise(0L)).as("n2"),
      sum(when(col("t_view").isNotNull && col("t_click") >= col("t_view") &&
          col("t_purchase") >= col("t_click"), 1L).otherwise(0L)).as("n3"))
    funnelReport(counts)
  }
  query("q_event_funnel", Oracle(
      """WITH e AS (SELECT user_id, event_type,
        |                  CAST(FLOOR(EPOCH(ts)) AS BIGINT) sec FROM events),
        |f AS (SELECT user_id,
        |        MIN(CASE WHEN event_type = 'view' THEN sec END) t_view,
        |        MIN(CASE WHEN event_type = 'click' THEN sec END) t_click,
        |        MIN(CASE WHEN event_type = 'purchase' THEN sec END) t_purchase
        |      FROM e GROUP BY user_id),
        |c AS (SELECT
        |        CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n1,
        |        CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
        |                      THEN 1 ELSE 0 END) AS BIGINT) n2,
        |        CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
        |                       AND t_purchase >= t_click
        |                      THEN 1 ELSE 0 END) AS BIGINT) n3
        |      FROM f)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) stage_idx, 'view' stage, n1 n_users,
        |         CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 END pct_of_first,
        |         CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 END pct_of_prev
        |  FROM c
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'click', n2,
        |         CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END,
        |         CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END
        |  FROM c
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'purchase', n3,
        |         CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 END,
        |         CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END
        |  FROM c)
        |ORDER BY stage_idx""".stripMargin))(eventFunnel)

  /** The 3-row funnel report from a 1-row (n1, n2, n3) stage-count
    * frame — shared by both funnel forms; all ratio math runs on the
    * 1-row frame. */
  private def funnelReport(counts: DataFrame): DataFrame = {
    def pct(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den > 0, num.cast(DoubleType) / den).otherwise(lit(null).cast(DoubleType))
    counts.select(explode(array(
        struct(lit(1L).as("stage_idx"), lit("view").as("stage"),
          col("n1").as("n_users"),
          pct(col("n1"), col("n1")).as("pct_of_first"),
          pct(col("n1"), col("n1")).as("pct_of_prev")),
        struct(lit(2L).as("stage_idx"), lit("click").as("stage"),
          col("n2").as("n_users"),
          pct(col("n2"), col("n1")).as("pct_of_first"),
          pct(col("n2"), col("n1")).as("pct_of_prev")),
        struct(lit(3L).as("stage_idx"), lit("purchase").as("stage"),
          col("n3").as("n_users"),
          pct(col("n3"), col("n1")).as("pct_of_first"),
          pct(col("n3"), col("n2")).as("pct_of_prev")))).as("s"))
      .select(col("s.stage_idx"), col("s.stage"), col("s.n_users"),
        col("s.pct_of_first"), col("s.pct_of_prev"))
      .orderBy("stage_idx")
  }

  /** STRICT-sequencing funnel — the join-cascade sibling of
    * [[eventFunnel]]: stage k's time is the user's first qualifying
    * event at-or-after stage k−1's time (min click ≥ first view, then
    * min purchase ≥ that click), not merely an ordering of first
    * occurrences. The two definitions differ exactly on users whose
    * first click precedes their first view but who click again later —
    * strict counts them, first-touch does not, so strict stage counts
    * are ≥ first-touch's. Scale shape: each stage is a per-user
    * first-event table (one user-keyed aggregate) equi-joined back onto
    * the next stage's events — every shuffle keys on user_id, so the
    * exchange reuses one partitioning; stage tables are
    * users-cardinality, never events-cardinality. */
  def eventFunnelStrict(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts").cast(LongType).as("sec"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("sec").as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("sec") >= col("t1"))
      .groupBy("user_id").agg(min("sec").as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("sec") >= col("t2"))
      .groupBy("user_id").agg(min("sec").as("t3"))
    val counts = t1.agg(count(lit(1)).as("n1"))
      .crossJoin(t2.agg(count(lit(1)).as("n2")))
      .crossJoin(t3.agg(count(lit(1)).as("n3")))
    funnelReport(counts)
  }
  query("q_event_funnel_strict", Oracle(
      """WITH e AS (SELECT user_id, event_type,
        |                  CAST(FLOOR(EPOCH(ts)) AS BIGINT) sec FROM events),
        |v AS (SELECT user_id, MIN(sec) t1 FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c2 AS (SELECT e.user_id, MIN(e.sec) t2 FROM e JOIN v USING (user_id)
        |       WHERE e.event_type = 'click' AND e.sec >= v.t1
        |       GROUP BY e.user_id),
        |p3 AS (SELECT e.user_id, MIN(e.sec) t3 FROM e JOIN c2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.sec >= c2.t2
        |       GROUP BY e.user_id),
        |c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) n1,
        |             (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) n2,
        |             (SELECT CAST(COUNT(*) AS BIGINT) FROM p3) n3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) stage_idx, 'view' stage, n1 n_users,
        |         CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 END pct_of_first,
        |         CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 END pct_of_prev
        |  FROM c
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'click', n2,
        |         CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END,
        |         CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END
        |  FROM c
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'purchase', n3,
        |         CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 END,
        |         CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END
        |  FROM c)
        |ORDER BY stage_idx""".stripMargin))(eventFunnelStrict)

  /** Weekly retention cohort table: users grouped by their first-activity
    * day (the cohort), counted in each later activity week — the
    * product-analytics staple read as "of the users who arrived on day D,
    * how many were still active k weeks later". Scale shape: events
    * collapse to DISTINCT (user, activity-day) pairs in one map-side-
    * combined shuffle (days-per-user bounded, never events-cardinality),
    * the cohort day is a min-window PARTITIONED by user (bounded frame —
    * a user's active days), and the final (cohort, week) aggregate is
    * calendar-bounded. Floor-second epochs feed floor-day buckets on
    * both engines. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(col("ts").cast(LongType) / 86400).cast(LongType).as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    userDays
      .withColumn("cohort_day", min("day").over(w))
      .withColumn("week_offset",
        floor((col("day") - col("cohort_day")) / 7).cast(LongType))
      .groupBy("cohort_day", "week_offset")
      .agg(countDistinct("user_id").cast(LongType).as("n_users"))
      .orderBy("cohort_day", "week_offset")
  }
  query("q_retention_cohorts", Oracle(
      """WITH e AS (SELECT user_id,
        |                  CAST(FLOOR(FLOOR(EPOCH(ts)) / 86400) AS BIGINT) d
        |           FROM events),
        |ud AS (SELECT DISTINCT user_id, d FROM e),
        |c AS (SELECT user_id, d,
        |        MIN(d) OVER (PARTITION BY user_id) cohort_day FROM ud)
        |SELECT cohort_day,
        |       CAST(FLOOR((d - cohort_day) / 7) AS BIGINT) week_offset,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) n_users
        |FROM c GROUP BY 1, 2 ORDER BY cohort_day, week_offset""".stripMargin))(retentionCohorts)

  /** Hourly event-rate anomaly score: each (event_type, hour) bucket's
    * count against the trailing 24 ACTIVE hours' mean and sample
    * variance — the monitoring query that flags a traffic spike or
    * outage without a model. Integer-exact formulation: the trailing
    * frame contributes exact BIGINT `Σn` and `Σn²`, and mean/variance/z
    * derive from them in a fixed double-op order (`s1/c`,
    * `(s2 − s1·s1/c)/(c−1)`), so both engines compute bit-identical
    * scores — windowed `stddev` builtins would tie parity to each
    * engine's internal accumulation. Buckets with under 2 trailing
    * hours, or zero trailing variance, carry NULL z. Scale shape: the
    * corpus-sized work is ONE map-side-combined (type, hour) count; the
    * windows run over the calendar-bounded hourly frame, partitioned by
    * event_type with a 24-row bounded frame. */
  def eventAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hours = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("ts").cast(LongType) / 3600).cast(LongType).as("hour_bucket"))
      .groupBy("event_type", "hour_bucket").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_bucket").rowsBetween(-24, -1)
    hours
      .withColumn("trailing_cnt", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .withColumn("trailing_mean",
        when(col("trailing_cnt") >= 2, col("s1").cast(DoubleType) / col("trailing_cnt")))
      .withColumn("varr",
        when(col("trailing_cnt") >= 2,
          (col("s2").cast(DoubleType) - col("s1").cast(DoubleType) * col("s1") / col("trailing_cnt"))
            / (col("trailing_cnt") - 1)))
      .withColumn("z_score",
        when(col("trailing_cnt") >= 2 && col("varr") > 0,
          (col("n") - col("trailing_mean")) / sqrt(col("varr"))))
      .select("event_type", "hour_bucket", "n", "trailing_cnt", "trailing_mean", "z_score")
      .orderBy("event_type", "hour_bucket")
  }
  // mean/variance/z from exact BIGINT trailing sums in a fixed double-op
  // order — NOT the engines' windowed stddev builtins, whose internal
  // accumulation order is not a cross-engine contract
  query("q_event_anomaly", Oracle(
      """WITH e AS (SELECT event_type,
        |                  CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT) hour_bucket
        |           FROM events),
        |h AS (SELECT event_type, hour_bucket, CAST(COUNT(*) AS BIGINT) n
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, hour_bucket, n,
        |        CAST(COUNT(n) OVER w AS BIGINT) trailing_cnt,
        |        CAST(SUM(n) OVER w AS BIGINT) s1,
        |        CAST(SUM(n * n) OVER w AS BIGINT) s2
        |      FROM h
        |      WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
        |                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT event_type, hour_bucket, n, trailing_cnt,
        |        CASE WHEN trailing_cnt >= 2
        |             THEN CAST(s1 AS DOUBLE) / trailing_cnt END trailing_mean,
        |        CASE WHEN trailing_cnt >= 2
        |             THEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / trailing_cnt)
        |                  / (trailing_cnt - 1) END varr
        |      FROM t)
        |SELECT event_type, hour_bucket, n, trailing_cnt, trailing_mean,
        |       CASE WHEN trailing_cnt >= 2 AND varr > 0
        |            THEN (n - trailing_mean) / SQRT(varr) END z_score
        |FROM v ORDER BY event_type, hour_bucket""".stripMargin))(eventAnomaly)

  /** Declarative data-quality constraint report — the deequ pattern
    * Spark-native: each table's checks (non-null, uniqueness, domain
    * consistency, value range, referential integrity) evaluate to one
    * (constraint, n_checked, n_violations, pass) row, the gate a
    * pipeline reads before promoting an ingest. Scale shape: all
    * same-table ANALYZER checks batch into ONE map-side-combined
    * aggregation pass per table (a new constraint adds a column, never
    * a scan); the uniqueness check is its own single-distinct aggregate
    * (batching it with the sums would plan an Expand that doubles the
    * scanned rows — the tableProfile lesson; production swaps in
    * approx_count_distinct); referential integrity is the one join —
    * LEFT against the distinct key side, violations = unmatched. */
  def constraintReport(spark: SparkSession, dir: String): DataFrame =
    docConstraints(Tables.documents(spark, dir))
      .unionAll(lineitemConstraints(Tables.lineitem(spark, dir),
        Tables.orders(spark, dir)))
      .orderBy("constraint_name")
  // the Spark side's null-safe equality (<=>) is IS NOT DISTINCT FROM;
  // count-distinct ignores nulls identically on both engines
  query("q_constraint_report", Oracle(
      """WITH d AS (SELECT CAST(COUNT(*) AS BIGINT) n,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) v_null,
        |  CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) v_uniq,
        |  CAST(COALESCE(SUM(CASE WHEN n_chars IS DISTINCT FROM LENGTH(text) THEN 1 ELSE 0 END), 0) AS BIGINT) v_chars,
        |  CAST(CASE WHEN COUNT(*) = 0 THEN 1 ELSE 0 END AS BIGINT) v_empty
        |  FROM documents),
        |l AS (SELECT CAST(COUNT(*) AS BIGINT) n,
        |  CAST(COALESCE(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
        |                THEN 1 ELSE 0 END), 0) AS BIGINT) v_qty
        |  FROM lineitem),
        |fk AS (SELECT CAST(COUNT(*) AS BIGINT) n,
        |  CAST(COALESCE(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) v_fk
        |  FROM lineitem li LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON li.l_orderkey = o.o_orderkey)
        |SELECT * FROM (
        |  SELECT 'docs_not_empty' AS constraint_name, n AS n_checked,
        |         v_empty AS n_violations, v_empty = 0 AS pass FROM d
        |  UNION ALL SELECT 'docs_doc_id_not_null', n, v_null, v_null = 0 FROM d
        |  UNION ALL SELECT 'docs_doc_id_unique', n, v_uniq, v_uniq = 0 FROM d
        |  UNION ALL SELECT 'docs_n_chars_matches_text', n, v_chars, v_chars = 0 FROM d
        |  UNION ALL SELECT 'lineitem_quantity_in_1_50', n, v_qty, v_qty = 0 FROM l
        |  UNION ALL SELECT 'lineitem_orderkey_fk_orders', n, v_fk, v_fk = 0 FROM fk)
        |ORDER BY constraint_name""".stripMargin))(constraintReport)

  private def report(src: DataFrame, name: String, v: String): DataFrame =
    src.select(lit(name).as("constraint_name"), col("n").as("n_checked"),
      col(v).as("n_violations"), (col(v) === 0L).as("pass"))

  /** The documents-table analyzers: non-null key, unique key, derived-
    * column consistency — the spec drives these with crafted dirty
    * frames to pin violation DETECTION, not just the clean fixture. */
  private[queries] def docConstraints(docs: DataFrame): DataFrame = {
    // sums COALESCE to 0: over an EMPTY table (the likeliest broken
    // ingest a promote gate exists to catch) sum() is NULL and pass
    // would be three-valued NULL — an alert on pass === false would
    // never fire. The not-empty analyzer makes that case an explicit
    // red row instead.
    val d = docs.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("doc_id").isNull, 1L).otherwise(0L)), lit(0L))
        .as("v_null"),
      coalesce(sum(when(!(col("n_chars") <=> length(col("text"))), 1L)
        .otherwise(0L)), lit(0L)).as("v_chars"))
      .withColumn("v_empty", when(col("n") === 0L, 1L).otherwise(0L))
    val du = docs.agg(
      (count(lit(1)) - countDistinct(col("doc_id"))).as("v_uniq"))
    report(d, "docs_not_empty", "v_empty")
      .unionAll(report(d, "docs_doc_id_not_null", "v_null"))
      .unionAll(report(d.crossJoin(du), "docs_doc_id_unique", "v_uniq"))
      .unionAll(report(d, "docs_n_chars_matches_text", "v_chars"))
  }

  /** The lineitem analyzers: value range in one batched aggregation,
    * referential integrity as the one LEFT join against the distinct
    * key side. */
  private[queries] def lineitemConstraints(li: DataFrame,
      ord: DataFrame): DataFrame = {
    val l = li.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("l_quantity").isNull || col("l_quantity") < 1
        || col("l_quantity") > 50, 1L).otherwise(0L)), lit(0L)).as("v_qty"))
    val fk = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")).distinct(),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)),
          lit(0L)).as("v_fk"))
    report(l, "lineitem_quantity_in_1_50", "v_qty")
      .unionAll(report(fk, "lineitem_orderkey_fk_orders", "v_fk"))
  }
}
