package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The relational core from SURVEY.md §2.2–§2.5, re-expressed Spark-first over
  * the driver's TPC-H-ish tables: record_when filters, ordered mapping chains
  * (`@out` = later projections reading earlier ones), conditional mappings,
  * required/default, lookup joins (broadcast), finalize sort/offset/limit,
  * aggregation, and top-k.
  *
  * Oracle-parity rules used throughout this codebase:
  *   - per-row double arithmetic is IEEE-deterministic → safe to compare.
  *   - SUM/AVG over doubles is ordering-sensitive → aggregate in DECIMAL
  *     (exact), cast the final value to DOUBLE (deterministic conversion).
  *   - outputs are only string/long/int/double columns (no raw timestamps or
  *     decimals, whose parquet encodings differ between engines).
  *   - every query ends in a deterministic total ORDER BY.
  */
object Relational extends QueryFamily {
  /** `record_when` per-record predicate + projection + strict int cast.
    * Reference: filter before mappings (transform.rs:1065-1091). The filter
    * sits directly on the scan → Catalyst pushes it into parquet. */
  def recordWhen(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast(LongType).as("linenumber"),
        col("l_quantity").cast(LongType).as("qty"))
      .orderBy("l_orderkey", "linenumber")
  query("q_record_when", Oracle(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
        |       CAST(l_quantity AS BIGINT) AS qty
        |FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, linenumber""".stripMargin))(recordWhen)

  /** Ordered mapping chain: later mappings read earlier results (`@out`
    * visibility, transform.rs:382-410) — here as a projection chain Catalyst
    * collapses into one stage. Restricted to a deterministic 1/7 slice of
    * orders: the full-lineitem-width result is the largest output in the
    * verify suite, and the driver's oracle compare (pandas/pyarrow) runs
    * memory-squeezed — the slice keeps the semantics and the pushed-down
    * scan filter while shrinking the compared artifact 7×. */
  def mappingChain(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(pmod(col("l_orderkey"), lit(7)) === 1)
    li.select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("linenumber"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .withColumn("gross", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .withColumn("net", col("gross") * (lit(1.0) + col("l_tax")))
      .withColumn("margin", col("net") - col("l_extendedprice"))
      .select("l_orderkey", "linenumber", "gross", "net", "margin")
      .orderBy("l_orderkey", "linenumber")
  }
  query("q_mapping_chain", Oracle(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
        |       l_extendedprice * (1.0 - l_discount) AS gross,
        |       (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS net,
        |       (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) - l_extendedprice AS margin
        |FROM lineitem WHERE l_orderkey % 7 = 1
        |ORDER BY l_orderkey, linenumber""".stripMargin))(mappingChain)

  /** Conditional mapping (`when`, transform.rs:1041-1063) + default handling
    * (`required`/`default`, transform.rs:1006-1032) as when/otherwise +
    * coalesce. */
  def whenDefault(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "finished")
          .otherwise("other").as("status_label"),
        coalesce(nullif(col("o_orderpriority"), lit("3-MEDIUM")), lit("default-prio"))
          .as("prio_or_default"),
        when(col("o_totalprice") > 100000.0, col("o_totalprice")).as("big_price"))
      .orderBy("o_orderkey")
  query("q_when_default", Oracle(
      """SELECT o_orderkey,
        |       CASE WHEN o_orderstatus = 'O' THEN 'open'
        |            WHEN o_orderstatus = 'F' THEN 'finished'
        |            ELSE 'other' END AS status_label,
        |       COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'default-prio') AS prio_or_default,
        |       CASE WHEN o_totalprice > 100000.0 THEN o_totalprice END AS big_price
        |FROM orders ORDER BY o_orderkey""".stripMargin))(whenDefault)

  /** Cross-record aggregation (TPC-H Q1 shape): map-side partial aggregation,
    * one shuffle on the (low-cardinality) group keys. Decimal-exact sums. */
  def agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val d182 = DecimalType(18, 2)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(d182)).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(d182)).cast(DoubleType).as("sum_base_price"),
        sum(col("l_extendedprice").cast(d182) * (lit(1).cast(d182) - col("l_discount").cast(d182)))
          .cast(DoubleType).as("sum_disc_price"),
        (sum(col("l_quantity").cast(d182)).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }
  query("q_agg", Oracle(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))(agg)

  /** `lookup` (SURVEY §2.3): equi-join against a small dimension — the
    * reference scans a broadcast-style in-memory context (O(n·m)); here it is
    * an explicit broadcast hash join: no shuffle of the fact side. */
  def lookup(spark: SparkSession, dir: String): DataFrame = {
    // same deterministic 1/7 order slice as [[mappingChain]] (driver
    // compare memory), filtered before the join so it pushes to the scan
    val li = Tables.lineitem(spark, dir)
      .filter(pmod(col("l_orderkey"), lit(7)) === 1)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val p = Tables.part(spark, dir).select("p_partkey", "p_name", "p_brand")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"), "left")
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("linenumber"),
        col("p_name"), col("p_brand"), col("l_quantity").cast(LongType).as("qty"))
      .orderBy("l_orderkey", "linenumber")
  }
  query("q_lookup", Oracle(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
        |       p_name, p_brand, CAST(l_quantity AS BIGINT) AS qty
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |WHERE l_orderkey % 7 = 1
        |ORDER BY l_orderkey, linenumber""".stripMargin))(lookup)

  /** `lookup_first` (first match only, transform.rs:2871-2873): first
    * lineitem per order — row_number over a window, keep rank 1. */
  def lookupFirst(spark: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is not unique in the synthetic data — order
    // by enough columns to make "first" deterministic on both engines.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_extendedprice"))
    // the 1/7 order slice keeps WHOLE orders (the window's partition key),
    // so per-order "first" semantics are untouched
    Tables.lineitem(spark, dir)
      .filter(pmod(col("l_orderkey"), lit(7)) === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_partkey").as("first_partkey"),
        col("l_extendedprice").as("first_price"))
      .orderBy("l_orderkey")
  }
  query("q_lookup_first", Oracle(
      """SELECT l_orderkey, first_partkey, first_price FROM (
        |  SELECT l_orderkey, l_partkey AS first_partkey, l_extendedprice AS first_price,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber, l_partkey, l_extendedprice) AS rn
        |  FROM lineitem WHERE l_orderkey % 7 = 1)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin))(lookupFirst)

  /** finalize.sort + offset + limit (transform.rs:646-705): global total
    * order with a deterministic tie-break, then pagination. */
  def sortLimitOffset(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(10).limit(20)
  query("q_sort_limit_offset", Oracle(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 10""".stripMargin))(sortLimitOffset)

  /** finalize sort+limit = top-k, per group: the scalable form of the
    * reference's sort_by+take (rank within partition, no global sort). */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_partkey").asc)
    // The per-suppkey top-3 sort — this query's dominant stage: 1.25 s
    // over the 3 tasks the test parquet scans as, 95% of the profiled
    // wall — runs at the scan's parallelism. Fan the scan out by HASH of
    // the window key (the guarded ANN helper: a no-op at fleet scale
    // where the scan already carries ≥ cores partitions): the exchange
    // satisfies the window's distribution outright, so the sort runs on
    // `cores` tasks and no second exchange appears. Keyless round-robin
    // was measured WORSE here (isolated min 1.18 → 1.28 s): it pays the
    // sortBeforeRepartition determinism sort of the full input and still
    // needs the suppkey exchange after the partial.
    graft.operators.Similarity.fanOutToCores(
      Tables.lineitem(spark, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_extendedprice")),
      col("l_suppkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("l_suppkey"), col("rank").cast(LongType).as("rank"),
        col("l_orderkey"), col("l_extendedprice"))
      .orderBy("l_suppkey", "rank")
  }
  query("q_topk_per_group", Oracle(
      """SELECT l_suppkey, CAST(rank AS BIGINT) AS rank, l_orderkey, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |         ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |           ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC, l_partkey ASC) AS rank
        |  FROM lineitem) WHERE rank <= 3 ORDER BY l_suppkey, rank""".stripMargin))(topkPerGroup)

  /** `unique` at cross-record scale: distinct over the group keys (the
    * reference's unique is O(n²) string-coerced, transform.rs:3791-3828;
    * Spark's is a hash aggregate). */
  def distinctPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")
  query("q_distinct", Oracle(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))(distinctPairs)

  /** The [[graft.operators.Skew.saltedJoin]] skew path on a real plan: the
    * orders fact joins a status dimension on o_orderstatus — three distinct
    * values, two of which each hold ~half the fact table, i.e. every key is
    * a hot key no hash partitioning can split. The salt spreads each status
    * across 8 sub-keys so no reducer owns a whole status. The dim side
    * carries a shuffle-hash hint: salting is only meaningful when the dim
    * cannot broadcast (a broadcast join needs no salt), so the hint pins
    * the shuffled plan shape a too-big-to-broadcast production dim would
    * produce naturally. Result set is identical to the plain join — only
    * the partitioning changes, which is the invariant the oracle checks. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val statusDim = Seq(("O", "open"), ("F", "finished"), ("P", "pending"))
      .toDF("o_orderstatus", "status_name")
    val facts = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    graft.operators.Skew.saltedJoin(
        facts, statusDim.hint("shuffle_hash"), "o_orderstatus",
        discriminator = "o_orderkey", salts = 8)
      .select(col("o_orderkey"), col("o_orderstatus"), col("status_name"))
      .orderBy("o_orderkey")
  }
  query("q_salted_join", Oracle(
      """SELECT o_orderkey, o_orderstatus, status_name
        |FROM orders
        |JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
        |  AS d(o_orderstatus, status_name) USING (o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin))(saltedJoin)

  /** Co-located (bucketed) fact-to-fact join — TPC-H Q4 shape: per-order
    * lineitem revenue joined back to the order's priority, both sides
    * pre-bucketed on the order key by [[graft.operators.Bucketing]].
    *
    * Scale shape: lineitem⋈orders is the join a warehouse runs hundreds
    * of times a day, and orders is NOT broadcastable at 100 TB — the
    * honest default is a sort-merge join that shuffles BOTH fact tables
    * every query. Bucketing pays that shuffle once at layout time:
    * with both tables bucketed (and bucket-sorted) on the order key into
    * the same count, the merge join zips bucket i with bucket i in place —
    * the `merge` hint pins the SMJ (at sandbox scale AQE would broadcast
    * instead, hiding exactly the plan this query exists to prove; see
    * PlanQualitySpec's zero-Exchange/zero-Sort assertion on the join).
    * The only Exchange in the whole plan is the final tiny rollup to
    * priority grain. */
  def bucketJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bucketing
    val d182 = DecimalType(18, 2)
    val liT = Bucketing.tableFor("graft_bkt_lineitem", dir)
    val oT = Bucketing.tableFor("graft_bkt_orders", dir)
    Bucketing.ensureBucketed(spark,
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      liT, "l_orderkey", buckets = 8)
    Bucketing.ensureBucketed(spark,
      Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
      oT, "o_orderkey", buckets = 8)
    val li = spark.table(liT)
    val o = spark.table(oT)
    li.hint("merge")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast(d182)
            * (lit(1).cast(d182) - col("l_discount").cast(d182)))
          .cast(DoubleType).as("revenue"))
      .orderBy("o_orderpriority")
  }
  query("q_bucket_join", Oracle(
      """SELECT o_orderpriority,
        |       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |       COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin))(bucketJoin)

  /** Pivot (long→wide reshape): per-source token counts spread across one
    * column per language — the dataset-card cross-tab. The value set is
    * PINNED in the query: `pivot(col, values)` with explicit values plans
    * as one pass (map-side-combined aggregation, then a tiny post-agg
    * projection); omitting them would add a blocking distinct-scan job
    * just to discover the column list — never acceptable at 100 TB.
    * Missing cells are 0, not null (na.fill matches the oracle's
    * COALESCE). */
  def pivotLangs(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    Tables.documents(spark, dir)
      .select(col("source"),
        col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("toks"))
      .groupBy("source")
      .pivot("lang", langs)
      .agg(sum(col("toks")))
      .na.fill(0L, langs)
      .orderBy("source")
  }
  query("q_pivot_langs", Oracle(
      Seq("de", "en", "es", "fr", "zh").map { l =>
        s"CAST(COALESCE(SUM(CASE WHEN lang = '$l' THEN LEN(STRING_SPLIT(text, ' ')) END), 0) AS BIGINT) AS $l"
      }.mkString(
        "SELECT source, ", ", ",
        " FROM documents GROUP BY source ORDER BY source")))(pivotLangs)

  /** ROLLUP (hierarchical subtotals in one pass): per-(returnflag,
    * linestatus) decimal-exact quantity sums plus per-returnflag
    * subtotals and the grand total, tagged by grouping_id. One Expand
    * (×3 grouping sets) feeding ONE map-side-combined aggregation — the
    * report a warehouse would otherwise run as three scans and a UNION.
    * Group keys are low-cardinality, so the expanded rows collapse
    * map-side before the single shuffle. */
  def rollupQty(spark: SparkSession, dir: String): DataFrame = {
    val d182 = DecimalType(18, 2)
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(d182)).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n_lines"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }
  query("q_rollup_qty", Oracle(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n_lines,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin))(rollupQty)

  /** Single-pass column profiling — the ANALYZE-style stats report an
    * engine produces before planning ingestion: per numeric column,
    * (non-null count, null count, exact distinct count, min, max,
    * decimal-exact sum).
    *
    * Scale shape: one scan MELTS the profiled columns into
    * (column_name, value) pairs, pre-aggregates to per-(column, value)
    * counts — map-side combine collapses each partition to at most
    * Σ|distinct values| rows BEFORE the shuffle, since these are
    * low-cardinality columns — and derives every stat from that tiny
    * frame (distinct = row count, sum = Σ value×count in exact
    * decimals). The naive multi-`count_distinct` aggregation plans as
    * an Expand (rows × columns+1 through the aggregate) and measured
    * 2.0s at sf0.1 vs ~0.3s for this shape. For HIGH-cardinality
    * columns (prices, keys) the pre-aggregation degenerates and exact
    * profiling is the known anti-pattern at any shape — production
    * profiles use `approx_count_distinct` (HLL) there; the oracle
    * hash-check needs exact values, hence the column choice. */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val cols = Seq("l_discount", "l_linenumber", "l_quantity", "l_tax")
    val d182 = DecimalType(18, 2)
    val melted = li.select(explode(array(cols.map(c =>
        struct(lit(c).as("cn"), col(c).cast(DoubleType).as("v"))): _*)).as("kv"))
      .select(col("kv.cn").as("column_name"), col("kv.v").as("v"))
    melted.groupBy("column_name", "v").agg(count(lit(1)).as("cnt"))
      .groupBy("column_name")
      .agg(
        sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)).as("n_rows"),
        sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
        count(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        // Σ value×count in DECIMAL — exact, so it equals the oracle's
        // plain decimal SUM over the raw rows bit-for-bit
        sum(col("v").cast(d182) * col("cnt").cast(d182))
          .cast(DoubleType).as("sum_v"))
      .orderBy("column_name")
  }
  query("q_table_profile", Oracle(
      Seq("l_discount", "l_linenumber", "l_quantity", "l_tax").map { c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(COUNT($c) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_v,
           |  CAST(MAX($c) AS DOUBLE) AS max_v,
           |  CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")))(tableProfile)
}
