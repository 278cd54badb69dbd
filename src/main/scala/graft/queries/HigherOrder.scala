package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The reference's array-scoped operators (SURVEY.md §2.4–§2.6: map / filter
  * / sum / reduce / fold / unique / take / slice / first / last / contains)
  * expressed with Spark higher-order functions over per-group collected
  * arrays — `transform` / `filter` / `aggregate` / `slice` / `element_at` all
  * run inside codegen with no UDFs.
  *
  * Arrays are built with `sort_array(collect_list(...))` so their order is
  * deterministic on both engines, and array arithmetic stays on LONGs so the
  * fold result is order-independent and exact.
  */
object HigherOrder extends QueryFamily {
  /** One row per order: the quantity array and the §2.4/§2.6 ops over it.
    * `aggregate(...)` is the reference's `fold` (explicit seed) — with the
    * first element as seed it is `reduce` (v2_eval.rs:2303-2375). */
  def arrayHof(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity").cast(LongType).as("qty"))
    li.groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("qty"))).as("arr"))
      .select(
        col("l_orderkey"),
        size(col("arr")).cast(LongType).as("n"),
        element_at(col("arr"), 1).as("first_qty"),
        element_at(col("arr"), -1).as("last_qty"),
        aggregate(col("arr"), lit(0L), (acc, x) => acc + x).as("total_qty"),
        aggregate(
          filter(transform(col("arr"), x => x * 2), x => x > 20),
          lit(0L), (acc, x) => acc + x).as("big_doubled_sum"),
        aggregate(slice(col("arr"), 2, 3), lit(0L), (acc, x) => acc + x).as("mid_slice_sum"),
        size(array_distinct(col("arr"))).cast(LongType).as("uniq_n"),
        array_contains(col("arr"), 50L).as("has_fifty"),
        array_max(col("arr")).as("max_qty"))
      .orderBy("l_orderkey")
  }
  query("q_array_hof", Oracle(
      """WITH per_order AS (
        |  SELECT l_orderkey, LIST_SORT(LIST(CAST(l_quantity AS BIGINT))) AS arr
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |       CAST(LEN(arr) AS BIGINT) AS n,
        |       arr[1] AS first_qty,
        |       arr[-1] AS last_qty,
        |       CAST(LIST_AGGREGATE(arr, 'sum') AS BIGINT) AS total_qty,
        |       CAST(COALESCE(LIST_AGGREGATE(LIST_FILTER(LIST_TRANSFORM(arr, x -> x * 2), x -> x > 20), 'sum'), 0) AS BIGINT) AS big_doubled_sum,
        |       CAST(COALESCE(LIST_AGGREGATE(arr[2:4], 'sum'), 0) AS BIGINT) AS mid_slice_sum,
        |       CAST(LEN(LIST_DISTINCT(arr)) AS BIGINT) AS uniq_n,
        |       LIST_CONTAINS(arr, 50) AS has_fifty,
        |       LIST_MAX(arr) AS max_qty
        |FROM per_order ORDER BY l_orderkey""".stripMargin))(arrayHof)

  /** flat_map / explode: one row per token (the inverse of collect) — at
    * scale this is a narrow map-side transform, no shuffle before the sort. */
  def explodeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("word"))
      .orderBy("p_partkey", "word")
  query("q_explode_tokens", Oracle(
      """SELECT p_partkey, UNNEST(STRING_SPLIT(p_name, ' ')) AS word
        |FROM part ORDER BY p_partkey, word""".stripMargin))(explodeTokens)

  /** group_by/key_by/unique (§2.4) at cross-record scale: per return flag,
    * the distinct sorted status list + distinct count. The list is emitted
    * joined to one string so the driver's comparator (pandas, no array
    * hashing) can canonicalize it. */
  def groupCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
        countDistinct(col("l_linestatus")).as("n_statuses"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  query("q_group_collect", Oracle(
      """SELECT l_returnflag,
        |       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_linestatus)), ',') AS statuses,
        |       COUNT(DISTINCT l_linestatus) AS n_statuses,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))(groupCollect)
}
