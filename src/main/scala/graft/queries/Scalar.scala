package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Scalar functions from SURVEY.md §2.7 (string / math / date / JSON ops),
  * each expressed as native codegen'd `functions._` calls — no UDFs — so the
  * whole projection stays inside one WholeStageCodegen span.
  *
  * Dialect-parity notes (Spark vs DuckDB oracle):
  *   - `replace` (literal, all occurrences) ↔ duckdb `replace` — exact.
  *   - `regexp_replace` replaces all in Spark, first in DuckDB → oracle uses
  *     the 'g' flag for the replace-all form.
  *   - rounding goes through DECIMAL on both sides (decimal rounding is
  *     exact; double rounding algorithms differ between engines).
  *   - `conv` uppercases hex; reference `to_base` is lowercase
  *     (transform.rs:5861-5888) → `lower(conv(...))`.
  */
object Scalar extends QueryFamily {
  /** concat / case / trim / replace modes / split / pad / substring over part
    * names — the reference's string pipeline (transform.rs:1996-2373). */
  def stringOps(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        upper(col("p_name")).as("name_upper"),
        lower(col("p_type")).as("type_lower"),
        trim(col("p_name")).as("name_trim"),
        replace(col("p_name"), lit(" "), lit("_")).as("name_underscored"),
        regexp_replace(col("p_name"), "[aeiou]", "*").as("name_devoweled"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        lpad(col("p_brand"), 12, "0").as("brand_padded"),
        rpad(col("p_brand"), 12, ".").as("brand_rpadded"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_name")).cast(LongType).as("name_len"))
      .orderBy("p_partkey")
  query("q_string_ops", Oracle(
      """SELECT p_partkey,
        |       p_brand || '|' || p_type AS brand_type,
        |       UPPER(p_name) AS name_upper,
        |       LOWER(p_type) AS type_lower,
        |       TRIM(p_name) AS name_trim,
        |       REPLACE(p_name, ' ', '_') AS name_underscored,
        |       REGEXP_REPLACE(p_name, '[aeiou]', '*', 'g') AS name_devoweled,
        |       STRING_SPLIT(p_name, ' ')[1] AS first_word,
        |       LPAD(p_brand, 12, '0') AS brand_padded,
        |       RPAD(p_brand, 12, '.') AS brand_rpadded,
        |       SUBSTRING(p_type, 1, 5) AS type_prefix,
        |       CAST(LENGTH(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin))(stringOps)

  /** + - * / round to_base abs mod sqrt — arithmetic per the reference's
    * numeric ops (transform.rs:2375-2574). Per-row double math is IEEE-exact;
    * rounding runs on DECIMAL for cross-engine parity. */
  def mathOps(spark: SparkSession, dir: String): DataFrame = {
    val d184 = DecimalType(18, 4)
    // deterministic 1/4 order slice — the full-lineitem-width result is
    // among the verify suite's largest artifacts and the driver's oracle
    // compare runs memory-squeezed. Modulus 4 is coprime to the mod_res
    // modulus 7, so every mod_res residue still appears in the output.
    Tables.lineitem(spark, dir)
      .filter(pmod(col("l_orderkey"), lit(4)) === 1)
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_partkey"))
      .select(
        col("l_orderkey"), col("linenumber"),
        (col("l_quantity") + col("l_discount")).as("add_res"),
        (col("l_extendedprice") - col("l_quantity")).as("sub_res"),
        (col("l_quantity") * col("l_discount")).as("mul_res"),
        (col("l_extendedprice") / col("l_quantity")).as("div_res"),
        round(col("l_extendedprice").cast(d184) * col("l_discount").cast(d184), 2)
          .cast(DoubleType).as("round_res"),
        lower(conv(col("l_partkey").cast(StringType), 10, 16)).as("hex_partkey"),
        abs(col("l_quantity") - lit(25.0)).as("abs_res"),
        pmod(col("l_orderkey"), lit(7L)).cast(LongType).as("mod_res"),
        sqrt(col("l_extendedprice")).as("sqrt_res"))
      .orderBy("l_orderkey", "linenumber", "add_res", "sub_res")
  }
  query("q_math_ops", Oracle(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
        |       l_quantity + l_discount AS add_res,
        |       l_extendedprice - l_quantity AS sub_res,
        |       l_quantity * l_discount AS mul_res,
        |       l_extendedprice / l_quantity AS div_res,
        |       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4)), 2) AS DOUBLE) AS round_res,
        |       LOWER(TO_BASE(l_partkey, 16)) AS hex_partkey,
        |       ABS(l_quantity - 25.0) AS abs_res,
        |       l_orderkey % 7 AS mod_res,
        |       SQRT(l_extendedprice) AS sqrt_res
        |FROM lineitem WHERE l_orderkey % 4 = 1
        |ORDER BY l_orderkey, linenumber, add_res, sub_res""".stripMargin))(mathOps)

  /** date_format / to_unixtime / extract / date_trunc / datediff over event
    * timestamps — the reference's chrono pipeline (transform.rs:2576-2731)
    * mapped onto Spark datetime functions; all outputs strings or longs. */
  def dateOps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_formatted"),
        date_format(col("ts"), "yyyy/MM/dd").as("ts_slash"),
        year(col("ts")).cast(LongType).as("ts_year"),
        month(col("ts")).cast(LongType).as("ts_month"),
        dayofmonth(col("ts")).cast(LongType).as("ts_day"),
        hour(col("ts")).cast(LongType).as("ts_hour"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("ts_hour_bucket"),
        unix_timestamp(col("ts").cast(TimestampType)).as("unix_s"),
        unix_millis(col("ts").cast(TimestampType)).as("unix_ms"))
      .orderBy("event_id")
  query("q_date_ops", Oracle(
      """SELECT event_id,
        |       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_formatted,
        |       STRFTIME(ts, '%Y/%m/%d') AS ts_slash,
        |       CAST(YEAR(ts) AS BIGINT) AS ts_year,
        |       CAST(MONTH(ts) AS BIGINT) AS ts_month,
        |       CAST(DAY(ts) AS BIGINT) AS ts_day,
        |       CAST(HOUR(ts) AS BIGINT) AS ts_hour,
        |       STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS ts_hour_bucket,
        |       EPOCH_MS(ts) // 1000 AS unix_s,
        |       EPOCH_MS(ts) AS unix_ms
        |FROM events ORDER BY event_id""".stripMargin))(dateOps)

  /** JSON path extraction (`get`, get_json_object ↔ json_extract_string) over
    * the events.props JSON column. */
  def jsonOps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_value"),
        when(get_json_object(col("props"), "$.k").cast(LongType) > 50, "high")
          .otherwise("low").as("k_bucket"))
      .orderBy("event_id")
  query("q_json_ops", Oracle(
      """SELECT event_id,
        |       CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_value,
        |       CASE WHEN CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) > 50
        |            THEN 'high' ELSE 'low' END AS k_bucket
        |FROM events ORDER BY event_id""".stripMargin))(jsonOps)
}
