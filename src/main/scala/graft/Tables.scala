package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All queries take `(spark, sfDir)` and read only the tables/columns they
  * need — Catalyst prunes columns down to the parquet scan, so a query that
  * projects two columns reads two column chunks, not the whole table.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readCachedSchema(spark, s"$sfDir/$name.parquet")

  /** Read a parquet path with a per-(session, path) cached schema: a
    * bare `read.parquet` re-runs footer schema inference as a driver job
    * on every DataFrame construction (~25-30 ms per path), and queries
    * construct fresh per bench rep. Serves both the dataset tables and
    * the committed artifacts ([[graft.operators.Artifacts.frame]]). A
    * certified artifact directory is IMMUTABLE (a new stamp or format is
    * a new path), and a dataset table whose SCHEMA mutates in place
    * mid-session is not a supported pattern, so a cached schema never
    * goes stale. Data is still read fresh at execution; only the
    * inference job is skipped, and the one it runs per (session, path)
    * is labelled `parquet at Tables.scala` whichever caller asked. */
  def readCachedSchema(spark: SparkSession, path: String): DataFrame = {
    val schema =
      cachedSchemas(spark).getOrElseUpdate(path, spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  // The path → schema map behind readCachedSchema. Weak-keyed by the
  // SESSION (not its identity hash): entries for stopped sessions are
  // GC-evicted with the session, and a reused identity hash can never
  // serve a schema another session inferred. Values are StructTypes
  // only — nothing in a value pins its key alive.
  private def cachedSchemas(spark: SparkSession) =
    schemaCache.synchronized {
      schemaCache.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap
          .empty[String, org.apache.spark.sql.types.StructType])
    }
  private val schemaCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String,
        org.apache.spark.sql.types.StructType]]()

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(MICROS) with `isAdjustedToUTC =
    * false` (pyarrow's `timestamp[us]`; TESTDATA.md), which Spark reads as
    * TimestampNTZType; it is cast to the session-zoned TimestampType the
    * date ops expect. */
  def events(s: SparkSession, d: String): DataFrame =
    apply(s, d, "events").withColumn("ts", col("ts").cast(TimestampType))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
