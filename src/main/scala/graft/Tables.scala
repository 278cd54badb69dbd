package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All queries take `(spark, sfDir)` and read only the tables/columns they
  * need — Catalyst prunes columns down to the parquet scan, so a query that
  * projects two columns reads two column chunks, not the whole table.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // `events` is cached only AFTER a successful NATIVE-generation load
    // (see [[events]], which populates the entry): its legacy
    // TIMESTAMP(NANOS) generation is detected by an inference-time
    // throw, so the first load per (session, dir) always runs real
    // inference — a pre-populated LongType schema would let a later
    // construction succeed without the nanosAsLong conf and defer the
    // failure to execution, past the catch. With the entry present the
    // generation is proven native and the ~90 ms per-construction
    // inference job is skipped like every other table's (r17).
    if (name != "events") readCachedSchema(spark, path)
    else cachedSchemas(spark).get(path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }
  }

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

  // The path → schema map behind readCachedSchema; `events` reads and
  // fills it directly. Weak-keyed by the SESSION (not its identity hash):
  // entries for stopped sessions are GC-evicted with the session, and a
  // reused identity hash can never serve a schema another session
  // inferred. Values are StructTypes only — nothing in a value pins its
  // key alive.
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
  /** events.ts has shipped both as parquet TIMESTAMP(NANOS) (which Spark 4
    * reads only as raw LongType nanos under the legacy nanosAsLong conf) and
    * as native TIMESTAMP(MICROS). Normalize by the loaded dtype instead of
    * hardwiring either generation:
    *   - LongType  → truncate ns→µs with integer division (`div`, not `/`:
    *     epoch-nanos ≈ 1.7e18 exceeds a double's 2^53 exact-integer range,
    *     so float division would corrupt low-order digits; DuckDB truncates
    *     ns→µs the same way, keeping the oracle aligned)
    *   - TimestampType / TimestampNTZType → pass through (cast NTZ to the
    *     session-zoned TimestampType the downstream date ops expect).
    * The legacy retry is SCOPED: the parquet scan re-checks the
    * session-global nanosAsLong conf at EXECUTION time, so simply
    * restoring it after schema inference would break the returned frame —
    * instead [[legacyEvents]] pins the normalized frame
    * ([[Materialize.pin]]) WHILE the conf is on, then restores it, so another
    * table's unexpected TIMESTAMP(NANOS) column still fails loudly rather
    * than silently loading as raw longs (TablesSpec pins both). The
    * materialization is the legacy generation's price — one events-table
    * load per (session, dir), cached; a deployment at real scale should
    * rewrite such files to native micros instead. */
  def events(s: SparkSession, d: String): DataFrame = {
    try {
      val raw = apply(s, d, "events")
      val df = normalizeTs(raw)
      // Populate the schema cache ONLY from this success path and only
      // for a non-Long ts: inference AND dtype normalization succeeded
      // without the legacy conf, so the generation is proven native and
      // re-serving its schema can never mask the legacy detection. A
      // LongType ts here (a genuinely long-typed column, not the
      // conf-gated nanos read — that one throws before reaching this
      // line) stays uncached out of caution: it is the one shape the
      // detection logic reasons about.
      import org.apache.spark.sql.types.LongType
      if (raw.schema("ts").dataType != LongType)
        cachedSchemas(s).putIfAbsent(s"$d/events.parquet", raw.schema)
      df
    } catch {
      // Pre-regeneration files are TIMESTAMP(NANOS): the plain read throws
      // [PARQUET_TYPE_ILLEGAL] at schema-inference time unless the legacy
      // conf is on. Retry once, scoped; unrelated failures (missing file)
      // re-throw identically from the retry.
      case scala.util.control.NonFatal(_) => legacyEvents(s, d)
    }
  }

  private def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros, col}
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val legacyEventsCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  /** Legacy-generation load, conf-scoped: flip nanosAsLong, read AND
    * pin the normalized frame (the pin cuts the lineage, so later actions
    * never re-touch the parquet scan that needs the conf), restore the
    * conf in a finally. Cached per
    * (session, dir) so each query over a legacy dir pays the
    * materialization once, not per call. */
  private def legacyEvents(s: SparkSession, d: String): DataFrame = {
    val key = (System.identityHashCode(s), d)
    legacyEventsCache.get(key).filter(_.sparkSession eq s).getOrElse {
      val prev = s.conf.getOption(nanosKey)
      s.conf.set(nanosKey, "true")
      val df =
        try {
          System.err.println(s"[graft.Tables] events at $d is a legacy " +
            "TIMESTAMP(NANOS) generation: loading under nanosAsLong and " +
            "materializing it eagerly; the conf is restored after — " +
            "other tables are unaffected")
          Materialize.pin(normalizeTs(apply(s, d, "events")))
        } finally prev match {
          case Some(v) => s.conf.set(nanosKey, v)
          case None    => s.conf.unset(nanosKey)
        }
      legacyEventsCache.put(key, df)
      df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
