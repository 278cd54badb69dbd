package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.rules.ExprCompiler.Absentable
import graft.rules.Model.InputSpec

/** Input sources with the reference's ingest semantics (SURVEY §2.1).
  *
  * CSV: every cell is ingested as a STRING (record_to_object,
  * transform.rs:943-951) — no inference; leading zeros survive; typing
  * happens per-mapping via casts. Headerless files take their column names
  * from the rule's declared `columns`. Spark's CSV reader is distributed
  * and vectorized, so this scales to any size; one file of any format
  * yields the same all-strings record shape the reference produces.
  *
  * JSON: whole-document parse honoring `records_path` — the path selects
  * the record array (array → records, object → one record,
  * transform.rs:902-941). Spark's multiLine JSON reader materializes the
  * document per file; for NDJSON record streams use `ndjson` (one record
  * per line, the reference's streaming shape, fully splittable).
  */
object Sources {

  def csv(spark: SparkSession, path: String, spec: InputSpec): DataFrame = {
    val reader = spark.read
      .option("header", spec.hasHeader)
      .option("delimiter", spec.delimiter)
      .option("inferSchema", false) // all strings — reference semantics
    if (spec.hasHeader) reader.csv(path)
    else {
      val df = reader.csv(path)
      if (spec.columns.nonEmpty) df.toDF(spec.columns: _*) else df
    }
  }

  /** JSON documents ingest with a Jackson-driven schema instead of Spark's
    * inference: field order is preserved, empty objects survive as
    * zero-field structs, fields whose values mix types become VariantType,
    * and object fields that hold an explicit null in any record become
    * [[graft.rules.ExprCompiler.Absentable]] fields tagged with the type of
    * their values — which preserves the reference's absent-vs-null
    * distinction (absent → SQL null, explicit null → variant null) while
    * rules still see the typed value, so a SQL null in a plain field always
    * means the field is absent. Document-mode JSON is a
    * driver-side whole-file parse in the reference too; NDJSON stays the
    * scalable splittable path. */
  def json(spark: SparkSession, path: String, recordsPath: Seq[String]): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    jsonNode(spark,
      mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path))),
      recordsPath)
  }

  /** Same ingest from an already-parsed document — the serving surfaces
    * (endpoint engine, MCP) hold records in memory and need no temp file. */
  def jsonNode(spark: SparkSession,
      doc: com.fasterxml.jackson.databind.JsonNode,
      recordsPath: Seq[String]): DataFrame = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    val target = recordsPath.foldLeft(doc) { (cur, seg) =>
      val next = if (cur != null && cur.isObject) cur.get(seg) else null
      if (next == null)
        throw new IllegalArgumentException(s"records_path segment '$seg' not found")
      next
    }
    val records: Seq[JsonNode] =
      if (target.isArray) target.elements.asScala.toSeq
      else if (target.isObject) Seq(target)
      else throw new IllegalArgumentException("records_path points at a scalar")

    def infer(nodes: Seq[JsonNode]): DataType = {
      val nn = nodes.filter(n => n != null && !n.isNull)
      if (nn.isEmpty) VariantType
      else if (nn.forall(_.isObject)) {
        val names = scala.collection.mutable.LinkedHashSet.empty[String]
        nn.foreach(_.fieldNames.asScala.foreach(names += _))
        StructType(names.toSeq.map { k =>
          val vs = nn.map(_.get(k))
          if (vs.exists(v => v != null && v.isNull)) Absentable.field(k, infer(vs))
          else StructField(k, infer(vs))
        })
      } else if (nn.forall(_.isArray))
        ArrayType(infer(nn.flatMap(_.elements.asScala)))
      else if (nn.forall(_.isTextual)) StringType
      else if (nn.forall(_.isBoolean)) BooleanType
      else if (nn.forall(_.isIntegralNumber)) LongType
      else if (nn.forall(_.isNumber)) DoubleType
      else VariantType
    }
    // An empty records array is a valid input (`[]` → empty record set,
    // reference record iteration over zero records); infer would return
    // VariantType for it, so short-circuit to a zero-column empty frame —
    // mapping refs against it compile to missing, output is zero rows.
    if (records.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Nil))
    val schema = infer(records) match {
      case st: StructType => st
      case t => throw new IllegalArgumentException(s"records are not objects: $t")
    }
    import spark.implicits._
    val lines = records.map(mapper.writeValueAsString)
    spark.read.schema(schema).json(spark.createDataset(lines))
  }

  /** NDJSON (one JSON record per line) — splittable, the scalable shape. */
  def ndjson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
}
