package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._

import graft.rules.ExprCompiler
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
  * transform.rs:902-941). The document is parsed on the driver, as the
  * reference parses it; a small record set stays a driver-local frame and
  * a large one is scanned by tasks (see [[jsonNode]]).
  */
object Sources {

  /** The most records [[jsonNode]] ingests as a driver-local frame. At or
    * below it a rule runs as a `LocalRelation` that Catalyst folds on the
    * driver, starting no Spark job; above it tasks run the rule's generated
    * code in parallel, while the fold evaluates it interpreted on one
    * thread, so the local side's lead shrinks as records grow. Measured by
    * `graft.sources.LocalCutover` (test sources) at `local[4]` with the
    * client compiler, per transform from document to collected output, for
    * a plain and a string/date-heavy rule. 256 was chosen as the largest
    * measured size at which the local side took at least a third less wall
    * time and CPU than the scan for both rules. Re-measured with the rule
    * kernels in generated code ([[graft.functions.ParseCascade]],
    * [[graft.functions.ScalarJson]]), one run of 20 rounds and one of 40:
    * at 256 the local side took 36–38% less wall time than the scan for the
    * plain rule and 20–23% less for the heavier one, and 40–50% less CPU
    * for both; the heavier rule's lead was 11% at 384 and gone at 512, the
    * plain rule's 21–23% at 512 and gone by 2,048. Generated code made the
    * scan of the heavier rule cheaper, so its wall-time lead at 256 is now
    * below a third; 256 is kept because the local side still leads there
    * for both rules on wall time and CPU. The margin leaves room for rules
    * costlier per record than the measured ones, whose interpreted
    * evaluation grows with the record count while a job's fixed cost does
    * not. */
  val LocalMaxRecords: Int = 256

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
    * inference, [[graft.rules.ExprCompiler.infer]] — the one JSON typing,
    * which types the rules' `@context`, literal arrays and defaults too:
    * field order is preserved, empty objects survive as zero-field structs,
    * fields whose values mix types become VariantType, integers beyond the
    * range of a long are doubles, and object keys that some object lacks or
    * holds as an explicit null, at any depth, become
    * [[graft.rules.ExprCompiler.Absentable]] fields tagged with the type of
    * their values — which preserves the reference's absent-vs-null
    * distinction (absent → SQL null, explicit null → variant null) while
    * rules still see the typed value, so a SQL null in a plain field always
    * means the field is absent. Document-mode JSON is a driver-side
    * whole-file parse in the reference too. */
  def json(spark: SparkSession, path: String, recordsPath: Seq[String]): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    jsonNode(spark,
      mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path))),
      recordsPath)
  }

  /** Same ingest from an already-parsed document — the serving surfaces
    * (endpoint engine, MCP) hold records in memory and need no temp file.
    *
    * Where it runs: up to [[LocalMaxRecords]] records the frame is a
    * `LocalRelation` of the record lines parsed by `from_json`, so
    * Catalyst's `ConvertToLocalRelation` evaluates the rule's projections,
    * filters and limits on the driver while optimizing and the collect
    * starts no job — a served request's steps, `evalJson` and `evalCond`
    * each cost planning only. Above it, `read.json` over the same lines
    * builds a distributed scan whose tasks run generated code, which wins
    * once the rows outweigh a job's fixed cost. Both sides parse with the
    * same schema and the same Jackson parser, so they give the same schema
    * (tags included) and the same rows. */
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

    // An empty records array is a valid input (`[]` → empty record set,
    // reference record iteration over zero records); infer would return
    // VariantType for it, so short-circuit to a zero-column empty frame —
    // mapping refs against it compile to missing, output is zero rows.
    if (records.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Nil))
    val schema = ExprCompiler.infer(records) match {
      case st: StructType => st
      case t => throw new IllegalArgumentException(s"records are not objects: $t")
    }
    import spark.implicits._
    val lines = spark.createDataset(records.map(mapper.writeValueAsString))
    if (records.size > LocalMaxRecords) scanned(lines, schema) else local(lines, schema)
  }

  /** [[jsonNode]]'s distributed side: tasks scan the record lines. */
  private[sources] def scanned(lines: Dataset[String], schema: StructType): DataFrame =
    lines.sparkSession.read.schema(schema).json(lines)

  /** [[jsonNode]]'s driver-local side: the record lines parsed by the
    * parser expression itself, since `functions.from_json` drops the tags
    * of nested fields from the schema it is given; two projections, so each
    * line is parsed once, and the top-level tags ride the aliases. */
  private[sources] def local(lines: Dataset[String], schema: StructType): DataFrame =
    lines.select(Bridge.column(
      JsonToStructs(schema, Map.empty, Bridge.expression(col("value")))).as("r"))
      .select(schema.fields.toSeq.map(f => col("r").getField(f.name).as(f.name, f.metadata)): _*)

  /** Whether `df` reads only driver-local rows: [[jsonNode]]'s choice for a
    * record set at or below [[LocalMaxRecords]], read back from the plan. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
}
