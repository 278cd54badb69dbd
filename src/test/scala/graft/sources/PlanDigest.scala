package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.rules.{Engine, YamlParser}
import graft.rules.Model._

/** The optimized logical plans the rule engine runs, for every in-repo
  * rules fixture with an input file and for perfbench's four batch shapes,
  * through each of the engine's five sinks: `transform`, `toJsonRecords`,
  * `toJsonRecordsWithWarnings` (output and warnings), `toJsonRecordsTraced`
  * and `ndjsonWithWarnings`. Each sink is run and every query it executes
  * is written, with expression ids numbered in order of appearance within
  * the query, or the error the sink raised. Inputs are the distributed scan
  * of the records ([[Sources.scanned]]): the driver-local side folds the
  * whole plan into a relation of its result rows. Two trees whose digests
  * are equal build the same plans.
  *
  * {{{
  * sbt "Test/runMain graft.sources.PlanDigest plans.txt"
  * diff parent/plans.txt plans.txt
  * }}}
  * The argument is the output file; the fixtures are read from the
  * working directory's `src/test/resources/graft/fixtures`. */
object PlanDigest {

  private val mapper = new ObjectMapper()

  /** perfbench's rule shapes (`perfbench.TransformGen`), with two records
    * of the fields its generator writes. */
  private val simpleMappings =
    """mappings:
      |  - target: id
      |    source: id
      |  - target: name
      |    source: name
      |  - target: price
      |    source: price
      |    type: float
      |""".stripMargin
  private val benchShapes: Seq[(String, String, String)] = Seq(
    ("simple", "version: 2\ninput: { format: json, json: {} }\n" + simpleMappings,
      """[{"id":1,"name":"item-a","price":"1.50"},{"id":2,"name":"item-b","price":"2.05"}]"""),
    ("lookup",
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: id
        |    source: id
        |  - target: user_name
        |    expr: ["@context.users", lookup_first: ["id", "@input.user_id", "name"]]
        |  - target: tag_values
        |    expr: ["@context.tags", lookup: ["id", "@input.tag_id", "value"]]
        |""".stripMargin,
      """[{"id":1,"user_id":3,"tag_id":"t1"},{"id":2,"user_id":90,"tag_id":"t65"}]"""),
    ("extended",
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: id
        |    source: id
        |  - target: replaced
        |    expr: ["@input.text", replace: ["-", "_", "all"]]
        |  - target: masked
        |    expr: ["@input.regex_text", replace: ["[0-9]", "#", "regex_all"]]
        |  - target: parts
        |    expr: ["@input.csv", split: [","]]
        |  - target: padded
        |    expr: ["@input.pad", pad_start: [5, "0"]]
        |  - target: sum
        |    expr: ["@input.num_a", add: ["@input.num_b"]]
        |  - target: rounded
        |    expr: ["@input.num_a", multiply: [3], round: [2]]
        |  - target: hex
        |    expr: ["@input.base_value", to_base: [16]]
        |  - target: day
        |    expr: ["@input.date_simple", date_format: ["%Y/%m/%d %H:%M"]]
        |  - target: epoch_s
        |    expr: ["@input.unix_s", to_unixtime: ["s"]]
        |  - target: epoch_ms
        |    expr: ["@input.unix_ms", to_unixtime: ["ms"]]
        |""".stripMargin,
      """[{"id":1,"text":"ab-cd","regex_text":"a1b2c3","csv":"x,y","pad":"42","num_a":1.25,""" +
        """"num_b":"3.5","base_value":255,"date_simple":"2024-01-02 03:04:05",""" +
        """"unix_s":"2024-01-02T03:04:05Z","unix_ms":"2024-01-02T03:04:05.678Z"}]"""),
    ("simple_csv", "version: 2\ninput: { format: csv, csv: { has_header: true } }\n" + simpleMappings,
      "id,name,price\n1,item-a,1.50\n2,item-b,2.05\n"))
  private val benchContext =
    """{"users":[{"id":3,"name":"user-3","role":"admin"},{"id":4,"name":"user-4","role":"guest"}],
      | "tags":[{"id":"t1","value":"v-1"},{"id":"t1","value":"v-2"}]}""".stripMargin

  private type Sink = (RuleFile, DataFrame, JValue, Engine.RuleLoader) => Unit
  private def nullAsMissing(rule: RuleFile): Boolean = rule.input.format != "csv"
  private val sinks: Seq[(String, Sink)] = Seq(
    "transform" -> ((r, in, ctx, l) => Engine.transform(r, in, ctx, nullAsMissing(r), l).collect()),
    "json" -> ((r, in, ctx, l) => Engine.toJsonRecords(r, in, ctx, nullAsMissing(r), l).collect()),
    "warnings" -> { (r, in, ctx, l) =>
      val jw = Engine.toJsonRecordsWithWarnings(r, in, ctx, nullAsMissing(r), l)
      jw.output.collect(); jw.warnings.collect(); ()
    },
    "traced" -> ((r, in, ctx, l) => Engine.toJsonRecordsTraced(r, in, ctx, nullAsMissing(r), l)),
    "ndjson" -> ((r, in, ctx, l) => Engine.ndjsonWithWarnings(r, in, ctx, nullAsMissing(r), l)
      .collect()))

  /** Expression ids renumbered from 0 in order of appearance, and the
    * session-wide frame id that ends an observation's node dropped. */
  private def normalized(text: String): String = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    "(?m)^(.*CollectMetrics .*), \\d+$".r.replaceAllIn(
      "#\\d+".r.replaceAllIn(text, m => "#" + ids.getOrElseUpdate(m.matched, ids.size)),
      m => java.util.regex.Matcher.quoteReplacement(m.group(1)))
  }

  /** The records under `rule`'s records path, scanned by tasks. */
  private def distributed(spark: SparkSession, rule: RuleFile, dir: Path, file: String): DataFrame =
    if (rule.input.format == "csv") Sources.csv(spark, dir.resolve(file).toString, rule.input)
    else {
      import spark.implicits._
      val doc = mapper.readTree(Files.readString(dir.resolve(file)))
      val local = Sources.jsonNode(spark, doc, rule.input.recordsPath)
      val target = rule.input.recordsPath.foldLeft(doc)(_.get(_))
      val records = if (target.isArray) target.elements.asScala.toSeq else Seq(target)
      if (records.isEmpty) local
      else Sources.scanned(spark.createDataset(records.map(mapper.writeValueAsString)), local.schema)
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(4)
    // every field of every node, so no difference hides in a truncation
    spark.conf.set("spark.sql.debug.maxToStringFields", Int.MaxValue.toString)
    val executed = scala.collection.mutable.ArrayBuffer.empty[String]
    def plan(qe: QueryExecution): Unit = executed.synchronized {
      executed += (try qe.optimizedPlan.toString catch { case NonFatal(e) => s"unplanned: $e" })
    }
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
    })
    val out = new StringBuilder

    def digest(name: String, rule: => RuleFile, input: RuleFile => DataFrame, context: JValue,
        loader: Engine.RuleLoader): Unit = sinks.foreach { case (sink, run) =>
      executed.clear()
      val error =
        try { val r = rule; run(r, input(r), context, loader); None }
        catch { case NonFatal(e) =>
          val t = graft.rules.ExprCompiler.RmError.fromThrowable(e).getOrElse(e)
          Some(s"error: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).linesIterator.nextOption().getOrElse("")}")
        }
      Bridge.drainListenerBus(spark.sparkContext)
      out ++= s"## $name $sink\n"
      executed.foreach(p => out ++= normalized(p) ++= "\n")
      error.foreach(e => out ++= normalized(e) ++= "\n")
    }

    val root = Paths.get("src/test/resources/graft/fixtures")
    val dirs = Files.list(root).iterator.asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.toString)
    for (dir <- dirs; file <- Seq("input.json", "input.csv").find(f => Files.exists(dir.resolve(f)))) {
      val context =
        if (Files.exists(dir.resolve("context.json")))
          graft.Cli.jsonToJValue(mapper.readTree(Files.readString(dir.resolve("context.json"))))
        else JNull
      digest(dir.getFileName.toString, YamlParser.parse(Files.readString(dir.resolve("rules.yaml"))),
        distributed(spark, _, dir, file), context, Engine.fileLoader(dir.toString))
    }

    val scratch = Files.createTempDirectory("plan-digest")
    for ((name, rule, records) <- benchShapes) {
      val parsed = YamlParser.parse(rule)
      val file = if (parsed.input.format == "csv") "input.csv" else "input.json"
      Files.writeString(scratch.resolve(file), records)
      digest(s"perfbench/$name", parsed, distributed(spark, _, scratch, file),
        graft.Cli.jsonToJValue(mapper.readTree(benchContext)), Engine.noLoader)
      Files.delete(scratch.resolve(file))
    }
    Files.delete(scratch)
    Files.writeString(Paths.get(args(0)), out.toString)
    spark.stop()
  }
}
