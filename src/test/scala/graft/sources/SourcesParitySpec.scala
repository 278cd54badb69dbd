package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.{Engine, ExprCompiler, YamlParser}

/** [[Sources.jsonNode]] ingests a record set of at most
  * [[Sources.LocalMaxRecords]] records as a driver-local frame and a larger
  * one as a distributed scan. The same documents, replicated past the
  * cut-over, must give the same schema (with its tags at every depth), the
  * same rows and the same rule output on both sides. */
class SourcesParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val mapper = new ObjectMapper()

  /** Mixed types, explicit nulls, absent keys, an empty object, arrays of
    * objects within arrays of objects, integers beyond a long, and keys with
    * a dot or a backtick. */
  private val records = Seq(
    """{"id": 1, "mixed": 1, "nul": null, "empty": {}, "big": 12345678901234567890,
      |  "orders": [{"sku": "a", "lines": [{"q": 1}, {"q": 2, "note": "x"}]}],
      |  "a.b": "dot", "c`d": "tick", "user": {"a": 1, "b": 2}}""",
    """{"id": 2, "mixed": "two", "nul": 5, "empty": {}, "big": 1, "orders": [],
      |  "a.b": "dot2", "c`d": "tick2", "user": {"a": 3}}""",
    """{"id": 3, "mixed": [1, "x"], "empty": {}, "big": -98765432109876543210,
      |  "orders": [{"sku": "b", "lines": []}, {"sku": "c", "lines": [{"q": null}]}],
      |  "a.b": null, "c`d": "t3", "user": {"a": 5, "b": null}}""").map(_.stripMargin)

  private val rule = YamlParser.parse(
    """version: 2
      |input:
      |  format: json
      |mappings:
      |  - target: "all"
      |    expr: "@input"
      |  - target: "dot"
      |    source: "[\"a.b\"]"
      |  - target: "user_len"
      |    expr: ["@input.user", len]
      |  - target: "user_keys"
      |    expr: ["@input.user", keys]
      |  - target: "first_line"
      |    expr: "@input.orders[0].lines[0]"
      |  - target: "big"
      |    expr: ["@input.big", multiply: [2]]
      |""".stripMargin)

  private def doc(recs: Seq[String]) = mapper.readTree(recs.mkString("[", ",", "]"))

  /** The records repeated until there are more than the cut-over. */
  private def replicated(recs: Seq[String]): Seq[String] =
    Seq.fill(Sources.LocalMaxRecords / recs.size + 1)(recs).flatten

  private def output(df: DataFrame): Seq[String] =
    Engine.toJsonRecords(rule, df, nullAsMissing = true).collect().toSeq.map(_.getString(0))

  private def assertSame(local: DataFrame, distributed: DataFrame, n: Int): Unit = {
    assert(Sources.isLocal(local) && !Sources.isLocal(distributed))
    assert(local.schema == distributed.schema,
      s"\n local       ${local.schema.prettyJson}\n distributed ${distributed.schema.prettyJson}")
    val (l, d) = (local.collect().toSeq, distributed.collect().toSeq)
    assert(l.map(_.toString) == d.take(n).map(_.toString))
    assert(d.size % n == 0 && d.grouped(n).forall(_.map(_.toString) == l.map(_.toString)))
  }

  test("the local and the distributed ingest give the same schema, rows and output") {
    val local = Sources.jsonNode(spark, doc(records), Nil)
    val many = replicated(records)
    assert(many.size > Sources.LocalMaxRecords)
    val distributed = Sources.jsonNode(spark, doc(many), Nil)
    assertSame(local, distributed, records.size)
    val (lo, dout) = (output(local), output(distributed))
    assert(dout.grouped(records.size).forall(_ == lo), s"\n$lo\n${dout.take(records.size)}")
    // the schema the two sides agree on carries what the documents hold
    val st = local.schema
    assert(st("mixed").dataType == VariantType && st("empty").dataType == StructType(Nil))
    assert(ExprCompiler.Absentable.valueType(st("nul")).contains(LongType))
    assert(st("big").dataType == DoubleType)
    val user = st("user").dataType.asInstanceOf[StructType]
    assert(ExprCompiler.Absentable.valueType(user("b")).contains(LongType))
    val line = st("orders").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      .apply("lines").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(ExprCompiler.Absentable.valueType(line("note")).contains(StringType))
    assert(ExprCompiler.Absentable.valueType(line("q")).contains(LongType))
    assert(lo(1) == """{"all":{"id":2,"mixed":"two","nul":5,"empty":{},"big":1.0,"orders":[],""" +
      """"a.b":"dot2","c`d":"tick2","user":{"a":3}},"dot":"dot2","user_len":1,""" +
      """"user_keys":["a"],"big":2.0}""", lo(1))
  }

  test("the traced run gives the same output and values on the local and distributed sides") {
    val staged =
      """version: 2
        |steps:
        |  - mappings:
        |      - target: id
        |        source: id
        |      - target: user_len
        |        expr: ["@input.user", len]
        |      - target: dot
        |        source: "[\"a.b\"]"
        |  - record_when:
        |      gt: ["@out.id", 1]
        |""".stripMargin
    val plain = YamlParser.parse(staged)
    val sorted = YamlParser.parse(staged + "finalize:\n  sort:\n    by: id\n    order: desc\n")
    val many = replicated(records)
    val copies = many.size / records.size
    val local = Sources.jsonNode(spark, doc(records), Nil)
    val distributed = Sources.jsonNode(spark, doc(many), Nil)
    def traced(rule: graft.rules.Model.RuleFile, df: DataFrame) =
      Engine.toJsonRecordsTraced(rule, df, graft.rules.Model.JNull, nullAsMissing = true)
    val (lp, ls) = (traced(plain, local), traced(sorted, local))
    val (dp, ds) = (traced(plain, distributed), traced(sorted, distributed))
    // the first record is dropped from the output and traced all the same
    assert(lp.output == Seq("""{"id":2,"user_len":1,"dot":"dot2"}""", """{"id":3,"user_len":2,"dot":null}"""),
      lp.output)
    assert(lp.output ==
      Engine.toJsonRecords(plain, local, nullAsMissing = true).collect().toSeq.map(_.getString(0)))
    assert(ls.output == lp.output.reverse)
    assert(dp.output == Seq.fill(copies)(lp.output).flatten)
    assert(ds.output == ls.output.flatMap(Seq.fill(copies)(_)))
    assert(lp.values.nonEmpty)
    assert(Seq(ls, dp, ds).forall(_.values == lp.values), Seq(lp, ls, dp, ds).map(_.values))
  }

  test("records_path at an object is one record; [] is no record; on both sides alike") {
    val one = records.head
    val local = Sources.jsonNode(spark,
      mapper.readTree(s"""{"data": {"rec": $one}}"""), Seq("data", "rec"))
    val distributed = Sources.jsonNode(spark,
      mapper.readTree(s"""{"data": {"rec": ${replicated(Seq(one)).mkString("[", ",", "]")}}}"""),
      Seq("data", "rec"))
    assertSame(local, distributed, 1)
    assert(output(distributed).distinct == output(local))
    val empty = Sources.jsonNode(spark, mapper.readTree("[]"), Nil)
    assert(empty.schema == StructType(Nil) && empty.count() == 0 && output(empty).isEmpty)
  }
}
