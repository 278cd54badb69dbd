package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.rules.Model._
import graft.rules.{Engine, YamlParser}

/** End-to-end proof that the YAML rule engine (graft.rules) produces
  * oracle-correct results on real tables: each query here is a rule FILE
  * (string), parsed → compiled to a Catalyst plan → executed, and its
  * output hash-compared against plain DuckDB SQL by the driver.
  */
object EngineQueries extends QueryFamily {
  /** record_when + mapping chain (@out refs) + casts — the reference's
    * bread-and-butter transform, over lineitem. */
  private val filterProjectRule =
    """version: 2
      |record_when:
      |  all:
      |    - gte: ["@input.l_quantity", 30]
      |    - eq: ["@input.l_returnflag", "R"]
      |mappings:
      |  - target: orderkey
      |    source: l_orderkey
      |  - target: linenumber
      |    source: l_linenumber
      |    type: int
      |  - target: qty
      |    source: l_quantity
      |    type: int
      |  - target: gross
      |    expr: ["@input.l_extendedprice", multiply: ["@input.l_quantity"]]
      |  - target: label
      |    expr: ["R-", concat: ["@out.orderkey"]]
      |""".stripMargin

  def ruleFilterProject(spark: SparkSession, dir: String): DataFrame =
    Engine.transform(YamlParser.parse(filterProjectRule), Tables.lineitem(spark, dir))
      .orderBy("orderkey", "linenumber", "gross")
  query("q_rule_filter_project", Oracle(
      """SELECT l_orderkey AS orderkey,
        |       CAST(l_linenumber AS BIGINT) AS linenumber,
        |       CAST(l_quantity AS BIGINT) AS qty,
        |       l_extendedprice * l_quantity AS gross,
        |       'R-' || l_orderkey AS label
        |FROM lineitem
        |WHERE l_quantity >= 30 AND l_returnflag = 'R'
        |ORDER BY orderkey, linenumber, gross""".stripMargin))(ruleFilterProject)

  /** lookup_first against an injected context (the nation dimension played
    * back as the reference's in-memory context array). */
  private val lookupRule =
    """version: 2
      |mappings:
      |  - target: custkey
      |    source: c_custkey
      |  - target: nation_name
      |    expr: ["@context.nations", lookup_first: ["key", "@input.c_nationkey", "name"]]
      |  - target: balance_label
      |    expr:
      |      - "@input.c_acctbal"
      |      - if:
      |          cond: { gte: ["$", 0] }
      |          then: ["ok"]
      |          else: ["negative"]
      |""".stripMargin

  def ruleLookup(spark: SparkSession, dir: String): DataFrame = {
    // context = nation table as a literal array (it is 25 rows — exactly the
    // reference's broadcast-style context); big dims go through the
    // broadcast-join path instead (Relational.lookup). The guard keeps a
    // mis-pointed dimension from being baked into the plan as literals.
    val nationDf = Tables.nation(spark, dir)
    val dimCount = nationDf.count()
    require(dimCount <= 10000,
      s"in-plan lookup context capped at 10k rows (got $dimCount); use the broadcast-join path")
    val nations = nationDf.collect().map { r =>
      JObject(Seq("key" -> JLong(r.getInt(0).toLong), "name" -> JString(r.getString(1))))
    }
    val ctx = JObject(Seq("nations" -> JArray(nations.toSeq)))
    Engine.transform(YamlParser.parse(lookupRule), Tables.customer(spark, dir), ctx)
      .orderBy("custkey")
  }
  query("q_rule_lookup", Oracle(
      """SELECT c_custkey AS custkey,
        |       n_name AS nation_name,
        |       CASE WHEN c_acctbal >= 0 THEN 'ok' ELSE 'negative' END AS balance_label
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY custkey""".stripMargin))(ruleLookup)

  /** steps + step-level record_when + finalize sort/offset/limit. */
  private val finalizeRule =
    """version: 2
      |steps:
      |  - mappings:
      |      - target: orderkey
      |        source: o_orderkey
      |      - target: total
      |        source: o_totalprice
      |      - target: status
      |        source: o_orderstatus
      |  - record_when:
      |      ne: ["@out.status", "X"]
      |finalize:
      |  filter: { gt: ["@item.total", 1000] }
      |  sort: { by: orderkey, order: desc }
      |  offset: 5
      |  limit: 10
      |""".stripMargin

  def ruleFinalize(spark: SparkSession, dir: String): DataFrame =
    Engine.transform(YamlParser.parse(finalizeRule), Tables.orders(spark, dir))
  query("q_rule_finalize", Oracle(
      """SELECT o_orderkey AS orderkey, o_totalprice AS total, o_orderstatus AS status
        |FROM orders WHERE o_orderstatus <> 'X' AND o_totalprice > 1000
        |ORDER BY orderkey DESC LIMIT 10 OFFSET 5""".stripMargin))(ruleFinalize)
}
