package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The write-side scale claim, checked against real physical plans:
  * bucketed tables join and aggregate with zero shuffle. */
class SinksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("writeBucketed: same-bucket join runs with zero Exchange") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val meta = (0L until 1000L).map(i => (i, i % 7)).toDF("doc_id", "cluster")
    Sinks.writeBucketed(docs, "sinks_docs", "doc_id", buckets = 8, sortCols = Seq("doc_id"))
    Sinks.writeBucketed(meta, "sinks_meta", "doc_id", buckets = 8, sortCols = Seq("doc_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join would need a shuffle WITHOUT bucketing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("sinks_docs").join(spark.table("sinks_meta"), "doc_id")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // sanity: the same join over non-bucketed frames DOES shuffle
      val unbucketed = docs.join(meta, "doc_id")
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS sinks_docs")
      spark.sql("DROP TABLE IF EXISTS sinks_meta")
    }
  }

  test("writeBucketed: groupBy on the bucket key skips the shuffle too") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, i % 3)).toDF("doc_id", "v")
    Sinks.writeBucketed(docs, "sinks_agg", "doc_id", buckets = 4)
    try {
      val agg = spark.table("sinks_agg").groupBy("doc_id").agg(sum("v"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed aggregation must not shuffle:\n$plan")
      assert(agg.count() == 500)
    } finally spark.sql("DROP TABLE IF EXISTS sinks_agg")
  }
}
