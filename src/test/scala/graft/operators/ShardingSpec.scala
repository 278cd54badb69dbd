package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic training-shard assignment: stable under repartitioning,
  * and the manifest conserves the corpus. */
class ShardingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("shardManifest conserves the corpus and is stable under repartitioning") {
    val docs = graft.Tables.documents(spark, dir)
    val m = Sharding.shardManifest(docs, "text", "doc_id", nShards = 8)
      .orderBy("shard").collect()
    assert(m.map(_.getLong(1)).sum == docs.count(), "doc counts must conserve")
    val chars = docs.agg(sum(length(col("text")))).head.getLong(0)
    assert(m.map(_.getLong(3)).sum == chars, "char counts must conserve")
    assert(m.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 8))
    // the assignment is content-hash — input partitioning cannot move docs
    val m2 = Sharding.shardManifest(docs.repartition(13), "text", "doc_id", 8)
      .orderBy("shard").collect()
    assert(m.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
  }
}
