package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic training-shard layout: stable assignment, conservation
  * of the corpus in the manifest, and the one-file-per-shard write. */
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

  test("writeShards: one file per shard directory, partition-pruned reads") {
    val out = Files.createTempDirectory("graft-shards").toString
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    Sharding.writeShards(docs, "doc_id", nShards = 4, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("shard="))
    assert(dirs.length == 4, s"expected 4 shard dirs, got ${dirs.length}")
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${d.getName} must hold exactly one file, got ${files.length}")
    }
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count(), "round-trip must conserve rows")
    // shard predicate reaches the scan as a partition filter: 1 of 4 dirs
    val plan = back.filter(col("shard") === 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"expected shard partition pruning in:\n$plan")
  }
}
