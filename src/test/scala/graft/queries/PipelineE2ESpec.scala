package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Sampling, Sharding, TextAnalysis => TA}

/** The user story, end to end: raw corpus → quality gate → exact +
  * near dedup → benchmark decontamination → mixture resampling → shard
  * publication, each stage the SAME operator the driver-gated queries
  * run, with the invariants a production pipeline would assert between
  * stages. No stage re-tokenizes another stage's work product; every
  * stage is a DataFrame→DataFrame function, so the whole chain is one
  * lazy plan until the final action. */
class PipelineE2ESpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("clean -> dedup -> decontaminate -> resample -> shard, invariants hold") {
    val docs = graft.Tables.documents(spark, dir)
    val n0 = docs.count()

    // 1. quality gate (absolute floor — the adaptive form is q_adaptive_quality)
    val gated = docs.filter(TA.qualityScore(col("text")) >= 0.5)
    val n1 = gated.count()
    assert(n1 > 0 && n1 <= n0, "gate keeps a nonempty subset")

    // 2. exact dedup (keep the smallest doc_id per digest)
    val withDigest = gated.withColumn("digest", md5(col("text")))
    val exactKept = Dedup.keepFirst(withDigest, Seq("digest"), Seq(col("doc_id").asc))
      .drop("digest")
    val n2 = exactKept.count()
    assert(n2 <= n1)
    assert(exactKept.select("text").distinct().count() == n2,
      "no two surviving docs share a body")

    // 3. near dedup: drop every non-canonical member of a near-dup cluster
    val sh = Dedup.shingleTable(exactKept, "text", "doc_id", n = 3)
      .persist()
    val pairs = Dedup.minhashDupPairsFrom(sh, k = 64, bands = 16, threshold = 0.8)
    val clusters = Dedup.duplicateClusters(pairs)
    val nearKept = exactKept.join(
      clusters.filter(col("doc_id") =!= col("canonical_id")).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val n3 = nearKept.count()
    assert(n3 <= n2)
    // survivors contain every cluster's canonical member
    val canonicals = clusters.select(col("canonical_id").as("doc_id")).distinct()
    assert(canonicals.join(nearKept, Seq("doc_id"), "left_anti").count() == 0,
      "every near-dup cluster keeps its canonical doc")

    // 4. benchmark decontamination (docs < 10 play the benchmark suite)
    val bench = docs.filter(col("doc_id") < 10)
    val contaminated = Dedup.contaminatedDocs(
      nearKept.filter(col("doc_id") >= 10), bench, "text", "doc_id", n = 3)
    val cleanCorpus = nearKept.filter(col("doc_id") >= 10)
      .join(contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val n4 = cleanCorpus.count()
    assert(n4 <= n3)
    assert(Dedup.contaminatedDocs(cleanCorpus, bench, "text", "doc_id", 3)
      .count() == 0, "decontamination must be a fixpoint")

    // 5. mixture resampling toward equal source weights
    val weights = cleanCorpus.select("source").distinct().collect()
      .map(r => r.getString(0) -> 1.0).toMap
    val mixed = Sampling.mixtureResample(cleanCorpus, "doc_id", "source", weights)
    val n5 = mixed.count()
    assert(n5 > 0 && n5 <= n4)

    // 6. publish: 4 shards + manifest; conservation against the final corpus
    val manifest = Sharding.shardManifest(mixed, "text", "doc_id", 4)
    assert(manifest.agg(sum("n_docs")).head.getLong(0) == n5,
      "manifest doc total equals the published corpus")
    val published = Sharding.assignShards(mixed.select("doc_id", "text"),
      "doc_id", nShards = 4)
    assert(published.count() == n5, "published rows equal the final corpus")
    assert(published.select("doc_id").distinct().count() == n5)
    assert(published.filter(col("shard") < 0 || col("shard") >= 4).isEmpty,
      "every document lands in one of the 4 shards")
    sh.unpersist(blocking = false)
  }
}
