package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TextAnalysis => TA}

/** Invariants for the round-13 split/calibration/sketch additions:
  * leakage-safety of the cluster-keyed split, histogram-vs-window parity
  * for the per-source calibration, and the HLL estimator's error bound +
  * partitioning invariance. */
class CurationSplitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("leakageSafeSplit: no near-dup pair straddles train/test; singletons match the doc split") {
    val split = SamplingQueries.leakageSafeSplit(spark, dir)
      .select("doc_id", "unit_id", "bucket", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val clusters = DedupQueries.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty, "fixture corpus must contain near-dup clusters")
    // every cluster member carries the canonical as unit and ONE split
    clusters.groupBy(_._2).foreach { case (canon, members) =>
      val splits = members.map { case (d, _) => split(d) }.toSet
      assert(splits.size == 1, s"cluster $canon split across $splits")
      assert(splits.head._1 == canon, s"cluster $canon unit mismatch")
    }
    // documents outside any cluster key the hash on their own id — the
    // same bucket q_train_split assigns them
    val dupDocs = clusters.map(_._1).toSet
    val docBuckets = SamplingQueries.trainSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    split.foreach { case (d, (unit, bucket, _)) =>
      if (!dupDocs.contains(d)) {
        assert(unit == d)
        assert(bucket == docBuckets(d))
      }
    }
  }

  test("qualityCalibrated: histogram rank equals the naive per-source percent_rank window") {
    val sig = graft.Tables.documents(spark, dir).select(col("doc_id"),
      col("source"),
      floor(TA.qualityScore(col("text")) * lit(1000000.0))
        .cast("long").as("q_fx"))
    val expected = sig
      .withColumn("q_rank", percent_rank().over(
        Window.partitionBy(col("source")).orderBy(col("q_fx"))))
      .select("doc_id", "q_rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val got = QualityQueries.qualityCalibrated(spark, dir)
      .select("doc_id", "q_rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.nonEmpty)
    got.foreach { case (d, r) => assert(r == expected(d), s"doc $d") }
  }

  test("cardinalityAudit: HLL estimate within its 2% rsd envelope and partitioning-invariant") {
    val out = AuditQueries.cardinalityAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (s, exact, approx, err) =>
      assert(err == math.abs(approx - exact).toDouble / exact)
      // 2% rsd ⇒ realized error beyond 5% means the sketch wiring is wrong
      assert(err < 0.05, s"source $s: exact=$exact approx=$approx")
    }
    // register max-merge is order/partitioning-invariant: the same rows
    // through 1 and 7 partitions must yield the SAME estimates
    val grams = TA.ngramRows(
        graft.Tables.documents(spark, dir).select("source", "text"),
        "text", "source", n = 5, distinct = true)
      .select(col("source"), xxhash64(col("gram")).as("h"))
    def est(parts: Int): Map[String, Long] = grams.repartition(parts)
      .groupBy("source").agg(approx_count_distinct(col("h"), 0.02).as("e"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est(1) == est(7))
  }
}
