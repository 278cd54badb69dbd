package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** knnJoin shape selection: broadcast within the row bound, graceful
  * partitioned-cartesian fallback past it — total, never throwing — with
  * bit-identical results either way. */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("knnJoin falls back to a partitioned cartesian past the broadcast bound") {
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 20)
    val c = emb.filter(col("vec_id") >= 20)
    def run(bound: Long) = Similarity.knnJoin(q, c,
      "vec_id", "embedding", "vec_id", "embedding", k = 3,
      maxBroadcastRows = bound)
    // disable auto-broadcast so the fallback shape is observable on a
    // tiny test table (the explicit broadcast() hint still wins over it)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaBroadcast = run(1L << 20)
      assert(viaBroadcast.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"),
        "within the bound the query side must broadcast")
      // 20 query rows > bound of 5 ⇒ graceful non-broadcast fallback
      val viaShuffle = run(5)
      val sPlan = viaShuffle.queryExecution.executedPlan.toString
      assert(!sPlan.contains("BroadcastNestedLoopJoin") &&
          sPlan.contains("CartesianProduct"),
        s"past the bound the join must not broadcast:\n$sPlan")
      // identical results either way — the bound changes the plan, never
      // the answer
      assert(rows(viaShuffle) == rows(viaBroadcast))
      // Long.MaxValue means "always broadcast" — the +1 probe must not
      // overflow into a negative limit
      assert(run(Long.MaxValue).queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("within the stats bound the broadcast decision spends no probe job") {
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 20)
    val c = emb.filter(col("vec_id") >= 20)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // let any queued listener events from a prior test drain so its jobs
      // can't leak into this count, then build the join: a small-estimate
      // query side must take the stats short-circuit — broadcast decided
      // from plan statistics, zero jobs spent before the first action.
      // (The probe job, when it runs, runs SYNCHRONOUSLY inside knnJoin —
      // its count() blocks — so its start event is posted before the
      // settle sleep below ends; a delayed event can only fail toward
      // a false job count, never a false pass of a real probe... and the
      // 1s settle makes even that remote.)
      Thread.sleep(1000); jobs = 0
      val df = Similarity.knnJoin(q, c,
        "vec_id", "embedding", "vec_id", "embedding", k = 3)
      Thread.sleep(1000)
      assert(jobs == 0,
        s"expected the stats short-circuit to decide without a probe job, saw $jobs")
      assert(df.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
