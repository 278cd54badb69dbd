package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.operators.{TextAnalysis => TA}

/** The ensemble query's rank machinery: the histogram-based exact
  * percent_rank (cum-below / (N−1) broadcast back from the value
  * histogram — no global sort of the corpus) must equal Spark's own
  * percent_rank window everywhere, including under ties; and the fused
  * ensemble must agree with a direct window-function restatement. */
class QualityEnsembleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("qualityEnsemble equals the global-window percent_rank restatement") {
    val nTok = TA.tokenCount(col("text"))
    val sigs = Tables.documents(spark, dir).select(col("doc_id"),
      nTok.as("s_tokens"),
      floor(size(array_distinct(TA.tokens(col("text")))).cast(DoubleType) /
          nTok.cast(DoubleType) * lit(1e6)).cast(LongType).as("s_ttr"),
      floor((col("n_chars") - (nTok - lit(1))).cast(DoubleType) /
          nTok.cast(DoubleType) * lit(1e6)).cast(LongType).as("s_mwl"))
    // the naive form the histogram path must reproduce exactly: Spark's
    // percent_rank is (rank-1)/(N-1) — the same quantity as
    // cum_below/(N-1) since rank = 1 + count(strictly smaller)
    val naive = sigs
      .withColumn("r_tokens", percent_rank().over(Window.orderBy("s_tokens")))
      .withColumn("r_ttr", percent_rank().over(Window.orderBy("s_ttr")))
      .withColumn("r_mwl", percent_rank().over(Window.orderBy("s_mwl")))
      .withColumn("ens",
        (col("r_tokens") + col("r_ttr") + col("r_mwl")) / lit(3.0))
    val naiveTop = naive
      .withColumn("rk", row_number().over(
        Window.orderBy(col("ens").desc, col("doc_id").asc)))
      .filter(col("rk") <= 100)
      .select(col("doc_id"), col("s_tokens").as("n_tokens"),
        col("r_tokens"), col("r_ttr"), col("r_mwl"), col("ens"))
      .orderBy("doc_id").collect()
    val got = QualityQueries.qualityEnsemble(spark, dir).collect()
    assert(got.length == naiveTop.length)
    got.zip(naiveTop).foreach { case (a, b) =>
      assert(a == b, s"histogram rank row $a != window rank row $b")
    }
  }

  test("single-row corpus degenerates to rank 0.0, not 0/0") {
    import spark.implicits._
    val one = Seq((7L, "only doc here", 13L)).toDF("doc_id", "text", "n_chars")
    // drive the private rank path through a 1-row signals frame: every
    // rank (and so the ensemble) must be 0.0 under N == 1
    val sigs = one.select(col("doc_id"),
      TA.tokenCount(col("text")).as("s_tokens"))
    val r = QualityQueries.rankBySignal(sigs, "s_tokens", "r").collect()
    assert(r.map(_.getDouble(1)).toSeq == Seq(0.0))
  }
}
