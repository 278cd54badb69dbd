package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact/approx parity for [[Sampling.adaptiveGate]] — the per-group
  * percentile quality gate. The exact path is what the oracle hash-checks
  * (q_adaptive_quality); the approx path (`percentile_approx`, bounded
  * memory per group) is the 100 TB deployment. Contract: the two kept
  * sets may differ ONLY for rows whose score falls between the two
  * thresholds — rank-epsilon around the cut — so at 1/accuracy rank
  * error the symmetric difference is a sliver, never a different gate. */
class AdaptiveGateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.01"

  private def scored() = {
    val docs = graft.Tables.documents(spark, dir)
    docs.select(col("doc_id"), col("lang"),
      graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"))
  }

  test("approx gate keeps the exact kept-set up to rank-epsilon at the cut") {
    val s = scored().cache()
    try {
      val exact = Sampling.adaptiveGate(s, "lang", "quality",
        quantile = 0.25, exact = true)
      val approx = Sampling.adaptiveGate(s, "lang", "quality",
        quantile = 0.25, exact = false, accuracy = 10000)

      val exactKept = exact.select("doc_id").collect().map(_.getLong(0)).toSet
      val approxKept = approx.select("doc_id").collect().map(_.getLong(0)).toSet
      val total = s.count()

      // thresholds per language are close in VALUE space: both are order
      // statistics of the same per-language score multiset, and at
      // accuracy=10000 on sf0.01 group sizes the rank error is < 1
      val eThr = exact.select("lang", "q_thr").distinct().collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val aThr = approx.select("lang", "q_thr").distinct().collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(eThr.keySet == aThr.keySet)

      // every disagreeing doc sits between the two thresholds of its lang
      val diff = exactKept.diff(approxKept) ++ approxKept.diff(exactKept)
      if (diff.nonEmpty) {
        val rows = s.filter(col("doc_id").isin(diff.toSeq: _*))
          .select("doc_id", "lang", "quality").collect()
        rows.foreach { r =>
          val (l, q) = (r.getString(1), r.getDouble(2))
          val lo = math.min(eThr(l), aThr(l))
          val hi = math.max(eThr(l), aThr(l))
          assert(q >= lo && q < hi || q == hi,
            s"doc ${r.getLong(0)} ($l, q=$q) outside threshold band [$lo,$hi]")
        }
      }
      // and the sliver is small: under 2% of the corpus
      assert(diff.size <= total * 0.02,
        s"exact/approx kept sets differ by ${diff.size} of $total docs")
      // both gates keep roughly the top three quarters per design
      assert(exactKept.size > total / 2 && approxKept.size > total / 2)
    } finally s.unpersist(blocking = false)
  }
}
