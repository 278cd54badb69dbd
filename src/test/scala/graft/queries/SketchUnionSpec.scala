package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TextAnalysis => TA}

/** Contracts for the snapshot-mergeable HLL cardinality query: unioning
  * per-slice sketches reproduces the direct single-pass estimate within
  * the sketch's error band (DataSketches HIP accumulators are
  * merge-topology-dependent, so bitwise equality is the WRONG
  * contract), and estimates sit inside the error envelope against
  * exact counts. */
class SketchUnionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("union drift stays in the 2% band and estimates sit in the error envelope") {
    val out = AuditQueries.sketchUnion(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getBoolean(7)))
    assert(out.nonEmpty)
    out.foreach { case (s, _, _, _, union, direct, drift, ok) =>
      assert(drift == math.abs(union - direct).toDouble / direct, s"source $s")
      assert(ok, s"source $s: union $union vs direct $direct drifts $drift")
    }
    // both slices must be non-trivially populated somewhere
    assert(out.exists(_._3 > 0), "the mod-5 slice must hit some sources")
    // error envelope vs exact distinct counts of the union
    val exactUnion = TA.ngramRows(
        graft.Tables.documents(spark, dir).select("doc_id", "source", "text"),
        "text", "source", n = 5, keep = Seq("doc_id"), distinct = true)
      .select(col("source"), xxhash64(col("gram")).as("h"))
      .groupBy("source").agg(countDistinct(col("h")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    out.foreach { case (s, _, _, _, union, _, _, _) =>
      val exact = exactUnion(s)
      val err = math.abs(union - exact).toDouble / exact
      assert(err < 0.05, s"source $s: est $union vs exact $exact (err $err)")
    }
    // the union estimate must not undercut the larger slice's exact
    // count by more than the band — supersets can't shrink
    out.foreach { case (s, n1, n2, _, union, _, _, _) =>
      assert(union.toDouble >= math.max(n1, n2) * 0.95,
        s"source $s: union $union vs slices ($n1, $n2)")
    }
  }
}
