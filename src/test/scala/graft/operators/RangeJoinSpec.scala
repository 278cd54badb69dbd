package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Banded range join: exact pair set vs the naive theta join (including
  * band-boundary pairs), no duplicate candidates, and the equi-join plan
  * shape (no cartesian / nested-loop product). */
class RangeJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def sides() = {
    import spark.implicits._
    // boundary cases around delta = 10: equal times, exactly delta apart
    // (inclusive), delta+1 apart (excluded), bin-straddling pairs
    // (t=9 vs t=11 share no bin but differ by 2), other keys isolated
    val left = Seq((1L, 100L, 9L), (1L, 101L, 20L), (1L, 102L, 50L),
      (2L, 200L, 9L)).toDF("k", "lid", "t")
    val right = Seq((1L, 900L, 11L), (1L, 901L, 30L), (1L, 902L, 61L),
      (2L, 950L, 19L), (3L, 960L, 9L)).toDF("k", "rid", "t")
    (left, right)
  }

  test("pair set equals the naive theta join; boundaries inclusive; no dups") {
    val (left, right) = sides()
    val banded = RangeJoin.withinDelta(left, right, "k", "t", "t", delta = 10L)
      .select(col("lid"), col("r_rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val naive = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") &&
          abs(col("l.t") - col("r.t")) <= 10)
      .select(col("l.lid"), col("r.rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(banded.sorted == naive.sorted, "banded must equal the theta join")
    assert(banded.size == banded.distinct.size, "each pair exactly once")
    // spot-pin the boundary semantics the fixture plants
    val set = banded.toSet
    assert(set.contains((100L, 900L)), "cross-bin pair 9 vs 11 (diff 2)")
    assert(set.contains((101L, 901L)), "exactly delta apart is inclusive")
    assert(!set.contains((102L, 902L)), "delta + 1 apart is excluded")
    assert(set.contains((200L, 950L)) && !set.exists(_._2 == 960L),
      "keys never cross")
  }

  test("plan: equi-join on (key, bin), no cartesian or nested loop") {
    val (left, right) = sides()
    val plan = RangeJoin.withinDelta(left, right, "k", "t", "t", delta = 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"range join must stay an equi-join:\n$plan")
    assert(plan.contains("__bin"),
      s"expected the band key in the join:\n$plan")
  }
}
