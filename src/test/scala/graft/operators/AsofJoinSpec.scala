package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AS-OF join semantics pinned on a hand-built table: inclusive
  * at-or-before matching, deterministic tie-breaks, left-outer nulls,
  * same-row payload consistency, and the one-shuffle plan shape. */
class AsofJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def sides() = {
    import spark.implicits._
    // key 1: rights at t=10 (ids 100, 101 — tie) and t=20; lefts at
    // t=10 (inclusive boundary), t=15, t=25; key 2: left before any
    // right (outer null); key 3: right only (no output row)
    val left = Seq(
      (1L, 10L, 1000L), (1L, 15L, 1001L), (1L, 25L, 1002L),
      (2L, 5L, 2000L)).toDF("k", "t", "lid")
    val right = Seq(
      (1L, 10L, 100L, 1.0), (1L, 10L, 101L, 2.0), (1L, 20L, 102L, 3.0),
      (2L, 9L, 200L, 4.0), (3L, 1L, 300L, 5.0))
      .toDF("k", "t", "rid", "v")
    (left, right)
  }

  test("inclusive boundary, in-second ties, carry-forward, outer nulls") {
    val (left, right) = sides()
    val out = AsofJoin.asofJoin(left, right, "k", "t", "rid",
        Seq("rid", "v"))
      .collect().map(r => (r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
      .sortBy(_._1).toSeq
    assert(out == Seq(
      // left t=10 matches right at the SAME t (inclusive), and among the
      // two t=10 rights the higher rid wins — with ITS value (2.0, not
      // 1.0: payload fields come from one struct, never mixed rows)
      (1000L, Some(101L), Some(2.0)),
      (1001L, Some(101L), Some(2.0)), // t=15 carries t=10's winner
      (1002L, Some(102L), Some(3.0)), // t=25 sees the t=20 right
      (2000L, None, None)))           // before any right: left-outer null
  }

  test("left rows are preserved exactly; right-only keys emit nothing") {
    val (left, right) = sides()
    val out = AsofJoin.asofJoin(left, right, "k", "t", "rid", Seq("rid"))
    assert(out.count() == left.count())
    assert(out.select("k").distinct().collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))
  }

  test("result is stable under input repartitioning") {
    val (left, right) = sides()
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      AsofJoin.asofJoin(l, r, "k", "t", "rid", Seq("rid", "v"))
        .orderBy("lid").collect().toSeq
    assert(run(left, right) == run(left.repartition(7), right.repartition(3)))
  }

  test("plan: one exchange on the key, no range-join product") {
    val (left, right) = sides()
    val plan = AsofJoin.asofJoin(left, right, "k", "t", "rid", Seq("rid"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Join"),
      s"as-of must be a union + window, never a join product:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one key shuffle, got $exchanges:\n$plan")
  }
}
