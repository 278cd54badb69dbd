package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Property test: on random pair lists, duplicateClusters' union-find
  * matches a brute-force reference connected-components computation
  * (fixpoint min-label over an adjacency map). Seeded, 30 random graphs. */
class ClusterPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def referenceCC(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    for ((a, b) <- pairs) { adj(a) += b; adj(b) += a }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    var label = nodes.map(n => n -> n).toMap
    var changed = true
    while (changed) {
      changed = false
      for (n <- nodes) {
        val m = (adj(n).map(label) + label(n)).min
        if (m != label(n)) { label += n -> m; changed = true }
      }
    }
    label
  }

  test("duplicateClusters equals brute-force connected components on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 30) {
      val nPairs = 1 + rnd.nextInt(40)
      val pairs = Seq.fill(nPairs) {
        val a = rnd.nextInt(31).toLong
        val b = (a + 1 + rnd.nextInt(30)) % 31 match {
          case x if x == a => (a + 1) % 31
          case x => x
        }
        (math.min(a, b), math.max(a, b))
      }.distinct.filter(p => p._1 != p._2)
      if (pairs.nonEmpty) {
        val got = Dedup.duplicateClusters(pairs.toDF("da", "db"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == referenceCC(pairs), s"trial $trial, pairs=$pairs")
      }
    }
  }

  test("distributed label propagation survives a diameter-55 path graph (localCheckpoint)") {
    import spark.implicits._
    // a pure path 0-1-2-...-55: min-label propagation needs one iteration
    // per hop, so the iterative plan nests ~55 joins — the periodic
    // localCheckpoint (every 10 iterations) must keep analysis cost flat
    // instead of quadratic. driverLimit=1 forces the distributed path.
    val n = 55
    val pairs = (0L until n.toLong).map(i => (i, i + 1))
    val got = Dedup.duplicateClusters(pairs.toDF("da", "db"), driverLimit = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0L to n.toLong).map(_ -> 0L).toMap
    assert(got == expected)
  }
}
