package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Connected-component duplicate clustering: the driver union-find path
  * and the distributed label-propagation path must compute the same
  * fixpoint (component minimum as canonical id). */
class DedupClustersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("union-find and label propagation agree on chained and disjoint clusters") {
    import spark.implicits._
    // chain 1-2-3-4 (transitive!), pair (10,11), triangle (20,21),(21,22),(20,22)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("da", "db")
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    val viaDriver = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == expected)
    // force the distributed path with a tiny driver limit
    val viaCluster = Dedup.duplicateClusters(pairs, driverLimit = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCluster == expected)
  }
}
