package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize]]: `during` holds its frame only while `use` runs, also
  * when `use` throws, and `pin` is an eager cut to stored rows. */
class MaterializeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("during holds the frame while use runs and releases it after a return and after a throw") {
    val df = spark.range(0, 1013).selectExpr("id", "id % 7 AS k")
    val (level, n) = Materialize.during(df)(held => (held.storageLevel, held.count()))
    assert(level == StorageLevel.MEMORY_AND_DISK)
    assert(n == 1013L)
    assert(df.storageLevel == StorageLevel.NONE, "released after use returns")

    val failing = spark.range(0, 1019).selectExpr("id", "id % 5 AS k")
    val thrown = intercept[IllegalStateException] {
      Materialize.during(failing) { held =>
        held.count()
        throw new IllegalStateException("use failed")
      }
    }
    assert(thrown.getMessage == "use failed")
    assert(failing.storageLevel == StorageLevel.NONE, "released after use throws")
  }

  test("pin is analyzed as one LogicalRDD leaf holding the same rows") {
    val src = spark.range(0, 211).selectExpr("id", "id * 3 AS triple")
    val pinned = Materialize.pin(src)
    val plan = pinned.queryExecution.analyzed
    assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty,
      s"expected a single LogicalRDD leaf, got:\n$plan")
    assert(pinned.collect().toSeq.sortBy(_.getLong(0)) ==
      src.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("pin labels its jobs with the caller's line and restores the call site") {
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        names.add(e.stageInfo.name)
    }
    sc.addSparkListener(listener)
    try {
      Materialize.pin(spark.range(0, 223).selectExpr("id % 11 AS k").distinct())
      Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(names.asScala.nonEmpty &&
      names.asScala.forall(_.startsWith("localCheckpoint at MaterializeSpec.scala:")),
      s"stage names: ${names.asScala}")
    assert(sc.getLocalProperty("callSite.short") == null)
  }
}
