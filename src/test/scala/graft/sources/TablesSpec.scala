package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Schema-adaptive events reader ([[graft.Tables.events]]): the driver's
  * testdata has shipped `ts` both as parquet TIMESTAMP(NANOS) (pre-round-10)
  * and native TIMESTAMP(MICROS) (the regeneration that broke the hardwired
  * nanos reader). Both generations must load through the same entry point.
  * The legacy retry is conf-SCOPED: it materializes the normalized frame
  * via localCheckpoint while nanosAsLong is on, then restores the conf —
  * so a legacy events load must NOT change how any other table reads, and
  * an unexpected TIMESTAMP(NANOS) column elsewhere still fails loudly
  * (this spec pins both directions). */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  // belt-and-braces: whatever a test did, later suites see the default
  override def afterAll(): Unit = spark.conf.set(nanosKey, "false")

  /** The committed TIMESTAMP(NANOS) fixture (written by pyarrow v2.6 —
    * Spark itself cannot produce one), staged into a sfDir-shaped temp
    * dir under `name`.parquet so Tables loaders resolve it. */
  private def nanosDir(name: String = "events"): String = {
    val src = getClass.getResourceAsStream("/graft/events_nanos/events.parquet")
    assume(src != null, "nanos fixture missing")
    val dir = Files.createTempDirectory("events_nanos")
    Files.copy(src, dir.resolve(s"$name.parquet")); src.close()
    dir.toString
  }

  test("TIMESTAMP(MICROS) generation: plain read passes through untouched") {
    // order-independent: pin the conf rather than assuming suite order
    spark.conf.set(nanosKey, "false")
    val df = graft.Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(3).collect().length == 3)
    assert(spark.conf.get(nanosKey) == "false") // micros path never flips it
  }

  test("TIMESTAMP(NANOS) generation: legacy retry converts ns to µs exactly, conf restored") {
    // pin the conf OFF so the retry path genuinely runs
    spark.conf.set(nanosKey, "false")
    val dir = nanosDir()
    val df = graft.Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    // µs-exact: integer ns div 1000 — 999999999ns truncates to 999999µs,
    // never rounds up (the 2^53 float-division corruption guard)
    val micros = df.orderBy("event_id")
      .selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
    assert(micros.toSeq ==
      Seq(1700000000123456L, 1700000001000000L, 1700000002999999L))
    // the conf is restored: the legacy load is scoped to the one read,
    // materialized while the flag was on
    assert(spark.conf.get(nanosKey) == "false")
    // and the frame stays executable on later actions (lineage truncated —
    // no execution-time re-read of the conf-dependent scan)
    assert(df.count() == 3L)
    // repeated loads serve the session-cached materialization
    assert(graft.Tables.events(spark, dir).count() == 3L)
    assert(spark.conf.get(nanosKey) == "false")
  }

  test("a legacy events load does not let OTHER tables accept TIMESTAMP(NANOS)") {
    spark.conf.set(nanosKey, "false")
    // first: a legacy events load flips and restores the conf
    graft.Tables.events(spark, nanosDir()).count()
    assert(spark.conf.get(nanosKey) == "false")
    // then: the same nanos file staged as a DIFFERENT table must still be
    // rejected at schema inference — no silent raw-longs load order effect
    val asOrders = nanosDir(name = "orders")
    val e = intercept[Exception] {
      graft.Tables.orders(spark, asOrders).collect()
    }
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
        e.getMessage.toLowerCase.contains("illegal parquet type"),
      s"expected the nanos rejection, got: ${e.getMessage}")
  }
}
