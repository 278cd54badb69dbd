package graft.sources

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** The events reader ([[graft.Tables.events]]): `ts` ships as parquet
  * TIMESTAMP(MICROS) and reaches the queries as TimestampType, and a
  * failed read surfaces Spark's own error with no retry on another path. */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("TIMESTAMP(MICROS) generation: plain read passes through untouched") {
    val df = graft.Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(3).collect().length == 3)
  }

  test("a missing events table raises Spark's own error and prints no notice") {
    val dir = Files.createTempDirectory("no_events").toString
    val err = new ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new PrintStream(err, true))
    val e =
      try intercept[AnalysisException](graft.Tables.events(spark, dir))
      finally System.setErr(prev)
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    assert(!err.toString.contains("[graft.Tables]"),
      s"a failed events read must not announce another path:\n$err")
  }
}
