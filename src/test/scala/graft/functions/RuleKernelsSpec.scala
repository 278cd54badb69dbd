package graft.functions

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.DateOps

/** The rule transform's per-record kernels, [[ParseCascade]] and
  * [[ScalarJson]], give the same results interpreted and as generated code:
  * each runs once with `spark.sql.codegen.factoryMode` at `NO_CODEGEN`
  * (whole-stage codegen off) and once at `CODEGEN_ONLY`, through a job. The
  * JSON encoder's bytes also equal those of the form it replaces,
  * `to_json(struct(v))` cut to the value, over edge values. */
class RuleKernelsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  /** `frame`'s rows collected in each codegen mode, in order. */
  private def bothModes(frame: => DataFrame): (Seq[Row], Seq[Row]) = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    def run(mode: String, wholeStage: Boolean): Seq[Row] = {
      spark.conf.set(keys(0), mode)
      spark.conf.set(keys(1), wholeStage)
      frame.collect().toSeq
    }
    try (run("NO_CODEGEN", wholeStage = false), run("CODEGEN_ONLY", wholeStage = true))
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A frame of `rows` that a job computes (not folded on the driver). */
  private def scanned(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val dates = Seq(
    "2024-01-02T03:04:05+09:00", "2024-01-02 03:04:05.123+09:00", "2024-01-02T03:04:05Z",
    "2024/01/02 03:04:05+0900", "2024-01-02", "2024/01/02", "20240102", "2024-01-02 03:04",
    "2024-01-02T03:04:05.5", "2024-01-02 03:04:05.123456", " 2024-01-02", "2024-02-30",
    "2024-01-02 24:00:00", "+12024-01-02", "", "garbage", null)

  test("ParseCascade: interpreted and generated code agree over the default and explicit formats") {
    val schema = StructType(Seq(StructField("s", StringType)))
    def frame = scanned(dates.map(Row(_)), schema).select(col("s"),
      DateOps.parseCascade(col("s"), Nil).as("default"),
      DateOps.parseCascade(col("s"), Seq("%Y-%m-%d %H:%M", "%Y%m%d")).as("explicit"))
    val (interpreted, generated) = bothModes(frame)
    assert(interpreted == generated)
    // both outcomes occur under each format list
    for (j <- Seq(1, 2)) assert(generated.map(_.get(j) == null).distinct.size == 2)
  }

  private val strings = Seq("plain", "", "\"", "\\", "a\"b\\c", "\u0000", "\u001f", "\u007f",
    "\b\t\n\f\r", "\u0001x\u0010", "/", "héllo", "日本語", "\uD83D\uDE00", "x\uD83D\uDE00y",
    "\u2028\u2029", "end\\", null)
  private val doubles: Seq[java.lang.Double] = Seq(0.0, -0.0, 1.0, -1.5, 0.1, 1e30, 1e-7,
    1.0e7, 1.0e-3, 123456789.125, Double.MaxValue, Double.MinPositiveValue, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, null)
  private val longs: Seq[java.lang.Long] = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, null)

  /** The fragment the kernel replaces: `to_json` of a one-field struct,
    * cut to the field's value. */
  private def viaToJson(c: Column): Column = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("ignoreNullFields", "false")
    val wrapped = to_json(struct(c.as("v")), opts)
    wrapped.substr(lit(6), length(wrapped) - 6)
  }

  test("ScalarJson: bytes equal to_json(struct(v)) over edge values, interpreted and generated") {
    val schema = StructType(Seq(StructField("s", StringType), StructField("d", DoubleType),
      StructField("l", LongType), StructField("i", IntegerType), StructField("b", BooleanType),
      StructField("ss", ArrayType(StringType)), StructField("ds", ArrayType(DoubleType)),
      StructField("ls", ArrayType(LongType)), StructField("bs", ArrayType(BooleanType))))
    val n = Seq(strings.size, doubles.size, longs.size).max
    def at[T](xs: Seq[T], i: Int): Any = xs(i % xs.size)
    val rows = (0 until n).map { i =>
      val bool: Any = if (i % 3 == 2) null else i % 3 == 0
      Row(at(strings, i), at(doubles, i), at(longs, i),
        Option(at(longs, i)).map(_.asInstanceOf[java.lang.Long].intValue).orNull, bool,
        if (i == 1) null else strings.drop(i % 5).take(4),
        doubles.drop(i % 7).take(5), longs.drop(i % 3).take(4),
        Seq(true, null, false).take(i % 4))
    }
    val cols = schema.fieldNames.toSeq
    def frame = scanned(rows, schema).select(
      cols.map(c => ScalarJson.encode(col(c)).as(s"k_$c")) ++
        cols.map(c => viaToJson(col(c)).as(s"r_$c")): _*)
    val (interpreted, generated) = bothModes(frame)
    assert(interpreted == generated)
    for (r <- generated; (c, j) <- cols.zipWithIndex)
      assert(r.getString(j) == r.getString(j + cols.size), s"$c: ${r.getString(j + cols.size)}")
    // the fast path (printable ASCII) and the escaper both ran
    assert(generated.map(_.getString(0)).toSet.contains("\"plain\""))
    assert(generated.map(_.getString(0)).toSet.contains("\"\\u001F\""))
  }

  test("ScalarJson.quote, the plan-time key escaper, writes what Jackson writes") {
    val mapper = new ObjectMapper()
    for (s <- strings.filter(_ != null))
      assert(ScalarJson.quote(s) == mapper.writeValueAsString(s), s)
    assert(ScalarJson.quote("a\"b\\c\u0001") == "\"a\\\"b\\\\c\\u0001\"")
  }
}
