package graft.rules

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import Model._

/** The date parse cascade ([[DateOps.parseCascade]], the
  * `graft.functions.ParseCascade` expression) gives what
  * `coalesce(try_to_timestamp(s, f)…)` over the same formats gives: over
  * one value in each default format, the edge spellings around them,
  * generated values, explicit format lists, the time-parser policies, and
  * through the `date_format` / `to_unixtime` ops with timezone arguments. */
class DateOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  /** The cascade as a `coalesce` of `try_to_timestamp` calls. */
  private def reference(s: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_timestamp(s, lit(f))): _*)

  private val oneInEachFormat = Seq(
    "2024-01-02T03:04:05+09:00", "2024-01-02 03:04:05+09:00",
    "2024-01-02T03:04:05.123456+09:00", "2024-01-02 03:04:05.123+09:00",
    "2024-01-02T03:04:05+0900", "2024-01-02 03:04:05-0500",
    "2024/01/02 03:04:05+09:00", "2024/01/02 03:04:05+0900",
    "2024-01-02", "2024/01/02", "20240102",
    "2024-01-02 03:04", "2024/01/02 03:04",
    "2024-01-02 03:04:05", "2024/01/02 03:04:05",
    "2024-01-02T03:04", "2024-01-02T03:04:05",
    "2024-01-02T03:04:05.5", "2024-01-02 03:04:05.123456", "2024/01/02 03:04:05.1")

  private val edges = Seq(
    " 2024-01-02", "2024-01-02 ", " 2024-01-02T03:04:05Z ",
    "2024-01-02t03:04:05", "2024-01-02T03:04:05z", "2024-01-02 03:04:05z",
    "2024-01-02T03:04:05Z", "2024-01-02T03:04:05+09", "2024-01-02 03:04:05+09",
    "2024-01-02T03:04:05.123Z", "+12024-01-02", "-12024-01-02T03:04:05", "12024-01-02",
    "2024-02-30", "2024-02-29", "2023-02-29", "2024-01-02 24:00:00", "2024-13-01",
    "2024-00-10", "2024-01-02 23:59:60", "", " ", "garbage", "2024", "2024-01",
    "2024-01-02T", "2024-01-02 03", "2024/1/2", "2024-1-2 3:4:5", null) ++
    (0 to 9).map(k => "2024-01-02T03:04:05." + "123456789".take(k)) ++
    (0 to 9).map(k => "2024-01-02 03:04:05." + "987654321".take(k) + "+09:00")

  /** Seeded strings around the default formats: field values in and out of
    * range, every separator, 0–9 fraction digits and each offset form. */
  private def generated(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def two(max: Int): String = f"${rnd.nextInt(max)}%02d"
    Seq.fill(n) {
      val year = pick(f"${1900 + rnd.nextInt(200)}%04d", f"${rnd.nextInt(100000)}%05d",
        s"+${10000 + rnd.nextInt(90000)}", s"-${10000 + rnd.nextInt(90000)}")
      val sep = pick("-", "/", "")
      val date = s"$year$sep${two(14)}$sep${two(33)}"
      val time = pick("", s"${pick("T", " ", "t")}${two(26)}:${two(61)}",
        s"${pick("T", " ", "t")}${two(26)}:${two(61)}:${two(62)}")
      val frac = if (time.count(_ == ':') == 2 && rnd.nextBoolean())
        "." + Seq.fill(rnd.nextInt(10))(rnd.nextInt(10)).mkString else ""
      val zone = if (time.isEmpty) "" else pick("", "", "Z", "z", "+09", "+0900", "+09:00", "-05:30", "+9")
      val pad = pick("", "", "", " ")
      pad + date + time + frac + zone + pick("", "", "", " ")
    }
  }

  /** Rows of `values` where the cascade and the reference differ, both on
    * the driver-local fold and through a job's generated code. */
  private def differences(values: Seq[String], formats: Seq[String],
      explicitFormats: Seq[String] = Nil): Seq[(String, Any, Any)] = {
    import spark.implicits._
    val df = values.toDF("s")
    val kernel = DateOps.parseCascade(col("s"), explicitFormats)
    def diffs(frame: DataFrame) =
      frame.select(col("s"), kernel, reference(col("s"), formats)).collect().toSeq
        .collect { case r if r.get(1) != r.get(2) => (r.getString(0), r.get(1), r.get(2)) }
    diffs(df) ++ diffs(df.repartition(2))
  }

  test("the cascade equals the coalesce reference over the default formats and their edges") {
    val corpus = oneInEachFormat ++ edges
    assert(differences(corpus, DateOps.defaultFormats).isEmpty)
    // every default format parses its own value, so the corpus reaches each one
    import spark.implicits._
    val parsed = oneInEachFormat.toDF("s")
      .select(DateOps.parseCascade(col("s"), Nil)).collect().map(_.get(0))
    assert(parsed.forall(_ != null))
  }

  test("the cascade equals the coalesce reference over generated values") {
    assert(differences(generated(3000, 11), DateOps.defaultFormats).isEmpty)
  }

  test("an explicit format list keeps its order and equals the reference") {
    val explicit = Seq("%d/%m/%Y", "%Y-%m-%d %H:%M", "%d/%m/%Y %H:%M:%S")
    val values = Seq("02/01/2024", "2024-01-02 03:04", "02/01/2024 03:04:05", "31/02/2024",
      "2024-01-02", "02/01/2024 ", "", null)
    assert(differences(values, explicit.map(DateOps.chronoToJava), explicit).isEmpty)
  }

  test("under the EXCEPTION and LEGACY parser policies every format runs, as in the reference") {
    import spark.implicits._
    val key = "spark.sql.legacy.timeParserPolicy"
    val before = spark.conf.getOption(key)
    // one value at a time: under EXCEPTION a value that the legacy parser
    // reads and the new one does not raises, and then both sides must
    def outcome(c: Column, v: String) =
      scala.util.Try(Seq(Tuple1(v)).toDF("s").select(c).collect()(0).get(0))
        .toEither.left.map(_.getClass)
    try {
      for (policy <- Seq("LEGACY", "EXCEPTION")) {
        spark.conf.set(key, policy)
        for (v <- oneInEachFormat ++ edges.take(12))
          assert(outcome(DateOps.parseCascade(col("s"), Nil), v) ==
            outcome(reference(col("s"), DateOps.defaultFormats), v), s"$policy: $v")
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("date_format and to_unixtime with timezone arguments equal the ops over the reference") {
    import spark.implicits._
    val values = oneInEachFormat ++ edges.filter(_ != null)
    val input = values.map(Tuple1(_)).toDF("d")
    val out = Engine.transform(YamlParser.parse(
      """version: 1
        |mappings:
        |  - target: f
        |    expr: { op: date_format, args: [ { ref: "input.d" }, "%Y-%m-%d %H:%M:%S" ] }
        |  - target: f_tz
        |    expr: { op: date_format, args: [ { ref: "input.d" }, "%Y-%m-%d %H:%M %:z", "+09:00" ] }
        |  - target: f_in
        |    expr: { op: date_format, args: [ { ref: "input.d" }, "%Y/%m/%d", "%Y%m%d", "-0500" ] }
        |  - target: s
        |    expr: { op: to_unixtime, args: [ { ref: "input.d" } ] }
        |  - target: s_tz
        |    expr: { op: to_unixtime, args: [ { ref: "input.d" }, "+09:00" ] }
        |  - target: ms_tz
        |    expr: { op: to_unixtime, args: [ { ref: "input.d" }, "ms", "-05:30" ] }
        |""".stripMargin), input, JNull)
    val ts = reference(col("d"), DateOps.defaultFormats)
    val tsIn = reference(col("d"), Seq(DateOps.chronoToJava("%Y%m%d")))
    val expected = input.select(
      date_format(ts, "yyyy-MM-dd HH:mm:ss"),
      date_format(from_utc_timestamp(ts, "+09:00"), "yyyy-MM-dd HH:mm '+09:00'"),
      date_format(from_utc_timestamp(tsIn, "-05:00"), "yyyy/MM/dd"),
      unix_timestamp(ts),
      unix_timestamp(to_utc_timestamp(ts, "+09:00")),
      unix_millis(to_utc_timestamp(ts, "-05:30")))
    val got = out.collect().map(_.toSeq)
    val want = expected.collect().map(_.toSeq)
    assert(got.length == values.length)
    values.indices.foreach(i => assert(got(i) == want(i), s"${values(i)}: ${got(i)} != ${want(i)}"))
    // the corpus reaches both branches of every column
    assert(got.exists(_.forall(_ != null)) && got.exists(_.forall(_ == null)))
  }
}
