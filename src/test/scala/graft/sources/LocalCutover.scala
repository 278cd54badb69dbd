package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.rules.{Engine, YamlParser}

/** The measurement behind [[Sources.LocalMaxRecords]]: for each record
  * count, one transform from document to collected output on the
  * driver-local frame and on the distributed scan of the same records, in
  * alternation, after eight warm-up rounds. Prints the mean process CPU and
  * the median wall time of each side.
  *
  * {{{
  * sbt 'set Test/javaOptions += "-XX:TieredStopAtLevel=1"' \
  *   "Test/runMain graft.sources.LocalCutover 1,16,64,128,256,512,1024,2048,5000 20 simple"
  * }}}
  * Arguments: the record counts, the timed rounds per count, and the rule:
  * `simple` (record_when, trims, a cast, an `if`) or `extended` (string,
  * math and date ops). The JIT flag is perfbench's. Run it on an otherwise
  * idle machine. */
object LocalCutover {

  private val simple =
    """version: 2
      |record_when: { gte: ["@input.qty", 1] }
      |mappings:
      |  - target: id
      |    source: id
      |  - target: name
      |    expr: ["@input.name", trim, uppercase]
      |  - target: price
      |    source: price
      |    type: float
      |  - target: label
      |    expr: ["@input.qty", if: { cond: { gte: ["$", 10] }, then: "bulk", else: "retail" }]
      |""".stripMargin

  private val extended =
    """version: 2
      |mappings:
      |  - target: id
      |    source: id
      |  - target: replaced
      |    expr: ["@input.text", replace: ["-", "_", "all"]]
      |  - target: masked
      |    expr: ["@input.regex_text", replace: ["[0-9]", "#", "regex_all"]]
      |  - target: parts
      |    expr: ["@input.csv", split: [","]]
      |  - target: padded
      |    expr: ["@input.pad", pad_start: [5, "0"]]
      |  - target: sum
      |    expr: ["@input.num_a", add: ["@input.num_b"]]
      |  - target: rounded
      |    expr: ["@input.num_a", multiply: [3], round: [2]]
      |  - target: hex
      |    expr: ["@input.base_value", to_base: [16]]
      |  - target: day
      |    expr: ["@input.date_simple", date_format: ["%Y/%m/%d %H:%M"]]
      |  - target: epoch_s
      |    expr: ["@input.unix_s", to_unixtime: ["s"]]
      |""".stripMargin

  private def record(ext: Boolean, i: Int): String =
    if (ext) s"""{"id":$i,"text":"a-b-c-$i","regex_text":"ab12cd$i","csv":"x,y,$i",""" +
      s""""pad":"$i","num_a":$i.25,"num_b":$i,"base_value":$i,""" +
      """"date_simple":"2024-01-02T03:04:05Z","unix_s":"2024-01-02T03:04:05Z"}"""
    else s"""{"id":$i,"name":" n$i ","price":"$i.5","qty":${i % 20}}"""

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.fold(Seq(1, 16, 128, 1024, 5000))(_.split(",").toSeq.map(_.toInt))
    val rounds = if (args.length > 1) args(1).toInt else 20
    val ext = args.length > 2 && args(2) == "extended"
    val rule = YamlParser.parse(if (ext) extended else simple)
    val spark = graft.Sessions.local(4)
    import spark.implicits._
    val mapper = new ObjectMapper()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // the document parse and the schema inference are in both sides' time
    def run(n: Int, local: Boolean): Unit = {
      val doc = mapper.readTree((1 to n).map(record(ext, _)).mkString("[", ",", "]"))
      val schema = Sources.jsonNode(spark, doc, Nil).schema
      val lines = spark.createDataset(doc.elements.asScala.toSeq.map(mapper.writeValueAsString))
      val df = if (local) Sources.local(lines, schema) else Sources.scanned(lines, schema)
      Engine.toJsonRecords(rule, df, nullAsMissing = true).collect()
    }

    for (n <- sizes) {
      for (_ <- 1 to 8; local <- Seq(true, false)) run(n, local)
      val samples = Seq(true, false).map(_ -> collection.mutable.ArrayBuffer.empty[(Double, Double)]).toMap
      for (_ <- 1 to rounds; local <- Seq(true, false)) {
        val (c0, w0) = (os.getProcessCpuTime, System.nanoTime())
        run(n, local)
        samples(local) += (((os.getProcessCpuTime - c0) / 1e6, (System.nanoTime() - w0) / 1e6))
      }
      def side(local: Boolean): String = {
        val (cpu, wall) = samples(local).unzip
        f"cpu ${cpu.sum / cpu.size}%7.1f ms wall ${wall.sorted.apply(wall.size / 2)}%7.1f ms"
      }
      println(f"${if (ext) "extended" else "simple"} n=$n%5d local ${side(true)} | distributed ${side(false)}")
    }
    spark.stop()
  }
}
