package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** The rule-transform shapes of the benchmark, with a seeded input generator
  * and the output each input must produce, computed here from the generated
  * values (never from the engine's own output).
  *
  * Shapes follow the rulemorph reference benchmarks: `simple` (two copies
  * and a float cast, also fed as CSV), `lookup` (`lookup_first` and `lookup`
  * against 100 users and 100 tags) and `extended` (string, regex, pad, math,
  * base, date and unixtime operations). */
object TransformGen {
  val mapper = new ObjectMapper()

  final case class Shape(name: String, csv: Boolean, rule: String)

  private val simpleMappings =
    """mappings:
      |  - target: id
      |    source: id
      |  - target: name
      |    source: name
      |  - target: price
      |    source: price
      |    type: float
      |""".stripMargin

  val simple = Shape("simple", csv = false,
    "version: 2\ninput: { format: json, json: {} }\n" + simpleMappings)
  val simpleCsv = Shape("simple_csv", csv = true,
    "version: 2\ninput: { format: csv, csv: { has_header: true } }\n" + simpleMappings)
  val lookup = Shape("lookup", csv = false,
    """version: 2
      |input: { format: json, json: {} }
      |mappings:
      |  - target: id
      |    source: id
      |  - target: user_name
      |    expr: ["@context.users", lookup_first: ["id", "@input.user_id", "name"]]
      |  - target: tag_values
      |    expr: ["@context.tags", lookup: ["id", "@input.tag_id", "value"]]
      |""".stripMargin)
  val extended = Shape("extended", csv = false,
    """version: 2
      |input: { format: json, json: {} }
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
      |  - target: epoch_ms
      |    expr: ["@input.unix_ms", to_unixtime: ["ms"]]
      |""".stripMargin)

  val shapes: Seq[Shape] = Seq(simple, lookup, extended, simpleCsv)

  /** Lookup context: 100 users (80 ids, some repeated) and 100 tags (60 ids,
    * some repeated), so lookups see first-wins, multi-match and no match. */
  def context(seed: Long): ObjectNode = {
    val rnd = Seeded(seed)
    val ctx = mapper.createObjectNode()
    val users = ctx.putArray("users")
    (0 until 100).foreach { i =>
      val u = users.addObject()
      u.put("id", if (i < 80) i.toLong else rnd.nextInt(80).toLong)
      u.put("name", s"user-$i-${rnd.nextInt(1000)}")
      u.put("role", Seq("admin", "member", "guest")(rnd.nextInt(3)))
    }
    val tags = ctx.putArray("tags")
    (0 until 100).foreach { i =>
      val t = tags.addObject()
      t.put("id", s"t${if (i < 60) i else rnd.nextInt(60)}")
      t.put("value", s"v-$i-${rnd.nextInt(1000)}")
    }
    ctx
  }

  /** One call's input: records as JSON objects, and the output each must
    * produce, in order. */
  final case class Batch(records: Seq[ObjectNode], expected: Seq[ObjectNode])

  def batch(shape: Shape, n: Int, seed: Long, ctx: JsonNode): Batch = {
    val rnd = Seeded(seed)
    val pairs = (0 until n).map { i =>
      val id = seed * 1000003L % 1000000L * 10000L + i
      shape.name match {
        case "simple" | "simple_csv" => simpleRecord(rnd, id, shape.csv)
        case "lookup" => lookupRecord(rnd, id, ctx)
        case "extended" => extendedRecord(rnd, id)
      }
    }
    Batch(pairs.map(_._1), pairs.map(_._2))
  }

  private def simpleRecord(rnd: Random, id: Long, csv: Boolean): (ObjectNode, ObjectNode) = {
    val in = mapper.createObjectNode()
    val name = s"item-${rnd.alphanumeric.take(6).mkString}"
    val cents = rnd.nextInt(1000000)
    val price = f"${cents / 100}%d.${cents % 100}%02d"
    in.put("id", id); in.put("name", name); in.put("price", price)
    val out = mapper.createObjectNode()
    // CSV cells are strings, so the copied id stays a string there
    if (csv) out.put("id", id.toString) else out.put("id", id)
    out.put("name", name); out.put("price", price.toDouble)
    (in, out)
  }

  private def lookupRecord(rnd: Random, id: Long, ctx: JsonNode): (ObjectNode, ObjectNode) = {
    val userId = rnd.nextInt(100).toLong // 80..99 match no user
    val tagId = s"t${rnd.nextInt(70)}" // t60..t69 match no tag
    val in = mapper.createObjectNode()
    in.put("id", id); in.put("user_id", userId); in.put("tag_id", tagId)
    val out = mapper.createObjectNode()
    out.put("id", id)
    val users = elements(ctx.get("users"))
    users.find(_.get("id").asLong == userId).foreach(u => out.put("user_name", u.get("name").asText))
    val values = out.putArray("tag_values")
    elements(ctx.get("tags")).filter(_.get("id").asText == tagId).foreach(t => values.add(t.get("value").asText))
    (in, out)
  }

  private def extendedRecord(rnd: Random, id: Long): (ObjectNode, ObjectNode) = {
    def word(k: Int) = rnd.alphanumeric.filter(_.isLetter).take(k).mkString.toLowerCase
    val text = Seq.fill(1 + rnd.nextInt(3))(word(3)).mkString("-")
    val regexText = (0 until 3).map(_ => s"${word(1)}${rnd.nextInt(10)}").mkString
    val csvText = Seq.fill(1 + rnd.nextInt(4))(word(2)).mkString(",")
    val pad = rnd.nextInt(100000).toString.take(1 + rnd.nextInt(5))
    val numA = rnd.nextInt(100000) / 100.0
    val numB = f"${rnd.nextInt(1000)}%d.${rnd.nextInt(10)}%d"
    val base = rnd.nextInt(1 << 20).toLong
    val instant = java.time.Instant.ofEpochSecond(946684800L + rnd.nextInt(800000000), rnd.nextInt(1000) * 1000000L)
    val local = java.time.LocalDateTime.ofInstant(instant, java.time.ZoneOffset.UTC)
    val dateSimple = local.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val unixS = instant.truncatedTo(java.time.temporal.ChronoUnit.SECONDS).toString
    val unixMs = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .format(local)

    val in = mapper.createObjectNode()
    in.put("id", id); in.put("text", text); in.put("regex_text", regexText)
    in.put("csv", csvText); in.put("pad", pad); in.put("num_a", numA); in.put("num_b", numB)
    in.put("base_value", base); in.put("date_simple", dateSimple)
    in.put("unix_s", unixS); in.put("unix_ms", unixMs)

    val out = mapper.createObjectNode()
    out.put("id", id)
    out.put("replaced", text.replace("-", "_"))
    out.put("masked", regexText.replaceAll("[0-9]", "#"))
    val parts = out.putArray("parts"); csvText.split(",", -1).foreach(parts.add)
    out.put("padded", if (pad.length >= 5) pad else "0" * (5 - pad.length) + pad)
    out.put("sum", numA + numB.toDouble)
    out.put("rounded", BigDecimal(numA * 3).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    out.put("hex", java.lang.Long.toString(base, 16))
    out.put("day", local.format(java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm")))
    out.put("epoch_s", instant.getEpochSecond)
    out.put("epoch_ms", instant.toEpochMilli)
    (in, out)
  }

  private def elements(n: JsonNode): Iterator[JsonNode] = {
    import scala.jdk.CollectionConverters._
    n.elements.asScala
  }

  /** Write a batch as the input file the shape reads. */
  def writeInput(shape: Shape, b: Batch, path: Path): Unit =
    if (shape.csv) {
      val sb = new StringBuilder("id,name,price\n")
      b.records.foreach(r => sb ++= s"${r.get("id").asLong},${r.get("name").asText},${r.get("price").asText}\n")
      Files.writeString(path, sb)
    } else {
      val arr: ArrayNode = mapper.createArrayNode()
      b.records.foreach(arr.add)
      mapper.writeValue(path.toFile, arr)
    }

  /** Number of output records that differ from the expectation, or all of
    * them when the output cannot be read or has the wrong count. */
  def mismatches(outputFile: Path, expected: Seq[ObjectNode]): Int = {
    val got =
      try mapper.readTree(outputFile.toFile)
      catch { case scala.util.control.NonFatal(_) => return expected.size }
    if (got == null || !got.isArray || got.size != expected.size) return math.max(1, expected.size)
    expected.indices.count(i => !JsonEq(got.get(i), expected(i)))
  }
}

/** JSON equality where numbers compare by value (relative 1e-12), so `1`
  * equals `1.0` and a double printed with a different number of digits
  * still matches. Object field order does not matter. */
object JsonEq {
  import scala.jdk.CollectionConverters._
  def apply(a: JsonNode, b: JsonNode): Boolean =
    if (a == null || b == null) a == b
    else if (a.isNumber && b.isNumber) {
      val (x, y) = (a.asDouble, b.asDouble)
      x == y || math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    } else if (a.isObject && b.isObject)
      a.size == b.size && a.fieldNames.asScala.forall(f => apply(a.get(f), b.get(f)))
    else if (a.isArray && b.isArray)
      a.size == b.size && (0 until a.size).forall(i => apply(a.get(i), b.get(i)))
    else a == b
}
