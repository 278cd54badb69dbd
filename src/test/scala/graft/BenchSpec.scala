package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure parts (query selection, the stdout summary line) and its
  * per-query profile, run on the sf0.001 tables. */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("query selection: absent is every query; unknown or empty lists fail") {
    val all = SparkEntry.selectQueries(None, "X")
    assert(all.size == Verify.ExpectedQueryCount && all.toSet == SparkEntry.queries.keySet)
    assert(SparkEntry.selectQueries(Some(" q_distinct ,,q_simhash"), "X") ==
      all.filter(Set("q_distinct", "q_simhash")))
    val unknown = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Some("q_distinct,q_no_such"), "SPARK_GRAFT_BENCH_ONLY"))
    assert(unknown.getMessage.contains("SPARK_GRAFT_BENCH_ONLY names unknown queries: q_no_such"))
    for (blank <- Seq("", " ", " , ,")) {
      val e = intercept[IllegalArgumentException](SparkEntry.selectQueries(Some(blank), "X"))
      assert(e.getMessage.contains("X names no queries"), blank)
    }
  }

  test("summary line: every listed min_regressed query carries its min within 1800 bytes") {
    // 160 queries; the slowest are noisy, the fastest min_regressed, so no
    // min_regressed query is among the shown (slowest) ones
    val names = (0 until 160).map(i => f"q_synthetic_query_$i%03d")
    val medians = names.zipWithIndex.map { case (n, i) => n -> (10.0 - i * 0.05) }
    val mins = medians.map { case (n, m) => n -> m / 2 }.toMap
    val minRegressed = names.takeRight(4)
    val line = Bench.summaryLine(Bench.Summary(medians.map(_._2).sum, medians, mins,
      1.5, names.take(40), minRegressed, Nil, Nil, "bench_full.json", 1, 3, "/data/sf0.1"))
    assert(line.getBytes("UTF-8").length <= 1800, line.length)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("omitted_fast").asInt > 4 && json.get("min_regressed_count").asInt == 4)
    for (n <- minRegressed) {
      assert(!json.get("queries").has(n))
      assert(json.get("min").has(n) &&
        math.abs(json.get("min").get(n).asDouble - mins(n)) < 1e-3, n)
    }
  }

  test("profile: each measured query gets a record and its final plan") {
    val sf = "/root/testdata/sf0.001"
    // q_winnow_fingerprint reads through the graft_winnow_fps artifact
    val names = Seq("q_distinct", "q_winnow_fingerprint")
    val profiler = new Bench.Profiler(spark)
    val pass = try Bench.measurePass(profiler, sf, names, 1) finally profiler.close()
    val dir = Files.createTempDirectory("bench-profile")
    Bench.writeProfile(dir, sf, profiler.records.toMap)
    val json = new ObjectMapper().readTree(dir.resolve("bench_profile.json").toFile)
    for (n <- names) {
      val rec = json.get("queries").get(n)
      assert(rec.get("jobs").asInt >= 1, n)
      assert(rec.get("stages").size > 0, n)
      val stage = rec.get("stages").get(0)
      assert(stage.get("tasks").asInt >= 1 && stage.get("callsite").asText.nonEmpty, n)
      assert(rec.get("phases_ms").has("planning"), n)
      val wallMs = pass.runs(n).last * 1000
      val halves = rec.get("construction_ms").asDouble + rec.get("execution_ms").asDouble
      assert(math.abs(halves - wallMs) <= wallMs * 0.05, s"$n: $halves vs $wallMs")
      val plan = dir.resolve("bench_plans").resolve(s"$n.txt")
      assert(Files.isRegularFile(plan), n)
      assert(Files.readString(plan).contains("isFinalPlan=true"), n)
    }
    assert(json.get("queries").get("q_winnow_fingerprint").get("artifacts")
      .has("graft_winnow_fps"))
  }
}
