package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.rules.YamlParser

/** How long an operation took: wall time, and the CPU time all threads of
  * the JVM used meanwhile, both in ms. */
final case class Took(ms: Double, cpuMs: Double)

/** One timed operation: a CLI transform call, one query, or one request. */
final case class Op(kind: String, took: Took, ok: Boolean, records: Long) {
  def ms: Double = took.ms
  def cpuMs: Double = took.cpuMs
}

/** CPU time of this JVM: per thread with nanosecond resolution, and the
  * process total, which the OS reports in 10 ms ticks. */
object Cpu {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of this JVM since it started, in ns (10 ms resolution). */
  def processNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time so far of each live thread, in ns. */
  def snapshot(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU time used since `before`, in ms: by the threads that are live now,
    * so a thread that ended meanwhile counts for nothing. */
  def sinceMs(before: Map[Long, Long]): Double =
    snapshot().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e6
}

/** What a workload hands back: its timed operations and, for traced runs,
  * the per-layer metrics it measured. `extra` is copied into the result
  * file as is (query results and oracle SQL for the correctness check). */
final case class Outcome(ops: Seq[Op], layers: Map[String, Double], extra: ObjectNode)

/** Everything a workload needs for one run. */
final class Run(val seed: Long, val seconds: Double,
    val traced: Boolean, val work: Path, val spark: SparkSession) {
  val tracer: Tracer = if (traced) new Tracer(spark.sparkContext) else null
  val counters: SparkCounters = if (traced) new SparkCounters(spark) else null
  private var firstOpMs = 0L
  private var setupCpuNs = 0L

  /** Marks the end of set-up; call just before the first timed operation. */
  def setupDone(): Unit = {
    firstOpMs = System.currentTimeMillis()
    setupCpuNs = Cpu.processNs()
  }
  /** Wall time from JVM start to the first timed operation. */
  def setupSeconds: Double =
    (firstOpMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  /** CPU time of the JVM from its start to the first timed operation. */
  def setupCpuSeconds: Double = setupCpuNs / 1e9

  /** A progress line on stderr, with the time since JVM start. */
  def log(what: String): Unit =
    System.err.println(f"perfbench: $what ${(System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s after JVM start")

  def deadlineNs(startNs: Long): Long = startNs + (seconds * 1e9).toLong

  /** Time `body` as one operation; in traced runs also as its root span. */
  def timed[T](opId: Long, kind: String)(body: => T): (T, Took) = {
    val c0 = Cpu.snapshot()
    val t0 = System.nanoTime()
    val r = if (traced) tracer.op(opId, kind)(body) else body
    val ms = (System.nanoTime() - t0) / 1e6
    (r, Took(ms, Cpu.sinceMs(c0)))
  }

  /** Spark counter growth over `body` (empty when not traced). */
  def counting(body: => Unit): Map[String, Double] =
    if (!traced) { body; Map.empty }
    else {
      val before = counters.snapshot()
      body
      SparkCounters.delta(before, counters.snapshot())
    }
}

/** Runs one workload in this JVM and writes its result as JSON.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>
  */
object Main {
  val Cpus = 4

  /** Every per-layer metric and its unit; traced runs report all of them,
    * with 0 for a layer the workload does not exercise. */
  val layerUnits: Seq[(String, String)] = Seq(
    "rules.parse_ms" -> "ms", "rules.parse_misses" -> "count",
    "rules.validate_ms" -> "ms", "rules.compile_ms" -> "ms", "rules.compile_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "sources.ingest_ms" -> "ms", "sources.ingest_bytes" -> "bytes",
    "spark.execute_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_busy_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms", "spark.failed_tasks" -> "count",
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count", "queries.execute_ms" -> "ms",
    "artifacts.root_bytes" -> "bytes", "artifacts.bytes_written" -> "bytes",
    "cli.write_ms" -> "ms",
    "endpoint.handle_ms" -> "ms", "endpoint.handle_detail_ms" -> "ms",
    "endpoint.jobs_per_request" -> "count", "server.overhead_ms" -> "ms",
    "endpoint.upstream_calls" -> "count",
    "trace.op_cpu_ms" -> "ms", "trace.unattributed_ms" -> "ms")

  /** Spark counters that are reported per operation as they are. */
  val sparkCounterNames: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_busy_ms", "spark.scheduler_delay_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_ms", "spark.failed_tasks",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms")

  def session(extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // loopback only: no host-name lookup on a machine without a network
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Per-operation means of the named spans' self times (`spanMetric` maps
    * a span name to its metric) and of the Spark counters, and the mean time
    * inside an operation that no layer span covers. */
  def layerMeans(run: Run, nOps: Int, counters: Map[String, Double],
      spanMetric: Map[String, String]): Map[String, Double] = {
    val spans = run.tracer.all
    val self = Tracer.selfMs(spans)
    val selfByName = Tracer.selfMsByName(spans)
    val n = math.max(1, nOps).toDouble
    val rootSelf = spans.filter(_.parent == 0).map(s => self(s.id)).sum
    spanMetric.map { case (span, metric) => metric -> selfByName.getOrElse(span, 0.0) / n } ++
      sparkCounterNames.map(k => k -> counters.getOrElse(k, 0.0) / n) +
      ("trace.unattributed_ms" -> math.max(0.0, rootSelf / n))
  }

  /** Peak resident set size of this JVM in MiB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return Runtime.getRuntime.totalMemory / 1048576.0
    scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, resultS) = args
    val work = Paths.get(workS)
    Files.createDirectories(work)
    val spec = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val spark = session(spec.conf(work))
    val run = new Run(seedS.toLong, secondsS.toDouble, traceS == "1", work, spark)
    run.log("session ready")
    val outcome = spec.run(run)
    val rss = peakRssMb()
    val ops = outcome.ops
    require(ops.nonEmpty, "no operation completed")
    val mapper = new ObjectMapper()
    val res = mapper.createObjectNode()
    res.put("workload", workload)
    res.put("seed", seedS.toLong)
    res.put("cpus", Cpus)
    res.put("attempted", ops.size)
    res.put("failed", ops.count(!_.ok))
    // Per kind of operation (shape, query, request) medians, then their
    // mean, each kind weighing the same: the kinds differ in cost and come
    // in equal shares, so a median over all operations, or over the kinds,
    // would sit on the edge between two kinds' clusters and jump between
    // them from run to run, and a plain sum would follow its slowest call.
    val kinds = ops.groupBy(_.kind).values.toSeq
    val kindMs = kinds.map(k => Stats.median(k.map(_.ms)))
    val kindCpuMs = kinds.map(k => Stats.median(k.map(_.cpuMs)))
    val kindRecords = kinds.map(k => Stats.median(k.map(_.records.toDouble)))
    val opCpuMs = kindCpuMs.sum / kindCpuMs.size
    val metrics = res.putObject("metrics")
    def metric(name: String, v: Double, unit: String): Unit = {
      val m = metrics.putObject(name); m.put("value", v); m.put("unit", unit)
    }
    if (!run.traced) {
      metric("setup_s", run.setupCpuSeconds, "s")
      metric("op_cpu_ms", opCpuMs, "ms")
      metric("records_per_cpu_s", kindRecords.sum / (kindCpuMs.sum / 1000.0), "1/s")
      metric("peak_rss_mb", rss, "MB")
    } else {
      val layers = outcome.layers + ("trace.op_cpu_ms" -> opCpuMs)
      layerUnits.foreach { case (name, unit) => metric(name, layers.getOrElse(name, 0.0), unit) }
      run.tracer.write(work.resolve("spans.jsonl"))
      val counterLines = outcome.layers.toSeq.sorted.map { case (k, v) => s"$k $v" }
      Files.writeString(work.resolve("counters.txt"), counterLines.mkString("", "\n", "\n"))
    }
    // wall-clock figures: printed, not bounded (see README)
    val tail = Stats.tail(ops.map(_.ms))
    val detail = res.putObject("detail")
    detail.put("ops", ops.size)
    detail.put("setup_cpu_s", run.setupCpuSeconds)
    detail.put("peak_rss_mb", rss)
    val wall = detail.putObject("wall")
    wall.put("setup_s", run.setupSeconds)
    wall.put("op_p50_ms", Stats.median(kindMs))
    wall.put("op_tail_ms", tail.value)
    wall.put("tail_pct", tail.pct)
    wall.put("tail_beyond", tail.beyond)
    wall.put("records_per_s", kindRecords.sum / (kindMs.sum / 1000.0))
    wall.put("suite_total_s", kindMs.sum / 1000.0)
    val byKind = detail.putObject("kinds")
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val o = byKind.putObject(k)
      o.put("n", os.size); o.put("p50_ms", Stats.median(os.map(_.ms)))
      o.put("cpu_p50_ms", Stats.median(os.map(_.cpuMs))); o.put("failed", os.count(!_.ok))
    }
    res.set[ObjectNode]("extra", outcome.extra)
    mapper.writeValue(Paths.get(resultS).toFile, res)
    spark.stop()
  }
}

/** A workload: Spark settings for its session and the run itself. */
trait Workload {
  def conf(work: Path): Map[String, String] = Map.empty
  def run(r: Run): Outcome
}

/** Operations of a few kinds, set up (and warmed up) when the part is made,
  * that a closed loop takes in turn. */
trait Part {
  def kinds: Seq[String]
  /** Operation `i` of the loop, of kind `kinds(k)`. */
  def op(i: Int, k: Int): Op
  /** Names of the metrics that the self time of this part's spans gives. */
  def spanMetrics: Map[String, String] = Map.empty
  /** This part's own per-layer metrics in a traced run, given the Spark
    * counter growth over the loop and the loop's operation count. */
  def layers(counters: Map[String, Double], n: Double): Map[String, Double]
  def close(): Unit = ()
}

/** The rule engine's small-request paths in one closed loop, one operation
  * of each kind per round: `Cli.run transform` calls of every shape and
  * served requests of every kind. */
object RulesBench extends Workload {
  def run(r: Run): Outcome = {
    val parts = mutable.ArrayBuffer.empty[Part]
    try {
      parts += TransformBench.open(r)
      r.log("transforms warmed up")
      parts += ServeBench.open(r)
      r.log("server warmed up")
      val kinds = parts.toSeq.flatMap(p => p.kinds.indices.map(k => (p, k)))
      val parses0 = YamlParser.parseCount
      r.setupDone()
      var ops: Seq[Op] = Nil
      val counters = r.counting {
        ops = Workloads.closedLoop(r.deadlineNs(System.nanoTime()), kinds.size) { i =>
          val (p, k) = kinds(i % kinds.size)
          p.op(i, k)
        }
      }
      val layers =
        if (!r.traced) Map.empty[String, Double]
        else {
          val n = ops.size.toDouble
          Main.layerMeans(r, ops.size, counters, parts.flatMap(_.spanMetrics).toMap) ++
            parts.flatMap(_.layers(counters, n)) +
            ("rules.parse_misses" -> (YamlParser.parseCount - parses0) / n)
        }
      Outcome(ops, layers, TransformGen.mapper.createObjectNode())
    } finally parts.foreach(_.close())
  }
}

object Workloads {
  val all: Map[String, Workload] = Map(
    "rules" -> RulesBench,
    "query_suite" -> QueryBench)

  /** Total size of the regular files under `p`, 0 when it does not exist. */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }

  /** Ops in whole rounds of `kinds` ops, starting op `i` with `step(i)`,
    * until `deadlineNs` has passed and a round is complete; at least one
    * round, so every kind of op has a sample and each has the same count. */
  def closedLoop(deadlineNs: Long, kinds: Int)(step: Int => Op): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var i = 0
    while (i < kinds || i % kinds != 0 || System.nanoTime() < deadlineNs) { ops += step(i); i += 1 }
    ops.toSeq
  }
}
