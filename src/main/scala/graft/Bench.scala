package graft
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Artifacts
object Bench {
  /** Median of a non-empty sequence (mean of the middle pair for even n). */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** One full interleaved measurement pass over `names` — the reps
    * round-robin plus the noisy-query retry batch — with everything the
    * report needs to describe it: the kept per-query runs (retry batch
    * where it won), the kept batch's failure counts, and EVERY raw run
    * of both batches for the min column. */
  private[graft] final case class Pass(
      runs: Map[String, Vector[Double]],
      fails: Map[String, Int],
      allRuns: Map[String, Vector[Double]],
      firstNoisy: Seq[String],
      retried: Seq[String])

  /** One stage a profiled rep ran, from its StageCompleted event: wall
    * (submission to completion), summed task run, CPU and GC time, task
    * count, input and shuffle bytes, and the stage's callsite. */
  private[graft] final case class StageRow(job: Int, stage: Int, wallMs: Long,
      taskMs: Long, cpuMs: Long, gcMs: Long, tasks: Int, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, callsite: String)

  /** A query's last timed rep, split into fixed driver cost and data work.
    * `constructionMs` (`fn(spark, sfDir)`: analysis plus any eager job, such
    * as an artifact build) and `executionMs` (the `count()`) are the two
    * halves of the timed region. `phasesMs` are the count plan's
    * QueryPlanningTracker phases (inside `executionMs`); `jobs` and `stages`
    * cover the whole rep; `artifacts` is the rep's
    * `Artifacts.outcomeCounts` delta; `plan` is the count's final adaptive
    * plan, `explain formatted`. */
  private[graft] final case class Profile(constructionMs: Double,
      executionMs: Double, phasesMs: Map[String, Long], jobs: Int,
      stages: Seq[StageRow], artifacts: Map[(String, String), Long], plan: String)

  /** Times reps and keeps each query's last successful one as its
    * [[Profile]]. Its listeners stay registered while it is open; every rep
    * drains the listener bus before and after itself, so a record holds
    * exactly its own rep's events (no late stage event is dropped, none of
    * the prior rep's leaks in). */
  private[graft] final class Profiler(spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    private val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile private var lastCount: Option[QueryExecution] = None
    val records = scala.collection.mutable.Map[String, Profile]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      jobs.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages.add(StageRow(stageJob.getOrElse(si.stageId, -1), si.stageId,
        (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L),
        m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime, si.numTasks,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, si.name.linesIterator.nextOption().getOrElse("")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "count") lastCount = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }

    /** One timed rep of `name`: its wall seconds. Throws what the query
      * throws, and then keeps the query's earlier record. */
    def rep(name: String, sfDir: String): Double = {
      val fn = SparkEntry.queries(name)
      Bridge.drainListenerBus(spark.sparkContext)
      stages.clear(); jobs.set(0); lastCount = None
      val before = Artifacts.outcomeCounts
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.count()
      val t2 = System.nanoTime()
      Bridge.drainListenerBus(spark.sparkContext)
      val artifacts = Artifacts.outcomeCounts.map { case (k, n) =>
        k -> (n - before.getOrElse(k, 0L)) }.filter(_._2 > 0)
      records(name) = Profile((t1 - t0) / 1e6, (t2 - t1) / 1e6,
        lastCount.fold(Map.empty[String, Long])(_.tracker.phases.map {
          case (phase, p) => phase -> p.durationMs }),
        jobs.get, stages.asScala.toSeq.sortBy(r => (r.job, r.stage)), artifacts,
        lastCount.fold("")(_.explainString(FormattedMode)))
      (t2 - t0) / 1e9
    }
  }

  /** Writes `dir/bench_profile.json` (one record per query) and each
    * query's plan to `dir/bench_plans/<query>.txt`. */
  private[graft] def writeProfile(dir: Path, sfDir: String,
      records: Map[String, Profile]): Unit = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = json.createObjectNode().put("sf", sfDir)
    val queries = root.putObject("queries")
    val plans = Files.createDirectories(dir.resolve("bench_plans"))
    def ms(v: Double) = math.round(v * 1000) / 1000.0
    records.toSeq.sortBy(_._1).foreach { case (name, p) =>
      val q = queries.putObject(name).put("construction_ms", ms(p.constructionMs))
        .put("execution_ms", ms(p.executionMs)).put("jobs", p.jobs)
      val phases = q.putObject("phases_ms")
      p.phasesMs.toSeq.sorted.foreach { case (k, v) => phases.put(k, v) }
      val stages = q.putArray("stages")
      p.stages.foreach { r =>
        stages.addObject().put("job", r.job).put("stage", r.stage)
          .put("wall_ms", r.wallMs).put("task_ms", r.taskMs).put("cpu_ms", r.cpuMs)
          .put("gc_ms", r.gcMs).put("tasks", r.tasks).put("input_bytes", r.inputBytes)
          .put("shuffle_read_bytes", r.shuffleReadBytes)
          .put("shuffle_write_bytes", r.shuffleWriteBytes).put("callsite", r.callsite)
      }
      val artifacts = q.putObject("artifacts")
      p.artifacts.toSeq.sorted.foreach { case ((family, outcome), n) =>
        artifacts.withObjectProperty(family).put(outcome, n) }
      Files.writeString(plans.resolve(s"$name.txt"), p.plan)
    }
    Files.writeString(dir.resolve("bench_profile.json"),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
  }

  // BigDecimal, not printf %f: %f is locale-sensitive (a comma decimal
  // separator would corrupt the JSON line)
  private def fmtN(scale: Int)(v: Double): String =
    new java.math.BigDecimal(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP).toPlainString
  private def jmap(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + fmtN(3)(v) }
      .mkString("{", ",", "}")
  private def jlist(xs: Iterable[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")
  private def jints(m: Iterable[(String, Int)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** What the stdout summary line reports: the run's totals and lists,
    * per-query medians and mins, and the name of the full artifact. */
  private[graft] final case class Summary(total: Double,
      medians: Seq[(String, Double)], mins: Map[String, Double],
      maxSpreadRatio: Double, noisy: Seq[String], minRegressed: Seq[String],
      failed: Seq[String], partial: Seq[(String, Int)], full: String,
      fullPasses: Int, reps: Int, sf: String)

  /** The stdout summary line. It self-limits to 1800 bytes so it ALWAYS
    * survives the driver's tail window intact: keep the SLOWEST queries
    * (the ones a perf review needs) up to the budget and count the omitted
    * fast ones. The total still covers every query; the full map is in the
    * full artifact. The noisy/min_regressed lists are capped (a storm could
    * name every query and blow the byte budget); the _count fields and the
    * full artifact carry the truth.
    *
    * Per-query MINs ride the line for every min_regressed query it names,
    * shown or not, and for SHOWN queries whose median exceeds their min by
    * >20% (capped at 30). A burst only ever ADDS time, so median >> min
    * means contention, not regression — the r16 driver run read
    * q_sessionize's 2.4s median as a 4x regression that its own min column
    * exonerated. Carrying exactly the adjudication-relevant mins lets a PERF
    * comparison self-adjudicate noise from the stdout line alone.
    * Additions-only; the 1800-byte self-limit governs. */
  private[graft] def summaryLine(s: Summary): String = {
    val bySlowest = s.medians.sortBy(-_._2)
    val minRegHead = s.minRegressed.take(10)
    val minRegSet = s.minRegressed.toSet
    def line(keep: Int): String = {
      val shown = bySlowest.take(keep)
      val minsShown = (shown.flatMap { case (k, med) =>
        s.mins.get(k).filter(mn => med > mn * 1.2 || minRegSet.contains(k)).map(k -> _)
      }.take(30) ++ minRegHead.flatMap(k => s.mins.get(k).map(k -> _))).distinctBy(_._1)
      s"""{"metric":"total","value":${fmtN(3)(s.total)},"unit":"sec","queries":${
        jmap(shown)
      },"min":${jmap(minsShown)
      },"omitted_fast":${s.medians.size - keep},"max_spread_ratio":${fmtN(3)(s.maxSpreadRatio)
      },"noisy_count":${s.noisy.size},"noisy":${jlist(s.noisy.take(5))},"min_regressed_count":${
        s.minRegressed.size},"min_regressed":${jlist(minRegHead)},"failed":${jlist(s.failed)
      },"partial":${jints(s.partial)},"full":"${s.full}","full_passes":${s.fullPasses},"n":${s.reps},"sf":"${s.sf}"}"""
    }
    line((s.medians.size to 0 by -1).find(k => line(k).length <= 1800).getOrElse(0))
  }

  private[graft] def measurePass(profiler: Profiler, sfDir: String,
      names: Seq[String], reps: Int): Pass = {
    // Measure: `reps` timed runs per query, report the MEDIAN plus the
    // spread (max-min) so the JSON itself shows whether a number can be
    // trusted. Reps run INTERLEAVED (all queries rep 1, then rep 2, …)
    // rather than back-to-back per query: the r8/r9 driver benches were
    // contention-poisoned — a minutes-long external load burst inflated
    // ALL reps of whichever queries it straddled, so even the median lied.
    // Round-robin reps spread any burst across one rep of MANY queries,
    // and the per-query median survives it.
    // Every query gets ALL its reps even after a failure — a transient
    // rep-1 throw must not erase the timings reps 2..n would have given.
    def batch(qs: Seq[String], what: String) = {
      val runs = scala.collection.mutable.Map[String, Vector[Double]]()
        .withDefaultValue(Vector.empty)
      val fails = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      for (_ <- 1 to reps; name <- qs)
        try runs(name) :+= profiler.rep(name, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"bench: $what$name failed: ${e.getMessage}")
          fails(name) += 1 }
      (runs, fails)
    }
    val (runsByName, failCount) = batch(names, "")
    // Noise retry (one extra interleaved batch, once): a query whose
    // spread exceeds its median was contention-poisoned — its median
    // cannot certify a regression either way (the r12 artifact had 31/111
    // such queries and a 7.5x max spread ratio; q_pq_rerank's apparent
    // 2.8x regression was pure noise by the min column). Re-run JUST
    // those queries' reps and keep whichever batch has the lower median
    // (a burst only ever ADDS time, so the lower batch is the truer one);
    // the reported min spans all runs of both batches.
    val firstNoisy = names.filter { n =>
      val runs = runsByName(n)
      runs.nonEmpty && (runs.max - runs.min) > median(runs)
    }
    val (retryRuns, retryFail) = batch(firstNoisy, "retry ")
    val retried = firstNoisy.filter(n => retryRuns(n).nonEmpty &&
      median(retryRuns(n)) < median(runsByName(n)))
    val allRuns = names.map(n => n -> (runsByName(n) ++ retryRuns(n))).toMap
    // when the retry batch is KEPT, its failure count replaces the first
    // batch's — partial/failed must describe the batch the medians came
    // from, not a mix (a 2/3-success first batch + kept 3/3 retry batch
    // previously reported 3 successes AND a failure for n=3 reps)
    retried.foreach { n =>
      runsByName(n) = retryRuns(n)
      failCount(n) = retryFail(n)
    }
    Pass(names.map(n => n -> runsByName(n)).toMap,
      failCount.toMap.withDefaultValue(0), allRuns, firstNoisy, retried)
  }

  /** Sum of per-query medians over a pass's kept runs — the pass-level
    * figure of merit the whole-run rerun compares on. */
  private def passTotal(runs: Map[String, Vector[Double]]): Double =
    runs.valuesIterator.filter(_.nonEmpty).map(median(_)).sum

  /** Worst per-query spread/median over a pass's kept runs. */
  private def maxSpreadOf(runs: Map[String, Vector[Double]]): Double = {
    val ratios = runs.valuesIterator.filter(_.nonEmpty).map { rs =>
      val m = median(rs)
      if (m > 0) (rs.max - rs.min) / m else 0.0
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // driver contract: local[32]
    // Repetitions per query: median-of-3 by default. One-shot timing cannot
    // distinguish a plan regression from machine noise (the r4->r5 bench drift
    // was +31% across queries whose plans did not change); the median of 3
    // steady-state runs is robust to a single GC pause / scheduler hiccup.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt max 1
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to the named queries —
    // the focused idle-box form a min-gate flag is ADJUDICATED with (the
    // gate's question is "regression or contention?", and a full-suite run's
    // own load is contention). Unset = the full declared suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val names = SparkEntry.selectQueries(only, "SPARK_GRAFT_BENCH_ONLY")
    val spark = Sessions.local(cpus.toInt)
    val nameSet = names.toSet
    // Warm-up pass, mirroring criterion's warm-up-then-measure protocol
    // (the reference's own benchmark harness): run the full query suite
    // once against the 100x-smaller sf0.001 sibling so the one-time
    // Catalyst/Janino/JIT compilation of every plan shape is paid BEFORE
    // measurement, then measure steady-state per-query times at the target
    // SF. Without this, whichever query of an operator family happens to
    // run first absorbs ~3s of one-time codegen that every later family
    // member skips — noise, not throughput. The warm-up reads DIFFERENT
    // data (sf0.001), so no query-result or page caching of the measured
    // inputs is possible; only code compilation is shared.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val warmDir = {
      val p = Paths.get(sfDir)
      val sibling = p.resolveSibling("sf0.001")
      if (Files.isDirectory(sibling) &&
          sibling.toString != p.toString) Some(sibling.toString)
      else None
    }
    warmDir.foreach { wd =>
      SparkEntry.queries.foreach { case (name, fn) =>
        if (nameSet.contains(name))
          try fn(spark, wd).count() catch { case _: Throwable => () }
      }
    }
    // Every timed rep is profiled (Profiler): the last one of each query
    // lands in bench_profile.json and bench_plans/ after the passes.
    val profiler = new Profiler(spark)
    val pass1 = measurePass(profiler, sfDir, names, reps)
    // Whole-run rerun (once): when even the retry-repaired pass keeps a
    // worst spread ratio above ~3, the box was loaded for a large slice of
    // the run and NO median in it can certify a regression (the r13 close
    // shipped at 5.34 and its min-gate flags went unadjudicated for exactly
    // this reason). Rerun the ENTIRE interleaved pass once and close on the
    // pass with the lower total — contention only ever adds time, so the
    // lower-total pass is the truer artifact. The min column spans every
    // run of both passes either way.
    val MaxCertifiableSpread = 3.0
    val (pass, fullPasses) =
      if (maxSpreadOf(pass1.runs) <= MaxCertifiableSpread) (pass1, 1)
      else {
        System.err.println(
          f"bench: max spread ratio ${maxSpreadOf(pass1.runs)}%.2f > " +
            f"$MaxCertifiableSpread%.1f — rerunning the full pass once")
        val pass2 = measurePass(profiler, sfDir, names, reps)
        val keep =
          if (passTotal(pass2.runs) < passTotal(pass1.runs)) pass2 else pass1
        val mergedAll = names.map(n => n ->
          (pass1.allRuns.getOrElse(n, Vector.empty) ++
            pass2.allRuns.getOrElse(n, Vector.empty))).toMap
        (keep.copy(allRuns = mergedAll), 2)
      }
    val runsByName = pass.runs
    val failCount = pass.fails
    val allRuns = pass.allRuns
    val firstNoisy = pass.firstNoisy
    val retried = pass.retried
    // a query with at least one successful rep keeps its median; `failed`
    // lists zero-success queries, and `partial` surfaces per-query
    // success counts when some (not all) reps threw — a single-run
    // median with spread 0.000 must be readable as weak, not as stable
    val timed = names.map(n => n -> runsByName(n))
    val failed = names.filter(n => runsByName(n).isEmpty && failCount(n) > 0)
    val partial = names.collect {
      case n if runsByName(n).nonEmpty && failCount(n) > 0 =>
        n -> runsByName(n).size
    }
    val medians = timed.collect {
      case (name, runs) if runs.nonEmpty => name -> median(runs)
    }
    val total = medians.map(_._2).sum
    // Failures are an explicit name list, NEVER a -1.0 sentinel inside the
    // timing maps: a tool summing or diffing per-query medians across
    // rounds would silently treat -1.0 as a real (negative) timing.
    val spreads = timed.collect {
      case (k, runs) if runs.nonEmpty => k -> (runs.max - runs.min)
    }
    // Contention guard: the MIN of the interleaved reps is the best
    // contention-free estimate a loaded box can give (a burst only ever
    // ADDS time), and spread/median per query tells a reader how
    // noise-poisoned the run was. max_spread_ratio self-declares the
    // worst case in the artifact; `noisy` names the queries whose spread
    // EXCEEDS their median — their medians should not be trusted for
    // regression calls without an idle rerun.
    val mins = names.collect {
      case k if allRuns(k).nonEmpty => k -> allRuns(k).min
    }
    // Round-over-round regression gate on MIN, not median: the min of the
    // interleaved reps is the best contention-free estimate a loaded box
    // gives (noise only adds time), so a min that grew markedly signals a
    // real plan/code regression where a median swing signals contention.
    // The prior round's mins come from the bench_full.json the previous
    // bench run left in the repo root (absent → empty list).
    val priorMins: Map[String, Double] =
      try {
        val f = Paths.get("bench_full.json")
        if (Files.isRegularFile(f)) {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(Files.readString(f))
          val node = root.get("min")
          // a baseline from a DIFFERENT scale factor is not comparable —
          // treat it as absent rather than flag everything as regressed
          val sameSf = Option(root.get("sf")).exists(_.asText() == sfDir)
          if (node == null || !sameSf) Map.empty
          else node.properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toMap
        } else Map.empty
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val minRegressed = mins.collect {
      case (k, m) if priorMins.get(k).exists(p => m > p * 1.5 && m - p > 0.2) =>
        k
    }.sorted
    val medianByName = medians.toMap
    val spreadRatios = spreads.map { case (k, s) =>
      val m = medianByName(k)
      k -> (if (m > 0) s / m else 0.0)
    }
    val maxSpreadRatio =
      if (spreadRatios.nonEmpty) spreadRatios.map(_._2).max else 0.0
    val noisy = spreadRatios.collect { case (k, r) if r > 1.0 => k }.sorted
    // The FULL artifact — every median at ms precision plus the spread
    // (max-min over the reps) — goes to a dedicated file, not stdout:
    // the driver captures only the LAST 2000 BYTES of stdout (measured
    // from BENCH_r07/r08.json), sbt's "[success] Total time" trailer
    // costs ~75 of those, and 80+ queries x ~25 bytes cannot fit in
    // what remains no matter the precision. Rounds 6-8 each lost the
    // head of the medians line to that window.
    // `retried` = queries whose RETRY batch was kept (the medians in this
    // artifact came from it); `retry_attempted` = every noisy query that
    // got a retry batch, kept or not; `full_passes` = 2 when the
    // whole-run contention rerun fired (the artifact is the better pass)
    val fullJson =
      s"""{"metric":"total","value":${fmtN(3)(total)},"unit":"sec","queries":${
        jmap(medians)},"min":${jmap(mins)},"spread":${jmap(spreads)
        },"max_spread_ratio":${fmtN(3)(maxSpreadRatio)},"noisy":${jlist(noisy)},"retried":${
        jlist(retried.sorted)},"retry_attempted":${jlist(firstNoisy.sorted)
        },"min_regressed":${jlist(minRegressed)},"failed":${jlist(failed)},"partial":${
        jints(partial)},"full_passes":$fullPasses,"n":$reps,"sf":"$sfDir"}"""
    // A focused (SPARK_GRAFT_BENCH_ONLY) run never overwrites the full
    // artifact: bench_full.json is the round-over-round min baseline, and
    // a 4-query adjudication run replacing the 154-query record would
    // erase the very baseline the next round's gate compares against.
    val fullPath = Paths.get(
      if (only.isEmpty) "bench_full.json" else "bench_focused.json")
    Files.write(fullPath, (fullJson + "\n").getBytes("UTF-8"))
    System.err.println(s"bench: full per-query medians -> ${fullPath.toAbsolutePath}")
    val summary = summaryLine(Summary(total, medians, mins.toMap,
      maxSpreadRatio, noisy, minRegressed, failed, partial,
      fullPath.getFileName.toString, fullPasses, reps, sfDir))
    // bench_profile.json and bench_plans/ describe the latest run, focused
    // or full: no later run reads them as a baseline
    profiler.close()
    writeProfile(Paths.get(""), sfDir, profiler.records.toMap)
    System.err.println("bench: per-query profile -> " +
      s"${Paths.get("bench_profile.json").toAbsolutePath}, plans -> bench_plans/")
    // Artifact-root growth ledger and per-family outcomes (stderr,
    // print-only): this driver never deletes; the --apply cadence is an
    // operator decision (README).
    PruneArtifacts.ledger(spark, "bench: ")
    // Stop Spark BEFORE printing so the summary is the bare FINAL stdout
    // line — no executor-shutdown chatter can land after it (the r9 driver
    // parse failed on a wrapped/trailed line; bench_full.json was the only
    // recoverable copy). stderr carries all logs; stdout carries this line.
    spark.stop()
    System.out.flush()
    println(summary)
    System.out.flush()
  }
}
