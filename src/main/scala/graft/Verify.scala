package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Committed per-round denominator — bump INTENTIONALLY with each new
    * query. A refactor that drops a map entry must fail this run loudly,
    * never shrink the driver's correctness denominator silently. */
  val ExpectedQueryCount = 160

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    require(SparkEntry.queries.size == ExpectedQueryCount,
      s"SparkEntry.queries has ${SparkEntry.queries.size} entries, expected " +
        s"$ExpectedQueryCount — a dropped query shrinks the correctness " +
        "denominator silently; bump ExpectedQueryCount only with an " +
        "intentional add/remove")
    // optional 3rd arg: comma-separated query names (local iteration only;
    // the driver always invokes with exactly two args = full run). Names
    // are trimmed and VALIDATED: a typo would otherwise dump nothing and
    // write an empty oracle file, and the checker would print a
    // clean-looking "0 pass, 0 fail" for a run that checked nothing —
    // the same silent-shrink failure Bench's filter guards against.
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"unknown query names in the focused-run filter: ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, "the focused-run filter names no queries")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // driver contract: local[32]
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // a success must clear any stale marker from a previous run into
        // the same outDir, or a fixed query reads as permanently failed.
        // The delete is best-effort in its OWN handler: a marker-cleanup
        // hiccup must not route a green query into the failure path.
        try { Files.deleteIfExists(Paths.get(s"$outDir/$name.error")); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
      catch { case e: Throwable =>
        // A throwing query must surface as a red row, never as a silently
        // shrunk denominator (round-9 verdict: 83→80 entries with no err).
        // The driver reads <name>.error as an explicit failure marker; the
        // stderr line stays for humans tailing the log.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        Files.writeString(Paths.get(s"$outDir/$name.error"), msg.take(4000))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a focused run (3rd arg) dumps only the matching oracles so the
    // checker's denominator equals the dumped set — the full driver run
    // (two args) still writes every oracle
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // artifact-root growth ledger (stderr, print-only — the Bench tail's
    // twin): record what a PruneArtifacts --apply would reap this round
    try {
      val aRoot = graft.operators.Ivf.indexRoot(spark)
      val dec = graft.operators.Artifacts.prune(spark, aRoot,
        graceMs = 60L * 60 * 1000, dryRun = true,
        liveKeys = graft.queries.Pipeline.liveArtifactKeys)
      System.err.println(s"[verify] artifact-root prune dry-run at $aRoot: " +
        s"${dec.count(_.action == "keep")} kept, " +
        s"${dec.count(_.action == "would-delete")} would-delete " +
        s"(runMain graft.PruneArtifacts $aRoot --apply to reap)")
    } catch { case e if scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] prune dry-run failed: ${e.getMessage}") }
    // which artifact path actually ran: per-family entry-point outcomes
    // (hit / build / commit_failed / read_fallback:<class> / unstamped)
    val outcomes = graft.operators.Artifacts.outcomeCounts.groupBy(_._1._1)
      .toSeq.sortBy(_._1).map { case (family, counts) =>
        family + " " + counts.toSeq.sortBy(_._1._2)
          .map { case ((_, outcome), n) => s"$outcome=$n" }.mkString(" ")
      }
    System.err.println(s"[verify] artifact outcomes: ${outcomes.mkString("; ")}")
    spark.stop()
    // Exit HARD: round 7's driver compare hit transient OOMs (1–2 MB
    // mallocs failing) on 4 queries while this JVM's heap could still be
    // resident — local-mode Spark occasionally leaves non-daemon threads
    // that keep the process (and its -Xmx) alive after main returns. The
    // dump is complete and flushed at this point; free the memory for the
    // DuckDB compare that runs next.
    sys.exit(0)
  }
}
