package graft
import java.nio.file.{Files, Paths}

import graft.functions.ScalarJson
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
    // the driver always invokes with exactly two args = full run), validated
    // like Bench's filter: a typo would otherwise dump nothing, write an
    // empty oracle file, and the checker would print a clean-looking
    // "0 pass, 0 fail" for a run that checked nothing.
    val names = SparkEntry.selectQueries(args.lift(2), "the focused-run filter").toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // driver contract: local[32]
    val spark = Sessions.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => names(name) }
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
    // a focused run (3rd arg) dumps only the matching oracles so the
    // checker's denominator equals the dumped set — the full driver run
    // (two args) still writes every oracle
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${ScalarJson.quote(k)}: ${ScalarJson.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // artifact ledger (stderr, print-only — Bench prints the same)
    PruneArtifacts.ledger(spark, "[verify] ")
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
