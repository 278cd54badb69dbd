package graft

import org.apache.spark.sql.SparkSession

/** Artifact-root garbage collector — the operational reaper for the
  * dataset-artifact protocol ([[graft.operators.Artifacts.prune]]).
  * Every data rewrite re-keys its derived artifacts (shingle tables,
  * winnow/minhash/simhash indexes, LM/NB/DSIR score tables, IVF/PCA/BPE
  * models) under a new data stamp and orphans the previous stamp's
  * parquet forever; on a long-lived fleet the artifact root grows
  * without bound unless something deletes the dead stamps. This main
  * applies the prune policy:
  *
  *   - dead-stamp artifacts (provenance meta present, recomputed table
  *     stamp differs) are deleted;
  *   - live-stamp, unattributable, and pre-meta artifacts are kept;
  *   - uncertified husks and orphaned in-progress temp dirs are deleted
  *     only once older than the grace window (default 1h — an in-flight
  *     writer younger than that may still be running).
  *
  * Usage: `runMain graft.PruneArtifacts <root> [--apply] [--grace-ms N]
  * [--keep-dead-keys]` — DRY-RUN by default (prints decisions, deletes
  * nothing); `--apply` performs the deletes. Dead-KEY artifacts (format
  * bumps re-key the path, orphaning the old-format parquet under a
  * still-live data stamp) and stray names (a directory not named by the
  * derivation of its own provenance meta, such as the earlier root-hashed
  * layout) are reaped against
  * [[graft.queries.SharedArtifacts.liveArtifactKeys]] — the map shipped in
  * this very build — unless `--keep-dead-keys` is passed. Do not run
  * `--apply` while readers from an older build are still running: a
  * reader mid-action on a reaped directory fails instead of rebuilding,
  * and after the upgrade that stopped hashing the root into directory
  * names every directory an older build reads is a stray name (see
  * [[graft.operators.Artifacts.prune]]). Exit 0 on success, 1 on bad
  * usage. */
object PruneArtifacts {

  def main(args: Array[String]): Unit =
    sys.exit(run(args.toIndexedSeq, Console.out, Console.err))

  /** The end-of-run artifact ledger on stderr, print-only, each line
    * prefixed with `prefix`: what a dry-run prune of the session's
    * artifact root would reap (every testdata regeneration strands the
    * previous stamp's artifacts), then which entry-point path each family
    * took in this JVM (`Artifacts.outcomeCounts`: hit / build /
    * commit_failed / read_fallback:<class> / unstamped). */
  def ledger(spark: SparkSession, prefix: String): Unit = {
    try {
      val aRoot = graft.operators.Ivf.indexRoot(spark)
      val dec = graft.operators.Artifacts.prune(spark, aRoot,
        graceMs = 60L * 60 * 1000, dryRun = true,
        liveKeys = graft.queries.SharedArtifacts.liveArtifactKeys)
      System.err.println(s"${prefix}artifact-root prune dry-run at $aRoot: " +
        s"${dec.count(_.action == "keep")} kept, " +
        s"${dec.count(_.action == "would-delete")} would-delete " +
        s"(runMain graft.PruneArtifacts $aRoot --apply to reap)")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"${prefix}prune dry-run failed: ${e.getMessage}") }
    val outcomes = graft.operators.Artifacts.outcomeCounts.groupBy(_._1._1)
      .toSeq.sortBy(_._1).map { case (family, counts) =>
        family + " " + counts.toSeq.sortBy(_._1._2)
          .map { case ((_, outcome), n) => s"$outcome=$n" }.mkString(" ")
      }
    System.err.println(s"${prefix}artifact outcomes: ${outcomes.mkString("; ")}")
  }

  /** Testable entry: returns the exit code instead of exiting. */
  def run(args: Seq[String], out: java.io.PrintStream,
      err: java.io.PrintStream): Int = {
    var root: Option[String] = None
    var apply = false
    var keepDeadKeys = false
    var graceMs = 60L * 60L * 1000L
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--apply" => apply = true
        case "--keep-dead-keys" => keepDeadKeys = true
        case "--grace-ms" =>
          // reject negatives: `--grace-ms -1` would make every in-flight
          // temp and fresh husk "older than the window", so a live
          // writer's seconds-old temp gets reaped — the exact failure the
          // grace window exists to prevent (0 is allowed: an explicit
          // "nothing is in flight" assertion for single-writer cleanups)
          if (i + 1 >= args.length ||
              scala.util.Try(args(i + 1).toLong).toOption.forall(_ < 0L)) {
            err.println("--grace-ms needs a numeric argument >= 0"); return 1
          }
          graceMs = args(i + 1).toLong; i += 1
        case flag if flag.startsWith("--") =>
          err.println(s"unknown flag: $flag"); return 1
        case r if root.isEmpty => root = Some(r)
        case extra =>
          err.println(s"unexpected argument: $extra"); return 1
      }
      i += 1
    }
    root match {
      case None =>
        err.println(
          "usage: prune-artifacts <artifact-root> [--apply] [--grace-ms N] [--keep-dead-keys]")
        1
      case Some(r) =>
        // only stop the session if this main created it — under a test
        // harness getOrCreate returns the suite's shared session, and
        // stopping that would take down every later suite
        val preExisting = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession).isDefined
        val spark = Sessions.local(2)
        try {
          // the live format keys come from THE SAME BUILD this reaper
          // ships in, so "current" can never drift from what writers
          // record (Artifacts.model / frame read the same map)
          val liveKeys =
            if (keepDeadKeys) Map.empty[String, String]
            else graft.queries.SharedArtifacts.liveArtifactKeys
          val decisions = graft.operators.Artifacts
            .prune(spark, r, graceMs, dryRun = !apply, liveKeys = liveKeys)
          decisions.foreach(d =>
            out.println(s"${d.action}\t${d.path}\t${d.reason}"))
          val deleted = decisions.count(_.action == "delete")
          val would = decisions.count(_.action == "would-delete")
          val kept = decisions.count(_.action == "keep")
          out.println(
            s"prune: $kept kept, $deleted deleted, $would would-delete" +
              (if (apply) "" else " (dry-run; pass --apply to delete)"))
          0
        } finally if (!preExisting) spark.stop()
    }
  }
}
