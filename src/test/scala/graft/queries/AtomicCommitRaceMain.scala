package graft.queries

/** Spawned BY [[ArtifactProtocolSpec]]'s cross-JVM race test — a real
  * second (and third) JVM writing one artifact path through
  * [[graft.operators.Artifacts.atomicCommit]]. The in-JVM 8-writer race
  * test proves the monitor story; this proves the part monitors cannot:
  * two PROCESSES whose only coordination is the filesystem rename.
  *
  * Protocol: `args = (artifactPath, syncDir, id)`. The writer brings up
  * its session, drops `syncDir/ready-<id>`, busy-waits for `syncDir/go`
  * (the spec opens the barrier once every writer is ready, so the
  * commits genuinely overlap instead of serializing behind JVM
  * startup), commits, and exits 0 iff atomicCommit reported a certified
  * artifact. */
object AtomicCommitRaceMain {
  def main(args: Array[String]): Unit = {
    val Array(path, syncDir, id) = args
    val spark = graft.Sessions.local(2)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(syncDir, s"ready-$id"), "ready")
    val deadline = System.currentTimeMillis() + 60000
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(syncDir, "go"))
        && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    // both writers build the SAME deterministic table — the atomicCommit
    // contract every production family satisfies
    val ok = graft.operators.Artifacts.atomicCommit(spark, path,
      Map("family" -> "race_spec", "dataset_dir" -> "/x",
        "table" -> "documents", "stamp" -> "42", "key" -> "k1")) { tmp =>
      spark.range(500).selectExpr("id", "id * 2 AS v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    spark.stop()
    sys.exit(if (ok) 0 else 2)
  }
}
