package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-artifact protocol behind every shared table and model
  * ([[graft.operators.Artifacts.model]] / `frame`): certified writes,
  * bit-identical read-back, corrupt-artifact degradation to the inline
  * build, the unknown-stamp rule (never persist what can't be
  * fingerprinted), and the outcome counts that make each fallback
  * visible. These are the failure modes a
  * 100 TB deployment actually hits — a writer OOM-killed mid-job, a
  * truncated file, an object-store path the stat walk can't see. */
class ArtifactProtocolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  private def withTempRoot[A](f: java.nio.file.Path => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft_artifact_spec")
    val prev = spark.conf.getOption("spark.graft.index.root")
    spark.conf.set("spark.graft.index.root", root.toString)
    try f(root)
    finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.index.root", v)
        case None => spark.conf.unset("spark.graft.index.root")
      }
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  private def ageRecursively(p: java.nio.file.Path, epochMs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(p)
    try w.iterator().asScala.foreach(f =>
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(epochMs)))
    finally w.close()
  }

  /** `f`'s result and the entry point's outcome counts it added, summed
    * over families; `read_fallback:<class>` counts as `read_fallback`. */
  private def outcomes[A](f: => A): (A, Map[String, Long]) = {
    def byOutcome = graft.operators.Artifacts.outcomeCounts.toSeq
      .groupMapReduce(_._1._2.takeWhile(_ != ':'))(_._2)(_ + _)
    val before = byOutcome
    val a = f
    (a, byOutcome.map { case (o, n) => o -> (n - before.getOrElse(o, 0L)) }
      .filter(_._2 != 0L))
  }

  private def shingleSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Seq[Long])] =
    df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).sorted)).toSet

  test("first call writes a certified artifact; read-back is bit-identical") {
    withTempRoot { root =>
      val first = shingleSet(SharedArtifacts.sharedShingles(spark, dir))
      // the artifact landed under the fresh root with its certificate
      val fam = root.resolve("graft_shingle_table")
      assert(java.nio.file.Files.isDirectory(fam), "artifact family dir must exist")
      import scala.jdk.CollectionConverters._
      val arts = java.nio.file.Files.list(fam).iterator().asScala.toSeq
      assert(arts.size == 1, s"exactly one artifact expected, got $arts")
      assert(java.nio.file.Files.exists(arts.head.resolve("_SUCCESS")),
        "artifact must carry the job-success certificate")
      // a second call (artifact-read path) returns the identical relation
      // and is counted as a hit, with no fallback of either kind
      val (second, counted) = outcomes(shingleSet(SharedArtifacts.sharedShingles(spark, dir)))
      assert(second == first, "read-back must equal the built table")
      assert(counted.getOrElse("hit", 0L) > 0L &&
        !counted.contains("read_fallback") && !counted.contains("commit_failed"),
        s"a second call on a writable root must be a clean hit, counted $counted")
      assert(first.nonEmpty)
    }
  }

  test("a decertified artifact is rebuilt, not read as a husk") {
    withTempRoot { root =>
      val first = shingleSet(SharedArtifacts.sharedShingles(spark, dir))
      import scala.jdk.CollectionConverters._
      val art = java.nio.file.Files
        .list(root.resolve("graft_shingle_table")).iterator().asScala.toSeq.head
      // simulate a writer that died mid-job: data present, no certificate
      java.nio.file.Files.delete(art.resolve("_SUCCESS"))
      // ALSO corrupt the data so a bare-directory read would be wrong
      java.nio.file.Files.list(art).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => java.nio.file.Files.write(p, Array.fill(16)(0: Byte)))
      // the in-JVM once-only guard is keyed by path, so same-JVM calls
      // would skip the probe; the contract under test is the CROSS-JVM
      // one — probe the marker the way a fresh JVM would
      assert(!graft.operators.Artifacts.markerExists(spark, art.toString),
        "husk must read as missing")
      // and the overwrite-mode write heals it: a fresh build at the same
      // path (forced by clearing the husk) re-certifies
      val healed = shingleSet(
        graft.operators.Dedup.shingleTable(
          graft.Tables.documents(spark, dir), "text", "doc_id", n = 3))
      assert(healed == first, "a rebuild equals the original table")
    }
  }

  test("two racing writers commit exactly one artifact, never a mix") {
    withTempRoot { root =>
      import spark.implicits._
      val path = root.resolve("graft_race_family").resolve("art1").toString
      // deterministic interleave: A builds its temp FIRST but renames
      // LAST — the exact round-14 advice scenario (two first-callers on
      // one uncertified path, overlapping writes)
      val aBuilt = new java.util.concurrent.CountDownLatch(1)
      val bDone = new java.util.concurrent.CountDownLatch(1)
      @volatile var aResult = false
      val a = new Thread(() => {
        aResult = graft.operators.Artifacts.atomicCommit(spark, path) { tmp =>
          Seq(("a", 1L), ("a", 2L)).toDF("writer", "v")
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          aBuilt.countDown()
          bDone.await() // hold the rename until B's WHOLE commit lands
        }
      })
      a.start()
      aBuilt.await()
      val bResult = graft.operators.Artifacts.atomicCommit(spark, path) { tmp =>
        Seq(("b", 1L), ("b", 2L)).toDF("writer", "v")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
      }
      bDone.countDown()
      a.join()
      assert(aResult && bResult, "both callers must report a committed artifact")
      assert(graft.operators.Artifacts.markerExists(spark, path))
      val rows = spark.read.parquet(path).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("b", 1L), ("b", 2L)),
        s"the artifact must be EXACTLY the first committer's table, got $rows")
      // the loser's temp is gone (or at worst invisible): nothing
      // non-hidden next to the artifact
      import scala.jdk.CollectionConverters._
      val visible = java.nio.file.Files.list(root.resolve("graft_race_family"))
        .iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
        .toSeq
      assert(visible.map(_.getFileName.toString) == Seq("art1"),
        s"no stray visible dirs expected, got $visible")
    }
  }

  test("eight unorchestrated racing writers: every caller reports committed, the artifact is ONE writer's table") {
    withTempRoot { root =>
      import spark.implicits._
      val path = root.resolve("graft_stress_family").resolve("art1").toString
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val threads = (0 until 8).map { w =>
        new Thread(() => {
          results.add(graft.operators.Artifacts.atomicCommit(spark, path) { tmp =>
            Seq.tabulate(4)(i => (s"w$w", i.toLong)).toDF("writer", "v")
              .coalesce(1).write.mode("overwrite").parquet(tmp)
          })
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      assert(results.asScala.forall(identity),
        "every caller must see a committed artifact")
      assert(graft.operators.Artifacts.markerExists(spark, path))
      val rows = spark.read.parquet(path).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val writers = rows.map(_._1)
      assert(writers.size == 1, s"artifact mixes writers: $writers")
      assert(rows == Set.tabulate(4)(i => (writers.head, i.toLong)),
        s"artifact must be one writer's COMPLETE table, got $rows")
    }
  }

  test("a writer that dies between temp-build and rename leaves readers unharmed; prune reaps the orphan after grace") {
    withTempRoot { root =>
      val fam = root.resolve("graft_shingle_table")
      java.nio.file.Files.createDirectories(fam)
      // simulate the crash: a fully-built temp that never renamed
      val orphan = fam.resolve(".deadbeef.inprogress-999-1")
      spark.range(3).coalesce(1).write.parquet(orphan.toString)
      // the real protocol is unaffected — the final path commits fresh
      val first = shingleSet(SharedArtifacts.sharedShingles(spark, dir))
      assert(first.nonEmpty)
      // within the grace window the orphan is kept (it could be a live
      // in-flight writer)
      val early = graft.operators.Artifacts
        .prune(spark, root.toString, graceMs = 60L * 60 * 1000, dryRun = false)
      assert(early.exists(d => d.path.contains(".inprogress-") && d.action == "keep"),
        s"young temp must be kept, got $early")
      assert(java.nio.file.Files.exists(orphan))
      // past the grace window it is reaped
      // age EVERYTHING under the orphan: prune measures liveness from
      // the newest mtime anywhere below (a live writer keeps touching
      // files), so only a fully idle tree ages out
      ageRecursively(orphan, System.currentTimeMillis() - 2L * 60 * 60 * 1000)
      val late = graft.operators.Artifacts
        .prune(spark, root.toString, graceMs = 60L * 60 * 1000, dryRun = false)
      assert(late.exists(d => d.path.contains(".inprogress-") && d.action == "delete"),
        s"aged temp must be deleted, got $late")
      assert(!java.nio.file.Files.exists(orphan))
      // the committed artifact survived both prunes (live stamp)
      assert(shingleSet(SharedArtifacts.sharedShingles(spark, dir)) == first)
    }
  }

  test("prune sweeps a temp nested inside a committed artifact by a rename race, leaving the artifact intact") {
    withTempRoot { root =>
      val first = shingleSet(SharedArtifacts.sharedShingles(spark, dir))
      import scala.jdk.CollectionConverters._
      val art = java.nio.file.Files
        .list(root.resolve("graft_shingle_table")).iterator().asScala.toSeq.head
      // simulate the rename-race loser nested under the winner
      val nested = art.resolve(".loser.inprogress-42-7")
      spark.range(2).coalesce(1).write.parquet(nested.toString)
      ageRecursively(nested, System.currentTimeMillis() - 2L * 60 * 60 * 1000)
      val dec = graft.operators.Artifacts
        .prune(spark, root.toString, graceMs = 60L * 60 * 1000, dryRun = false)
      assert(dec.exists(d => d.path.endsWith(".loser.inprogress-42-7") &&
        d.action == "delete"), s"nested temp must be reaped, got $dec")
      assert(!java.nio.file.Files.exists(nested))
      // the artifact itself was kept, stays certified, and still serves
      // (decision paths are Hadoop-rendered, e.g. file:/..., so compare
      // by the stamped directory name)
      assert(dec.exists(d => d.path.endsWith(art.getFileName.toString) &&
        d.action == "keep"))
      assert(graft.operators.Artifacts.markerExists(spark, art.toString))
      assert(shingleSet(SharedArtifacts.sharedShingles(spark, dir)) == first)
    }
  }

  test("every committed artifact's provenance key matches liveArtifactKeys — the reaper's source of truth") {
    withTempRoot { root =>
      // touch a representative set of families: documents-table ones via
      // the sweep (shingles + sweep pairs + hot stats), embeddings ones
      // via the PQ serving path (ivf centroids + int8 index + pq books)
      DedupQueries.dedupSweep(spark, dir).collect()
      graft.SparkEntry.queries("q_pq_rerank")(spark, dir).collect()
      import scala.jdk.CollectionConverters._
      val metas = for {
        fam <- java.nio.file.Files.list(root).iterator().asScala.toSeq
        if java.nio.file.Files.isDirectory(fam)
        art <- java.nio.file.Files.list(fam).iterator().asScala.toSeq
        m <- graft.operators.Artifacts.readMeta(spark, art.toString)
      } yield m
      assert(metas.size >= 5, s"expected several committed artifacts, got ${metas.size}")
      metas.foreach { m =>
        val fam = m("family")
        assert(SharedArtifacts.liveArtifactKeys.get(fam).contains(m("key")),
          s"family $fam wrote key ${m("key")} but liveArtifactKeys says " +
            s"${SharedArtifacts.liveArtifactKeys.get(fam)} — writer and reaper drifted")
      }
    }
  }

  test("liveArtifactKeys names all 19 families with their exact key strings") {
    // A moved or renamed format constant must not re-key an artifact: the
    // old-key artifacts would be orphaned, rebuilt, and reaped by prune.
    assert(SharedArtifacts.liveArtifactKeys == Map(
      "graft_shingle_table" -> "n3:fmt1",
      "graft_winnow_fps" -> "n3w4:fmt1",
      "graft_source_grams" -> "n5:fmt1",
      "graft_lm_scores" -> "fmt1",
      "graft_nb_holdout" -> "b1024:fmt1",
      "graft_lm_model" -> "topk1048576:fmt1",
      "graft_dsir_scores" -> "b4096:fmt1",
      "graft_minhash_index" -> "n3k64b16:fmt1",
      "graft_winnow_index" -> "n3w4:fmt1",
      "graft_simhash" -> "b60:fmt1",
      "graft_span_rows" -> "n5:fmt1",
      "graft_dup_clusters" -> "lsh-n3k64b16-t0.8:fmt1",
      "graft_sweep_pairs" -> "n3:fmt1:cap1000:floor0.5",
      "graft_hot_stats" -> "n3:fmt1:cap1000",
      "graft_ivf_index" -> "nlist10:iters2:fmt5",
      "graft_int8_index" -> "int8:fmt1",
      "graft_pq_books" -> "m8:k16:i1:fmt5",
      "graft_pca_model" -> "d64:i3:fmt3",
      "graft_bpe_model" -> "m40:w4096:fmt2"))
  }

  test("prune reaps a dead-KEY artifact (format bump) and keeps the current-key one") {
    withTempRoot { root =>
      val live = shingleSet(SharedArtifacts.sharedShingles(spark, dir))
      // simulate the pre-bump orphan: a certified artifact whose meta
      // carries a stale format key under the same live data stamp
      val fam = root.resolve("graft_shingle_table")
      val stale = fam.resolve("00staleformat00")
      spark.range(3).coalesce(1).write.parquet(stale.toString)
      import scala.jdk.CollectionConverters._
      val liveMeta = java.nio.file.Files.list(fam).iterator().asScala
        .filter(p => p.getFileName.toString != "00staleformat00").toSeq.head
      val m = graft.operators.Artifacts.readMeta(spark, liveMeta.toString).get
      java.nio.file.Files.writeString(stale.resolve("_GRAFT_META"),
        s"dataset_dir=${m("dataset_dir")}\nfamily=graft_shingle_table\n" +
          s"key=n3:fmt0\nstamp=${m("stamp")}\ntable=documents\n")
      // dead-key deletes are grace-windowed (mixed-version fleet safety):
      // age the planted orphan past the window
      ageRecursively(stale, System.currentTimeMillis() - 2L * 60 * 60 * 1000)
      val dec = graft.operators.Artifacts.prune(spark, root.toString,
        graceMs = 60L * 60 * 1000, dryRun = false,
        liveKeys = SharedArtifacts.liveArtifactKeys)
      assert(dec.exists(d => d.path.endsWith("00staleformat00") &&
        d.action == "delete" && d.reason.contains("dead format key")),
        s"stale-format artifact must be reaped, got $dec")
      assert(!java.nio.file.Files.exists(stale))
      // the current-key artifact survives and still serves
      assert(dec.exists(d => d.action == "keep" && d.reason == "live stamp"))
      assert(shingleSet(SharedArtifacts.sharedShingles(spark, dir)) == live)
    }
  }

  test("prune --apply reaps an IVF index committed under the pre-unification path and key") {
    withTempRoot { root =>
      val live = graft.SparkEntry.queries("q_cluster_sizes")(spark, dir).collect().toSeq
      import scala.jdk.CollectionConverters._
      val fam = root.resolve("graft_ivf_index")
      val current = java.nio.file.Files.list(fam).iterator().asScala.toSeq.head
      val m = graft.operators.Artifacts.readMeta(spark, current.toString).get
      // the old layout: md5 of the (root, dir, stamp, nlist, iters) cache
      // key plus the training format, certified by its centroids subdir,
      // with the format-4 key in its provenance meta
      val oldName = java.security.MessageDigest.getInstance("MD5")
        .digest(s"($root,$dir,${m("stamp")},10,2):fmt4".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val old = fam.resolve(oldName)
      spark.range(10).coalesce(1).write.parquet(old.resolve("centroids").toString)
      java.nio.file.Files.writeString(old.resolve("_GRAFT_META"),
        s"dataset_dir=$dir\nfamily=graft_ivf_index\nkey=nlist10:iters2:fmt4\n" +
          s"stamp=${m("stamp")}\ntable=embeddings\n")
      assert(m("key") != "nlist10:iters2:fmt4" && current.getFileName.toString != oldName)
      ageRecursively(old, System.currentTimeMillis() - 2L * 60 * 60 * 1000)
      val bos = new java.io.ByteArrayOutputStream()
      val ps = new java.io.PrintStream(bos)
      val code = graft.PruneArtifacts.run(Seq(root.toString, "--apply"), ps, ps)
      ps.flush()
      val out = bos.toString("UTF-8")
      assert(code == 0 && !java.nio.file.Files.exists(old),
        s"the old-layout IVF index must be reaped:\n$out")
      assert(out.contains("dead format key"), out)
      assert(java.nio.file.Files.exists(current.resolve("centroids").resolve("_SUCCESS")),
        s"the current-key index must be kept:\n$out")
      assert(graft.SparkEntry.queries("q_cluster_sizes")(spark, dir).collect().toSeq == live)
    }
  }

  // the source listing is taken before copying, so `dst` may lie inside `src`
  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(src)
    try w.iterator().asScala.toList.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally w.close()
  }

  test("an entry-point call on a copy of a committed root records a hit, not a build") {
    withTempRoot { root =>
      val first = shingleSet(SharedArtifacts.sharedShingles(spark, dir))
      val copy = root.resolve("copy")
      copyTree(root, copy)
      spark.conf.set("spark.graft.index.root", copy.toString)
      val (second, counted) =
        outcomes(shingleSet(SharedArtifacts.sharedShingles(spark, dir)))
      assert(second == first, "the copied artifact must serve the same rows")
      assert(counted.getOrElse("hit", 0L) > 0L && !counted.contains("build") &&
        !counted.contains("read_fallback"),
        s"a copied root must be hit, not rebuilt: counted $counted")
    }
  }

  test("prune --apply with grace 0 reaps an artifact committed under the root-hashed name and keeps the current one") {
    withTempRoot { root =>
      val live = shingleSet(SharedArtifacts.sharedShingles(spark, dir))
      import scala.jdk.CollectionConverters._
      val fam = root.resolve("graft_shingle_table")
      val current = java.nio.file.Files.list(fam).iterator().asScala.toSeq.head
      val m = graft.operators.Artifacts.readMeta(spark, current.toString).get
      // the earlier layout hashed the root into the name; the same
      // committed files and meta under that name
      val oldName = java.security.MessageDigest.getInstance("MD5")
        .digest(s"($root,${m("dataset_dir")},${m("stamp")}):${m("key")}"
          .getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(current.getFileName.toString != oldName,
        "the current name must not hash the root")
      val old = fam.resolve(oldName)
      copyTree(current, old)
      ageRecursively(old, System.currentTimeMillis() - 10L * 1000)
      val bos = new java.io.ByteArrayOutputStream()
      val ps = new java.io.PrintStream(bos)
      val code = graft.PruneArtifacts.run(
        Seq(root.toString, "--apply", "--grace-ms", "0"), ps, ps)
      ps.flush()
      val out = bos.toString("UTF-8")
      assert(code == 0 && !java.nio.file.Files.exists(old),
        s"the root-hashed artifact must be reaped:\n$out")
      assert(out.contains("stray name"), out)
      assert(java.nio.file.Files.exists(current.resolve("_SUCCESS")),
        s"the current artifact must be kept:\n$out")
      assert(shingleSet(SharedArtifacts.sharedShingles(spark, dir)) == live)
    }
  }

  test("PruneArtifacts --keep-dead-keys retains a stale-format artifact; tableStamp tracks rewrites") {
    withTempRoot { root =>
      spark.range(1).count()
      SharedArtifacts.sharedShingles(spark, dir).collect()
      import scala.jdk.CollectionConverters._
      val fam = root.resolve("graft_shingle_table")
      val art = java.nio.file.Files.list(fam).iterator().asScala.toSeq.head
      val m = graft.operators.Artifacts.readMeta(spark, art.toString).get
      val stale = fam.resolve("00stalekey00")
      spark.range(2).coalesce(1).write.parquet(stale.toString)
      java.nio.file.Files.writeString(stale.resolve("_GRAFT_META"),
        s"dataset_dir=${m("dataset_dir")}\nfamily=graft_shingle_table\n" +
          s"key=n3:fmt0\nstamp=${m("stamp")}\ntable=documents\n")
      ageRecursively(stale, System.currentTimeMillis() - 2L * 60 * 60 * 1000)
      def run(args: String*): (Int, String) = {
        val bos = new java.io.ByteArrayOutputStream()
        val ps = new java.io.PrintStream(bos)
        val code = graft.PruneArtifacts.run(args, ps, ps)
        ps.flush(); (code, bos.toString("UTF-8"))
      }
      // the opt-out keeps the stale-key artifact under --apply
      val (c1, o1) = run(root.toString, "--apply", "--keep-dead-keys")
      assert(c1 == 0 && java.nio.file.Files.exists(stale),
        s"--keep-dead-keys must retain the stale-key artifact:\n$o1")
      // without the opt-out the reaper takes it (the default CLI path
      // feeds SharedArtifacts.liveArtifactKeys)
      val (c2, o2) = run(root.toString, "--apply")
      assert(c2 == 0 && !java.nio.file.Files.exists(stale),
        s"default prune must reap the stale-key artifact:\n$o2")
      assert(java.nio.file.Files.exists(art), "live artifact must survive")
      // tableStamp: stable across reads, changed by an mtime rewrite,
      // 0 on an unwalkable dir
      val s1 = graft.operators.Artifacts.tableStamp(dir, "documents")
      assert(s1 != 0L && s1 == graft.operators.Artifacts.tableStamp(dir, "documents"))
      assert(graft.operators.Artifacts.tableStamp("/nonexistent", "documents") == 0L)
    }
  }

  test("tableStamp resolves through Hadoop: file: URIs stamp, values match the local-walk fingerprint") {
    withTempRoot { root =>
      // a private copy of a table dir (never mutate the shared testdata)
      val tdir = root.resolve("tstamp").toString
      spark.range(10).coalesce(1).write.parquet(s"$tdir/documents.parquet")
      // drop the local-FS .crc sidecars: Hadoop's ChecksumFileSystem
      // hides them from listings while java.nio's walk counted them, so
      // they'd skew the parity check below. The driver's real tables
      // (pyarrow-written) carry no sidecars — their stamps are identical
      // under both walks, which is what this test pins.
      import scala.jdk.CollectionConverters._
      locally {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(tdir))
        try w.iterator().asScala.toVector
          .filter(_.getFileName.toString.endsWith(".crc"))
          .foreach(java.nio.file.Files.delete)
        finally w.close()
      }
      // a file: URI was unwalkable for the pre-r16 java.nio form (stamp
      // 0 -> the whole artifact layer silently degraded to inline
      // rebuilds); through Hadoop's FileSystem it must fingerprint, and
      // identically to the plain-path form
      val viaUri = graft.operators.Artifacts.tableStamp(s"file:$tdir", "documents")
      val viaPath = graft.operators.Artifacts.tableStamp(tdir, "documents")
      assert(viaUri != 0L && viaUri == viaPath,
        s"file: URI stamp $viaUri must equal plain-path stamp $viaPath")
      // key-compatibility with the retired java.nio walk: same
      // max-mtime*31 + count fold over the same files, so existing
      // persisted artifacts keep their keys across the r16 swap (no
      // fleet-wide re-derive)
      val p = java.nio.file.Paths.get(tdir, "documents.parquet")
      val s = java.nio.file.Files.walk(p)
      val files =
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toVector
        finally s.close()
      val nioStamp = files
        .map(f => java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .foldLeft(0L)(math.max) * 31 + files.size
      assert(viaPath == nioStamp,
        s"Hadoop stamp $viaPath must equal the java.nio fingerprint $nioStamp")
      // rewrite sensitivity through the Hadoop path: bumping a part
      // file's mtime must change the stamp
      java.nio.file.Files.setLastModifiedTime(files.head,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5000))
      val s2 = graft.operators.Artifacts.tableStamp(s"file:$tdir", "documents")
      assert(s2 != 0L && s2 != viaUri, "an mtime rewrite must re-stamp")
    }
  }

  test("prune never touches non-graft directories: /tmp-as-root is safe under --apply") {
    withTempRoot { root =>
      // a foreign tenant's directory: old, markerless — the exact shape
      // prune would classify as an aged husk if it walked it
      val alien = root.resolve("spark-0a1b2c3d").resolve("scratch")
      java.nio.file.Files.createDirectories(alien)
      java.nio.file.Files.writeString(alien.resolve("data.bin"), "not ours")
      Seq(root.resolve("spark-0a1b2c3d"), alien).foreach(p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 48L * 60 * 60 * 1000)))
      val dec = graft.operators.Artifacts
        .prune(spark, root.toString, graceMs = 60L * 60 * 1000, dryRun = false)
      assert(dec.isEmpty, s"non-graft families must not even be decided on: $dec")
      assert(java.nio.file.Files.exists(alien.resolve("data.bin")),
        "foreign data must survive prune --apply")
    }
  }

  test("prune removes only dead stamps: rewrite the dataset, old artifact dies, live one stays") {
    withTempRoot { root =>
      import scala.jdk.CollectionConverters._
      // a private dataset copy this test may rewrite
      val ds = java.nio.file.Files.createTempDirectory("graft_prune_ds")
      try {
        val src = java.nio.file.Paths.get(dir, "documents.parquet")
        val dst = ds.resolve("documents.parquet")
        val walk = java.nio.file.Files.walk(src)
        try walk.iterator().asScala.foreach { p =>
          val t = dst.resolve(src.relativize(p).toString)
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else java.nio.file.Files.copy(p, t)
        } finally walk.close()
        val expected = shingleSet(SharedArtifacts.sharedShingles(spark, ds.toString))
        // rewrite: same bytes, bumped mtime ⇒ a NEW data stamp
        val files = {
          val w = java.nio.file.Files.walk(dst)
          try w.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_)).toVector
          finally w.close()
        }
        files.foreach(f => java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(
            java.nio.file.Files.getLastModifiedTime(f).toMillis + 7000)))
        assert(shingleSet(SharedArtifacts.sharedShingles(spark, ds.toString)) == expected)
        val fam = root.resolve("graft_shingle_table")
        def children = java.nio.file.Files.list(fam).iterator().asScala.toSeq
        assert(children.size == 2, s"two stamped artifacts expected, got $children")
        // dry-run decides but touches nothing
        val dry = graft.operators.Artifacts
          .prune(spark, root.toString, graceMs = 60L * 60 * 1000, dryRun = true)
        assert(dry.count(_.action == "would-delete") == 1, s"got $dry")
        assert(children.size == 2, "dry-run must not delete")
        // apply: the dead stamp goes, the live one stays and still serves
        val applied = graft.operators.Artifacts
          .prune(spark, root.toString, graceMs = 60L * 60 * 1000, dryRun = false)
        assert(applied.count(_.action == "delete") == 1, s"got $applied")
        assert(applied.count(_.action == "keep") == 1, s"got $applied")
        assert(children.size == 1, "exactly the live artifact must remain")
        assert(shingleSet(SharedArtifacts.sharedShingles(spark, ds.toString)) == expected)
      } finally {
        val w = java.nio.file.Files.walk(ds)
        try w.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        finally w.close()
      }
    }
  }

  test("artifact read-back equals a fresh build for every tokenization family") {
    withTempRoot { _ =>
      // canonical multiset form: any array column is sorted in place, so
      // build-order nondeterminism inside arrays can't fake a mismatch
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().toSeq.map { r =>
          (0 until r.length).map { i =>
            r.get(i) match {
              case s: scala.collection.Seq[_] =>
                s.map(String.valueOf).sorted.mkString("[", ",", "]")
              case x => String.valueOf(x)
            }
          }.mkString("|")
        }.sorted
      val docs = graft.Tables.documents(spark, dir)
      import graft.operators.{Dedup, TextAnalysis => TA}
      // first call commits the artifact; the compared call reads it back
      val families: Seq[(String, () => org.apache.spark.sql.DataFrame,
          () => org.apache.spark.sql.DataFrame)] = Seq(
        ("shingles", () => SharedArtifacts.sharedShingles(spark, dir),
          () => Dedup.shingleTable(docs, "text", "doc_id", n = 3)),
        ("winnow fps", () => SharedArtifacts.sharedWinnowFps(spark, dir),
          () => TA.winnowFingerprints(docs, "text", "doc_id", n = 3, w = 4)),
        ("source grams", () => SharedArtifacts.sharedSourceGrams(spark, dir),
          () => SharedArtifacts.sourceGrams(docs)),
        ("span rows", () => SharedArtifacts.sharedSpanRows(spark, dir),
          () => Dedup.spanPositionRows(docs, "text", "doc_id", n = 5)))
      families.foreach { case (name, shared, fresh) =>
        shared() // ensure committed
        val readBack = canon(shared())
        val rebuilt = canon(fresh())
        assert(readBack == rebuilt,
          s"$name: artifact read-back must equal a fresh build " +
            s"(${readBack.size} vs ${rebuilt.size} rows)")
        assert(readBack.nonEmpty, s"$name: parity check must not be vacuous")
      }
    }
  }

  test("PruneArtifacts CLI: dry-run by default, --apply deletes, bad flags fail loudly") {
    withTempRoot { root =>
      // make sure the suite session exists before the CLI's getOrCreate
      spark.range(1).count()
      val fam = root.resolve("graft_shingle_table")
      java.nio.file.Files.createDirectories(fam)
      val husk = fam.resolve("deadstamp00")
      java.nio.file.Files.createDirectories(husk)
      java.nio.file.Files.setLastModifiedTime(husk,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2L * 60 * 60 * 1000))
      def run(args: String*): (Int, String) = {
        val bos = new java.io.ByteArrayOutputStream()
        val ps = new java.io.PrintStream(bos)
        val code = graft.PruneArtifacts.run(args, ps, ps)
        ps.flush(); (code, bos.toString("UTF-8"))
      }
      val (dryCode, dryOut) = run(root.toString)
      assert(dryCode == 0 && dryOut.contains("would-delete") &&
        dryOut.contains("dry-run"), dryOut)
      assert(java.nio.file.Files.exists(husk), "dry-run must not delete")
      val (appCode, appOut) = run(root.toString, "--apply")
      assert(appCode == 0 && appOut.contains("1 deleted"), appOut)
      assert(!java.nio.file.Files.exists(husk), "--apply must delete the aged husk")
      assert(run("--bogus")._1 == 1)
      assert(run(root.toString, "--grace-ms", "notanumber")._1 == 1)
      // a negative grace window would make every in-flight temp "older
      // than the window" and reap a live writer's seconds-old temp —
      // rejected at the flag parser; 0 stays allowed (explicit
      // single-writer "nothing is in flight" cleanups)
      assert(run(root.toString, "--grace-ms", "-1")._1 == 1)
      assert(run(root.toString, "--grace-ms", "0")._1 == 0)
      assert(run()._1 == 1)
    }
  }

  test("artifact-backed sweep: later calls read the persisted pair table, never retokenize") {
    withTempRoot { _ =>
      // first call builds + commits graft_sweep_pairs / graft_hot_stats
      assert(DedupQueries.dedupSweep(spark, dir).collect().nonEmpty)
      // the second call's pair table must be a parquet scan of the
      // artifact with NO shingle tokenization or candidate self-join —
      // the whole point of persisting the sweep's dominant cost.
      // (dedupSweep itself localCheckpoints the pair table, which
      // truncates the visible lineage, so pin the pre-checkpoint read.)
      val plan = SharedArtifacts.sweepPairs(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("graft_sweep_pairs"),
        s"expected a parquet scan of the pair artifact in:\n$plan")
      assert(!plan.contains("rm_shingle_hashes"),
        s"the artifact-read path must not retokenize the corpus:\n$plan")
    }
  }

  test("an unwritable artifact root degrades to the inline build with IDENTICAL results") {
    // the artifact families are all DETERMINISTIC derived tables, so the
    // fallback (the commit fails, the entry point serves the inline
    // build) must be value-identical to the artifact-backed path —
    // the exact claim every shared* scaladoc makes
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toString).sorted
    val viaArtifact = withTempRoot { _ =>
      (rows(DedupQueries.dedupSweep(spark, dir)),
        rows(graft.SparkEntry.queries("q_pq_rerank")(spark, dir)))
    }
    val prev = spark.conf.getOption("spark.graft.index.root")
    // /dev/null/... fails every create/mkdir even for root, unlike a
    // chmod-400 dir which the sandbox's uid-0 user writes through
    spark.conf.set("spark.graft.index.root", "/dev/null/graft_broken_root")
    try {
      val (_, counted) = outcomes {
        assert(rows(DedupQueries.dedupSweep(spark, dir)) == viaArtifact._1,
          "sweep fallback must equal the artifact-backed sweep")
        assert(rows(graft.SparkEntry.queries("q_pq_rerank")(spark, dir)) == viaArtifact._2,
          "PQ fallback must equal the artifact-backed rerank")
      }
      assert(counted.getOrElse("commit_failed", 0L) > 0L,
        s"the fallback must be counted, counted $counted")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.index.root", v)
      case None => spark.conf.unset("spark.graft.index.root")
    }
  }

  test("unknown stamp: nothing is ever persisted, the inline build serves") {
    withTempRoot { root =>
      // a dir whose table files can't be walked fingerprints as stamp 0
      val ghost = "/nonexistent/graft_spec_ghost"
      val (e, counted) = outcomes(intercept[Exception] {
        SharedArtifacts.sharedShingles(spark, ghost).collect()
      })
      assert(counted.getOrElse("unstamped", 0L) > 0L,
        s"a stamp-0 call must be counted, counted $counted")
      // the inline path fails on the missing parquet (correct — the DATA
      // is absent), but the artifact root must stay untouched: nothing
      // may be persisted under an unfingerprintable dataset
      import scala.jdk.CollectionConverters._
      val produced = java.nio.file.Files.list(root).iterator().asScala.toSeq
      assert(produced.isEmpty,
        s"stamp-0 input must never persist artifacts, found $produced")
      assert(e != null)
    }
  }

  test("atomicCommit cross-JVM: two unorchestrated writer PROCESSES commit one certified artifact") {
    // the 8-writer test races THREADS (per-path monitors serialize them);
    // this races two real JVMs whose only coordination is the
    // filesystem — the fleet case the monitors cannot cover. A sync-file
    // barrier releases both writers together so the commits genuinely
    // overlap instead of serializing behind JVM startup.
    withTempRoot { root =>
      import scala.jdk.CollectionConverters._
      val target = root.resolve("race_family").resolve("artifact1")
      java.nio.file.Files.createDirectories(target.getParent)
      val syncDir = root.resolve("sync")
      java.nio.file.Files.createDirectories(syncDir)
      val javaBin = java.nio.file.Paths
        .get(sys.props("java.home"), "bin", "java").toString
      // forward this (forked, Spark-capable) JVM's --add-opens set —
      // Spark 4 on JDK 17 cannot boot a session without it
      val inArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toVector
      val opens = inArgs.indices.flatMap { i =>
        if (inArgs(i) == "--add-opens") Seq(inArgs(i), inArgs(i + 1))
        else if (inArgs(i).startsWith("--add-opens=")) Seq(inArgs(i))
        else Nil
      }
      def spawn(id: String): Process = {
        val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp",
          sys.props("java.class.path"), "graft.queries.AtomicCommitRaceMain",
          target.toString, syncDir.toString, id)
        val pb = new ProcessBuilder(cmd.asJava)
        pb.redirectErrorStream(true)
        pb.redirectOutput(syncDir.resolve(s"log-$id").toFile)
        pb.start()
      }
      val pa = spawn("a")
      val pb = spawn("b")
      def log(id: String): String =
        try java.nio.file.Files.readString(syncDir.resolve(s"log-$id"))
        catch { case scala.util.control.NonFatal(_) => "<no log>" }
      try {
        val readyDeadline = System.currentTimeMillis() + 120000
        def ready(id: String) =
          java.nio.file.Files.exists(syncDir.resolve(s"ready-$id"))
        while ((!ready("a") || !ready("b")) &&
            System.currentTimeMillis() < readyDeadline)
          Thread.sleep(50)
        assert(ready("a") && ready("b"),
          s"writers failed to start:\n--- a ---\n${log("a")}\n--- b ---\n${log("b")}")
        java.nio.file.Files.writeString(syncDir.resolve("go"), "go")
        assert(pa.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
          pb.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
          "writer processes did not exit")
        assert(pa.exitValue() == 0 && pb.exitValue() == 0,
          s"writer exits ${pa.exitValue()}/${pb.exitValue()}:\n--- a ---\n${
            log("a")}\n--- b ---\n${log("b")}")
        // exactly one certified artifact with a parseable provenance meta
        assert(graft.operators.Artifacts.markerExists(spark, target.toString))
        val meta = graft.operators.Artifacts.readMeta(spark, target.toString)
        assert(meta.exists(m => m.get("family").contains("race_spec") &&
          m.get("key").contains("k1") && m.get("stamp").contains("42")),
          s"meta not parseable: $meta")
        // the table is whole (one writer's complete commit, never a mix)
        assert(spark.read.parquet(target.toString).count() == 500)
        // the loser left nothing behind at the family level: no sibling
        // temps, no second artifact
        val siblings = java.nio.file.Files.list(target.getParent)
          .iterator().asScala.map(_.getFileName.toString).toVector.sorted
        assert(siblings == Vector("artifact1"),
          s"stray entries next to the artifact: $siblings")
      } finally { pa.destroyForcibly(); pb.destroyForcibly(); () }
    }
  }
}
