package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted, stamp-keyed artifacts: derived tables and trained models a
  * query builds once per dataset and later runs read back. Every
  * artifact family goes through one entry point, in two shapes:
  * [[model]] for a driver-side value and [[frame]] for a DataFrame.
  * Given a family, a dataset dir and the table the artifact derives
  * from, plus the family's `build` / `write(value, tmp)` /
  * `read(path)`, it owns the whole protocol:
  *   - the stamp: [[tableStamp]] of `dir/table`, so a rewritten table
  *     re-derives instead of serving stale data;
  *   - the path: `root/family/md5(($dir,$stamp):$key)`, where
  *     `root` is [[Ivf.indexRoot]] and `key` the family's format key
  *     from the caller's registry — the same map [[prune]] takes as
  *     `liveKeys`, so the key a writer records can never drift from the
  *     one the reaper treats as live. The root itself is not hashed, so
  *     a copied or moved root is still hit;
  *   - the in-JVM memo, with builds serialized per path;
  *   - the commit ([[atomicCommit]], with a [[MetaFile]] provenance
  *     record) and the read-back.
  *
  * Policy. An artifact is never the reason a query fails:
  *   - stamp 0 (the table can't be fingerprinted): never persisted or
  *     read back — a model is memoized in-JVM only, a frame re-builds
  *     per call;
  *   - a failed commit (e.g. an unwritable root) serves the inline
  *     build, and a frame family remembers the failure for the JVM;
  *   - a committed artifact that fails to read serves the inline build.
  * Every build is deterministic and round-trips parquet bit-exactly, so
  * each fallback is value-identical to the artifact it replaces — and
  * each is counted, per family, in [[outcomeCounts]], so a degraded run
  * is visible rather than only slower.
  *
  * The parquet job-success marker `_SUCCESS` is an artifact's
  * completeness CERTIFICATE: probing it (never the bare directory) makes
  * a half-written artifact read as "missing". Writes commit atomically —
  * into a dot-prefixed sibling temp, renamed into place only once
  * certified — so two fleet JVMs racing one path never certify a mix.
  * Everything resolves through Hadoop's FileSystem, so hdfs:/s3a:
  * artifact roots behave like local disk. */
object Artifacts {

  /** True when `dir/_SUCCESS` exists. A probe must never fail its
    * caller: any filesystem error reads as "missing" (the caller's
    * overwrite write then runs and heals whatever was wrong). */
  def markerExists(spark: SparkSession, dir: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
      fsFor(spark, p).exists(p)
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Provenance sidecar every [[atomicCommit]] leaves inside the
    * artifact directory: `key=value` lines (sorted). Underscore-prefixed
    * so parquet readers ignore it, exactly like `_SUCCESS`. */
  val MetaFile = "_GRAFT_META"

  /** Temp-directory name marker — dot-prefixed so an in-flight (or
    * orphaned) build is invisible to parquet readers even if a rename
    * race nests it inside a committed artifact. */
  private val TmpTag = ".inprogress-"
  private def isTmpName(name: String): Boolean =
    name.startsWith(".") && name.contains(TmpTag)

  /** The mtime+count fingerprint of `dir/table.parquet` — 0 only when
    * the table genuinely can't be walked (missing dir, listing error).
    * The stamp keys every persisted derived artifact so a rewritten
    * table re-derives instead of serving stale data; [[prune]]
    * recomputes it to decide which stamp is live. Resolved through
    * Hadoop's FileSystem (not java.nio), so `file:`/`hdfs:`/`s3a:`
    * table locations all fingerprint — the pre-r16 `Files.walk` form
    * stamped 0 for every non-local URI, silently degrading the whole
    * artifact layer to inline rebuilds at exactly the fleet scale it
    * exists for. On the local FS the mtimes are the same millisecond
    * values `Files.walk` produced, so sidecar-free tables (the driver's
    * pyarrow-written parquet) keep their exact stamps and no persisted
    * artifact re-keys; a locally spark-written table whose `.crc`
    * sidecars the old walk counted (Hadoop's ChecksumFileSystem hides
    * them) re-stamps once — a one-time deterministic re-derive, not a
    * correctness event. */
  def tableStamp(dir: String, table: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
      val it = p.getFileSystem(stampConf()).listFiles(p, /*recursive=*/ true)
      var maxMtime = 0L
      var n = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          maxMtime = math.max(maxMtime, st.getModificationTime)
          n += 1
        }
      }
      maxMtime * 31 + n
    } catch { case scala.util.control.NonFatal(_) => 0L }

  private def fsFor(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** One Hadoop Configuration per session for [[tableStamp]] — the stamp
    * runs on every [[model]]/[[frame]] call of every query, and
    * `newHadoopConf()` copies the full Spark conf each time (~10ms: a
    * measurable per-query tax across 160 bench queries). The cached copy
    * is keyed by session IDENTITY so a new session (new fs settings)
    * re-derives it; Hadoop-level fs settings changing INSIDE one session
    * is not a supported pattern anywhere in this codebase. Falls back to
    * a bare Configuration (resolves file: and absolute paths) when no
    * session is up. */
  private val stampConfCache = new java.util.concurrent.atomic.AtomicReference[
    (AnyRef, org.apache.hadoop.conf.Configuration)]()
  private def stampConf(): org.apache.hadoop.conf.Configuration = {
    val sess = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).orNull
    val cached = stampConfCache.get()
    if (cached != null && (cached._1 eq sess)) cached._2
    else {
      val c =
        if (sess != null) sess.sessionState.newHadoopConf()
        else new org.apache.hadoop.conf.Configuration()
      stampConfCache.set((sess, c))
      c
    }
  }

  private def writeMetaFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, meta: Map[String, String]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, MetaFile), true)
    try out.write(meta.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
  }

  /** True when `dir/_GRAFT_META` exists — CONSERVATIVE: any probe error
    * reads as "exists", because the only caller acting on this decides
    * whether a directory may be DELETED, and a transient IO error must
    * never authorize a delete. */
  def metaFileExists(spark: SparkSession, dir: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(dir, MetaFile)
      fsFor(spark, p).exists(p)
    } catch { case scala.util.control.NonFatal(_) => true }

  /** The [[MetaFile]] record of a committed artifact, if present and
    * readable. Never fails its caller. */
  def readMeta(spark: SparkSession, dir: String): Option[Map[String, String]] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir, MetaFile)
      val fs = fsFor(spark, p)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val chunk = new Array[Byte](8192)
            var n = in.read(chunk)
            while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
            buf.toByteArray
          } finally in.close()
        Some(new String(bytes, "UTF-8").linesIterator
          .filter(_.contains("=")).map { l =>
            val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
          }.toMap)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Atomically commit an artifact directory: `write` builds into a
    * dot-prefixed sibling temp path on the same filesystem, and the temp
    * is renamed to `path` only once `certified` accepts it — so `path`
    * NEVER holds a certified mix of two writers' files. Concurrency
    * story (the round-14 advice case — two fleet JVMs racing one
    * uncertified path): both build temps; whoever renames first wins;
    * the loser's rename either fails (destination exists) or nests its
    * dot-prefixed temp inside the winner's directory where parquet
    * readers ignore it — either way the loser discards and the re-probe
    * reports the winner's commit. Crash story: a death before rename
    * leaves only an invisible temp (the final path is untouched); a
    * death after rename leaves a fully certified artifact — there is no
    * state in between, which is the point. Never throws: a read-only or
    * failing artifact root must not fail the query — the caller falls
    * back to its inline build on `false`. */
  def atomicCommit(spark: SparkSession, path: String,
      meta: Map[String, String] = Map.empty,
      certified: (SparkSession, String) => Boolean = markerExists)(
      write: String => Unit): Boolean = {
    if (certified(spark, path)) return true
    try {
      val dst = new org.apache.hadoop.fs.Path(path)
      val fs = fsFor(spark, dst)
      val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
        s".${dst.getName}$TmpTag${java.lang.ProcessHandle.current().pid()}-${System.nanoTime()}")
      try {
        write(tmp.toString)
        if (!certified(spark, tmp.toString)) {
          fs.delete(tmp, true); return certified(spark, path)
        }
        if (meta.nonEmpty) writeMetaFile(fs, tmp, meta)
        // lost the race while building? the winner's artifact serves
        if (certified(spark, path)) { fs.delete(tmp, true); return true }
        // clear an UNCERTIFIED PRE-PROTOCOL husk so the rename lands at
        // the final name instead of nesting under it — but ONLY when the
        // directory is provably not an atomic-protocol artifact: no
        // certificate AND no provenance meta FILE (probed directly —
        // readMeta's parse fallback must not be used here, because it
        // returns None on a transient read error too, and that would
        // delete a meta-bearing dir the policy promises to leave for the
        // prune reaper). An atomic writer can never leave dst in that
        // state (its rename lands marker and meta together or not at
        // all), so this delete cannot hit a concurrent winner except in
        // the probe→delete instant — and even then both writers built
        // the SAME deterministic table, so the final state is a
        // certified, equivalent artifact. A reader PLANNING its scan in
        // that one-flap instant catches the FileNotFound and falls back
        // to its inline build (the entry point's read-back — footer and
        // listing reads are eager, so plan-time coverage is what it
        // has). A reader already past planning and mid-action would
        // fail the task instead; that window requires the file set to
        // change between plan and action, which only a concurrent
        // `prune --apply` (not this husk-delete of a dir no certified
        // reader can have planned against) can do — hence prune's rule
        // that --apply must not run concurrently with readers from a
        // build whose keys it would reap (see [[prune]]).
        if (fs.exists(dst) && !certified(spark, path) &&
            !metaFileExists(spark, path)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst)) fs.delete(tmp, true)
        else if (!certified(spark, path))
          // rename "succeeded" but the certificate is not at the final
          // path — the HDFS move-INTO-existing-dir semantics nested the
          // temp under a concurrent winner; the nested dot-dir is
          // invisible to readers, drop it
          try fs.delete(new org.apache.hadoop.fs.Path(dst, tmp.getName), true)
          catch { case scala.util.control.NonFatal(_) => () }
        certified(spark, path)
      } catch {
        case scala.util.control.NonFatal(_) =>
          try fs.delete(tmp, true)
          catch { case scala.util.control.NonFatal(_) => () }
          certified(spark, path)
      }
    } catch { case scala.util.control.NonFatal(_) => certified(spark, path) }
  }

  /** A driver-side model artifact of `family`, derived from
    * `dir/table`: memoized per path in this JVM, else read back from a
    * committed artifact (`certified` probes its marker — pass the
    * family's probe when the marker sits in a subdirectory), else built,
    * committed through `write(value, tmp)` and returned. See the object
    * doc for the stamp-0 and fallback policy. */
  def model[V](spark: SparkSession, keys: Map[String, String], family: String,
      dir: String, table: String,
      certified: (SparkSession, String) => Boolean = markerExists)(
      build: => V)(write: (V, String) => Unit, read: String => V): V = {
    val site = new Site(spark, family, keys(family), dir, table)
    var built = false
    def inline = { built = true; build }
    val v = site.once[V] {
      if (site.stamp == 0L) inline
      else if (certified(spark, site.path)) site.readBack(read, inline)
      else { val m = inline; site.commit(certified)(write(m, _)); m }
    }
    if (site.stamp == 0L) site.note("unstamped")
    else if (!built) site.note("hit")
    v
  }

  /** A DataFrame artifact of `family`, derived from `dir/table`. A
    * DataFrame is bound to the session that planned it, so the memo
    * records only that the path committed (or failed to), and every call
    * re-creates the read. By default the build itself is written and
    * read back through [[graft.Tables.readCachedSchema]]. The default
    * write is deliberately NOT rebalanced: a multi-file artifact was measured a
    * net loss at bench scale (32 tiny files → 32-map-task consumer
    * stages each paying ~150ms of fixed scan cost, q_winnow_pairs 0.77s
    * → 1.1s+); consumer parallelism comes from the consumers' own
    * exchanges, and at fleet scale the build's shuffle already writes
    * many byte-sized files. */
  def frame(spark: SparkSession, keys: Map[String, String], family: String,
      dir: String, table: String,
      write: (DataFrame, String) => Unit =
        (df, tmp) => df.write.mode("overwrite").parquet(tmp),
      read: (SparkSession, String) => DataFrame = graft.Tables.readCachedSchema)(
      build: => DataFrame): DataFrame = {
    val site = new Site(spark, family, keys(family), dir, table)
    if (site.stamp == 0L) { site.note("unstamped"); return build }
    var built = false
    def inline = { built = true; build }
    val committed = site.once[Boolean](
      markerExists(spark, site.path) || site.commit(markerExists)(write(inline, _)))
    val df =
      if (committed) site.readBack(read(spark, _), inline)
      else { if (!built) site.note("commit_failed"); inline }
    if (!built) site.note("hit")
    df
  }

  /** Where `family`'s artifact derived from `dir/table` lives under the
    * session's artifact root. */
  def path(spark: SparkSession, keys: Map[String, String], family: String,
      dir: String, table: String): String =
    pathFor(Ivf.indexRoot(spark), family, keys(family), dir,
      tableStamp(dir, table))

  // the one path derivation
  private def pathFor(root: String, family: String, key: String, dir: String,
      stamp: Long): String =
    s"$root/$family/${dirName(dir, stamp.toString, key)}"

  // an artifact directory's name, from what its [[MetaFile]] records
  private def dirName(dir: String, stamp: String, key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"($dir,$stamp):$key".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Calls per (family, outcome) in this JVM. A call records:
    *   - `hit`: served from the memo or a committed artifact, no build;
    *   - `build`: built and committed;
    *   - `commit_failed`: served the inline build because the commit
    *     failed (a frame family records it on every later call too);
    *   - `read_fallback:<exception class>`: a committed artifact failed
    *     to read, so the inline build served;
    *   - `unstamped`: the table has stamp 0, so nothing persisted. */
  def outcomeCounts: Map[(String, String), Long] = {
    import scala.jdk.CollectionConverters._
    outcomes.asScala.map { case (k, n) => k -> n.sum() }.toMap
  }

  private val outcomes = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.util.concurrent.atomic.LongAdder]()
  // per path: a model's value, or whether a frame's artifact committed
  private val memo = scala.collection.concurrent.TrieMap.empty[String, Any]
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** One entry-point call: the stamp, the one path derivation, and the
    * memo, commit, read-back and counting around it. */
  private final class Site(spark: SparkSession, family: String, key: String,
      dir: String, table: String) {
    val stamp: Long = tableStamp(dir, table)
    val path: String = pathFor(Ivf.indexRoot(spark), family, key, dir, stamp)

    def note(outcome: String): Unit =
      outcomes.computeIfAbsent((family, outcome),
        _ => new java.util.concurrent.atomic.LongAdder()).increment()

    /** `compute` at most once per path in this JVM. Builds are serialized
      * per path (TrieMap.getOrElseUpdate only makes the INSERT atomic —
      * two first callers would both run an expensive build); the monitor
      * is dropped once the entry exists, so the lock map stays bounded
      * by in-flight builds. A build that throws memoizes nothing. */
    def once[A](compute: => A): A = {
      val lock = buildLocks.computeIfAbsent(path, _ => new Object)
      val v = lock.synchronized(memo.getOrElseUpdate(path, compute))
      buildLocks.remove(path)
      v.asInstanceOf[A]
    }

    def commit(certified: (SparkSession, String) => Boolean)(
        write: String => Unit): Boolean = {
      val ok = atomicCommit(spark, path,
        Map("family" -> family, "dataset_dir" -> dir, "table" -> table,
          "stamp" -> stamp.toString, "key" -> key), certified)(write)
      note(if (ok) "build" else "commit_failed")
      ok
    }

    /** Reading plans eagerly (footers, listings), so a corrupt or
      * vanished artifact throws here and the inline build serves. */
    def readBack[V](read: String => V, inline: => V): V =
      try read(path)
      catch { case scala.util.control.NonFatal(e) =>
        note(s"read_fallback:${e.getClass.getName}"); inline }
  }

  /** One [[prune]] decision: `action` is "delete" (or "would-delete"
    * under dryRun) / "keep", with the reason spelled out. */
  final case class PruneDecision(path: String, action: String, reason: String)

  /** Garbage-collect an artifact root (`Ivf.indexRoot` layout:
    * `root/<family>/<keyed-dir>`): every data rewrite re-keys its
    * artifacts under a new stamp and orphans the previous stamp's parquet
    * forever, so at fleet scale the root becomes an unbounded graveyard
    * without a reaper. Policy, per child of each family:
    *   - dot-prefixed `.inprogress-` temps: in-flight writers — deleted
    *     only once older than `graceMs`.
    *   - uncertified dirs (no `_SUCCESS` at the dir or one level down —
    *     the IVF/BPE subdir layouts): crash husks — deleted only once
    *     older than `graceMs`.
    *   - certified dirs WITH a [[MetaFile]]: live iff the recorded
    *     table's recomputed stamp still matches AND (when `liveKeys`
    *     names the family) the recorded format key is the current one —
    *     a format bump re-keys every artifact path, so the old-format
    *     artifact keeps a live stamp forever while nothing can ever
    *     read it; `liveKeys` (family → the key THIS build writes) is
    *     what lets the reaper see those dead-key orphans. Dead-key
    *     deletes are grace-windowed like temps/husks (a mixed-version
    *     fleet's other build writes keys this build doesn't know), and
    *     a meta with NO key line is incomplete provenance → kept. Under
    *     the same `liveKeys` and grace rule a directory whose name is not
    *     the derivation of its own meta (`dataset_dir`, `stamp`, `key`)
    *     is a stray name nothing can reach — e.g. the earlier layout
    *     that hashed the root into the name. A recomputed
    *     stamp of 0 (the table can no longer be fingerprinted from
    *     here) always KEEPS — never delete what can't be attributed.
    *   - certified dirs WITHOUT meta (pre-round-15 artifacts): kept.
    * Ages for temps and husks are measured from the NEWEST mtime found
    * anywhere under the directory, not the directory's own mtime — a
    * live writer keeps appending part files, so a build legitimately
    * running longer than the grace window is never reaped mid-write;
    * only a directory nothing has touched for `graceMs` is. `dryRun`
    * returns the decisions without deleting anything.
    *
    * Operational constraint: do NOT run `--apply` concurrently with
    * readers from an OLDER build whose directories this build would
    * reap: those whose keys `liveKeys` does not name, and every
    * stray-named one — after the upgrade that stopped hashing the root
    * into the name, that is EVERY directory the older build reads. The
    * entry point's read fallback covers PLAN-time failures (DataFrame
    * construction reads footers eagerly); a reader already mid-action
    * when its directory is deleted fails the task with a FileNotFound
    * instead of rebuilding inline. Same-build readers are safe (their
    * keys are live and their names derived by construction); the grace
    * window protects in-flight writers, not in-flight reads of dead-key
    * or stray-named artifacts. */
  def prune(spark: SparkSession, root: String, graceMs: Long,
      dryRun: Boolean,
      liveKeys: Map[String, String] = Map.empty): Seq[PruneDecision] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = fsFor(spark, rootPath)
    if (!fs.exists(rootPath)) return Seq.empty
    val now = System.currentTimeMillis()
    val decisions = Vector.newBuilder[PruneDecision]
    // marker probe through the root's already-resolved FileSystem:
    // markerExists copies a fresh Hadoop conf per call, and prune makes
    // several probes per child on a large root
    def marked(dir: org.apache.hadoop.fs.Path): Boolean =
      try fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))
      catch { case scala.util.control.NonFatal(_) => false }
    def certifiedDeep(dir: org.apache.hadoop.fs.Path): Boolean =
      marked(dir) ||
        (try fs.listStatus(dir).exists(st => st.isDirectory &&
            !st.getPath.getName.startsWith(".") &&
            marked(st.getPath))
         catch { case scala.util.control.NonFatal(_) => false })
    // newest mtime anywhere under `st` — the liveness signal for temps
    // and husks. Takes the FileStatus the caller already holds from its
    // parent's listing (no redundant getFileStatus round trip per dir on
    // a remote FS). Any listing error reads as "touched now" (keep): an
    // unreadable directory must never age into deletion.
    def newestMtime(st: org.apache.hadoop.fs.FileStatus): Long =
      try {
        if (!st.isDirectory) st.getModificationTime
        else fs.listStatus(st.getPath)
          .foldLeft(st.getModificationTime)((acc, c) =>
            math.max(acc, newestMtime(c)))
      } catch { case scala.util.control.NonFatal(_) => now }
    def decide(child: org.apache.hadoop.fs.FileStatus): PruneDecision = {
      val p = child.getPath
      val name = p.getName
      def del(reason: String) =
        PruneDecision(p.toString, if (dryRun) "would-delete" else "delete", reason)
      def agedDel(kind: String): PruneDecision = {
        val ageMs = now - newestMtime(child)
        if (ageMs > graceMs) del(s"$kind (idle ${ageMs}ms)")
        else PruneDecision(p.toString, "keep", s"$kind within grace window")
      }
      if (isTmpName(name))
        agedDel("in-progress temp")
      else if (!certifiedDeep(p)) agedDel("uncertified husk")
      else readMeta(spark, p.toString) match {
        case None =>
          PruneDecision(p.toString, "keep", "certified, no provenance meta")
        case Some(m) =>
          (m.get("dataset_dir"), m.get("table"), m.get("stamp")) match {
            case (Some(d), Some(t), Some(s)) =>
              val cur = tableStamp(d, t)
              val family = m.get("family").getOrElse(p.getParent.getName)
              // dead-key only when the meta RECORDS a key that differs
              // from this build's registered one: a meta missing its key
              // line (truncation) is incomplete provenance → keep, per
              // the never-delete-what-can't-be-attributed doctrine
              val deadKey = m.get("key").exists(k0 =>
                liveKeys.get(family).exists(_ != k0))
              val strayName = liveKeys.contains(family) &&
                m.get("key").exists(k0 => name != dirName(d, s, k0))
              // dead keys and stray names are grace-windowed like
              // temps/husks: in a MIXED-VERSION fleet (rolling
              // upgrade/rollback) another build's reaper sees this
              // build's fresh artifacts as unrecognized keys or names — a
              // just-written artifact must not be destroyed by the other
              // version's reaper. Operators should size --grace-ms to at
              // least the upgrade window.
              if (cur == 0L)
                PruneDecision(p.toString, "keep",
                  s"cannot re-fingerprint $d/$t from here")
              else if (deadKey)
                agedDel(s"dead format key ${m("key")}, live is ${liveKeys(family)}")
              else if (s != cur.toString) del(s"dead stamp $s (live is $cur)")
              else if (strayName)
                agedDel(s"stray name, its meta derives ${dirName(d, s, m("key"))}")
              else PruneDecision(p.toString, "keep", "live stamp")
            case _ =>
              PruneDecision(p.toString, "keep", "incomplete provenance meta")
          }
      }
    }
    def applyDecision(d: PruneDecision,
        p: org.apache.hadoop.fs.Path): Unit =
      if (d.action != "delete") decisions += d
      else {
        // Hadoop's recursive delete reports failure by RETURNING false
        // (FileUtil.fullyDelete), not only by throwing — recording the
        // "delete" row regardless would make the CLI summary claim
        // space was reclaimed when the husk is still on disk
        val deleted =
          try fs.delete(p, true)
          catch { case scala.util.control.NonFatal(_) => false }
        decisions +=
          (if (deleted) d
           else PruneDecision(p.toString, "keep",
             s"delete FAILED (was: ${d.reason}) — left in place"))
      }
    for {
      // ONLY graft_-prefixed families are ever ours: the default artifact
      // root is java.io.tmpdir, so an unguarded walk would classify any
      // tenant's /tmp directory as a "family" and reap its markerless
      // subdirectories as husks — `prune /tmp --apply` must never be able
      // to delete non-graft data
      fam <- fs.listStatus(rootPath)
      if fam.isDirectory && fam.getPath.getName.startsWith("graft_")
      child <- try fs.listStatus(fam.getPath)
               catch { case scala.util.control.NonFatal(_) =>
                 Array.empty[org.apache.hadoop.fs.FileStatus] }
      if child.isDirectory
    } {
      val d = decide(child)
      applyDecision(d, child.getPath)
      // a rename race can nest the LOSER's dot-temp inside the winner's
      // committed artifact (invisible to readers, but disk nonetheless) —
      // sweep those under the same temp grace rule without ever touching
      // the artifact's own certified content
      if (d.action == "keep")
        for {
          nested <- try fs.listStatus(child.getPath)
                    catch { case scala.util.control.NonFatal(_) =>
                      Array.empty[org.apache.hadoop.fs.FileStatus] }
          if nested.isDirectory && isTmpName(nested.getPath.getName)
        } {
          val age = now - newestMtime(nested)
          if (age > graceMs)
            applyDecision(PruneDecision(nested.getPath.toString,
              if (dryRun) "would-delete" else "delete",
              s"temp nested in committed artifact by a rename race (idle ${age}ms)"),
              nested.getPath)
          else decisions += PruneDecision(nested.getPath.toString, "keep",
            "nested temp within grace window")
        }
    }
    decisions.result()
  }
}
