package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one place an intermediate frame is held: every eager checkpoint and
  * every persist/unpersist pair under `src/main` goes through here, so the
  * trade below is made in one place and each call site keeps only its own
  * reason (how many consumers read the frame, how small it is).
  *
  * The trade, for both entry points:
  *  - the stored blocks are executor-local and not replicated;
  *  - [[pin]] cuts the lineage, so losing an executor that holds a pinned
  *    block fails the job instead of recomputing the block (a [[during]]
  *    block keeps its lineage and is recomputed);
  *  - hence the narrow-frame rule: hold a frame only where its stored bytes
  *    are far below the cost of recomputing it — an id and a few numerics
  *    per document, a vocabulary-sized count table, a handful of rows.
  *    Barriers on corpus-instance-sized frames (the span-family gram
  *    instances, the boilerplate shingle arrays) were tried and measured
  *    slower: storing them cost more than the re-scan they saved;
  *  - a pinned frame is a `LogicalRDD` leaf with no file statistics: the
  *    planner sizes it at `defaultSizeInBytes`, so it is never broadcast by
  *    size, and a guard that reads leaf file sizes (`Similarity.fanOutToCores`)
  *    never fires on it.
  *
  * There is deliberately no option: no two callers need a different storage
  * level, and a replicated level would double the stored bytes at every
  * site to buy back a recompute that the narrow-frame rule keeps cheap. */
object Materialize {

  /** Eager `localCheckpoint`: runs `ds` now, stores its partitions as
    * executor-local blocks and returns a frame that reads them, so every
    * later consumer starts from the stored rows instead of re-running the
    * plan. Its jobs carry the caller's line as their call site, as a
    * direct `localCheckpoint` call would, so a job profile still names
    * the site that pinned. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val prev = sc.getLocalProperty(CallSiteKey)
    val caller = new Throwable().getStackTrace
      .find(!_.getClassName.startsWith(getClass.getName))
    caller.foreach(f =>
      sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    try ds.localCheckpoint()
    finally sc.setLocalProperty(CallSiteKey, prev)
  }

  // SparkContext's short call-site property, which `setCallSite` sets
  private val CallSiteKey = "callSite.short"

  /** Persists `ds` at `MEMORY_AND_DISK` for the extent of `use` and
    * releases it afterwards, also when `use` throws. The persist is lazy:
    * the first action inside `use` fills it and later ones read it. Returns
    * whatever `use` returns — a pinned frame, a driver-side model, a `Seq`;
    * a lazy frame returned from here would re-run without the persist. */
  def during[T, R](ds: Dataset[T])(use: Dataset[T] => R): R = {
    val held = ds.persist(StorageLevel.MEMORY_AND_DISK)
    try use(held)
    finally { held.unpersist(blocking = false); () }
  }
}
