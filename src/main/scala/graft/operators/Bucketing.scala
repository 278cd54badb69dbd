package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (pre-partitioned, co-located) tables — the answer to "this
  * join key is joined every day; why does every query re-shuffle 100 TB?"
  *
  * `df.write.bucketBy(n, key).sortBy(key)` hash-partitions the rows into
  * `n` bucket files per directory and records the bucket spec in the
  * catalog. A later equi-join between two tables bucketed on the SAME key
  * into the SAME bucket count plans as a sort-merge join with ZERO
  * Exchange on either side: each task zips bucket i of the left with
  * bucket i of the right. The shuffle is paid once at write time and
  * amortized over every subsequent join/aggregation on that key — at
  * 100 TB this is the difference between a nightly pipeline that
  * re-shuffles the fact table per query and one that never shuffles it
  * at all. (Sorted buckets can also drop the per-task Sort — the files
  * stream-merge directly — once the deployment vouches for one sorted
  * file per bucket via `spark.sql.legacy.bucketedTableScan.outputOrdering`;
  * [[ensureBucketed]]'s repartition-first write guarantees exactly that
  * layout, and PlanQualitySpec pins both levels of the claim.)
  *
  * Scale notes:
  *   - bucket count is a layout decision: ~(table size / healthy task
  *     input) at the TARGET scale, NOT the sandbox scale — the sandbox
  *     keeps the count small only so each bucket file is non-trivial.
  *   - both sides must agree on count (or divide evenly; Spark rescales
  *     the smaller) and key — [[ensureBucketed]] takes both explicitly so
  *     the layout contract is in the call site, not implicit.
  *   - bucket pruning: an equality predicate on the bucket key scans ONE
  *     bucket file per partition (`spark.sql.sources.bucketing.enabled`).
  */
object Bucketing {

  /** Table name for a bucketed copy of source data under `dir`: the base
    * name suffixed with a digest of the source location, so one session
    * can hold bucketed copies of SEVERAL scale factors side by side
    * (Bench warms up on sf0.001 and measures sf0.1 in one session — an
    * unsuffixed name would serve the warm-up's tiny copy to the measured
    * query). */
  def tableFor(base: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"${base}_$digest"
  }

  /** Materialize `df` as a bucketed, bucket-sorted external parquet table
    * named `table` under `<indexRoot>/graft-bucketed/<table>`, registering
    * it in the session catalog; no-op when this session already has the
    * table (the data is re-derivable, so "exists in catalog" is the cache
    * test — a fresh session rewrites rather than trusting files another
    * JVM may have half-written, the same crash-consistency posture as
    * [[Ivf.indexExists]]'s marker probe but with zero marker bookkeeping,
    * because unlike a trained index the bucketed copy costs one scan).
    * Idempotent per session; safe to call from every query that wants
    * the bucketed layout.
    *
    * The input is repartitioned on the bucket key into exactly `buckets`
    * partitions before the write: `repartition(n, key)` and the bucket-id
    * function use the SAME murmur3-mod-n placement, so every task holds
    * exactly one bucket's rows and each bucket lands in ONE file. Without
    * this, every write task emits a file per bucket it touches —
    * bucket-sortedness across multiple files per bucket is lost, and the
    * downstream merge join re-inserts per-task Sorts (keeping only the
    * no-Exchange half of the win). */
  def ensureBucketed(spark: SparkSession, df: => DataFrame, table: String,
      key: String, buckets: Int): Unit = synchronized {
    if (!spark.catalog.tableExists(table)) {
      val root = Ivf.indexRoot(spark)
      graft.sources.Sinks.writeBucketed(
        df.repartition(buckets, org.apache.spark.sql.functions.col(key)),
        table, key, buckets, sortCols = Seq(key),
        path = Some(s"$root/graft-bucketed/$table"))
    }
  }
}
