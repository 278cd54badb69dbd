package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic training-shard assignment — the "publish the corpus"
  * step a pipeline runs after cleaning/dedup/mixing: every document gets
  * a content-stable shard in [0, nShards), and a manifest states what
  * each shard holds (the numbers a dataset card and a training-loader
  * config both need).
  *
  * The assignment is [[Sampling.hashBucket]] (md5 of the id), NOT
  * `spark_partition_id`/`rand`: re-running the job, changing the input
  * partitioning, or regenerating one shard cannot move a document — the
  * property that makes shard-level resume/retry of a training run safe.
  * At 100 TB, nShards is chosen for the loader (shard count ≫ data-
  * parallel workers, shard size ~1–10 GB), never for Spark. */
object Sharding {

  /** `df` plus a deterministic `shard` column in [0, nShards). Narrow. */
  def assignShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    df.withColumn("shard", Sampling.hashBucket(col(idCol), nShards))
  }

  /** Per-shard manifest over a document corpus: document count,
    * whitespace-token count, and character count — one narrow projection
    * plus ONE map-side-combined aggregation to nShards rows. The token
    * sum is the number a token-budgeted trainer schedules against; the
    * doc/char sums are the sanity bounds a loader asserts at startup. */
  def shardManifest(docs: DataFrame, textCol: String, idCol: String,
      nShards: Int): DataFrame =
    assignShards(docs, idCol, nShards)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast(LongType)).as("n_tokens"),
        sum(length(col(textCol)).cast(LongType)).as("n_chars"))
}
