package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor operators over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path.
  *
  * Vector math runs in native codegen'd expressions
  * ([[graft.functions.CosineSimilarity]], [[graft.functions.HyperplaneBuckets]])
  * that accumulate in ascending index order — deterministic, and
  * bit-identical to a sequential fold (and the DuckDB oracle's
  * LIST_COSINE_SIMILARITY / left-associated projection sums).
  *
  * Scale notes: brute force is a broadcast-nested-loop — right for a small
  * query set against a big corpus (queries broadcast, corpus scanned once).
  * For corpus×corpus at 100 TB, hyperplane LSH buckets the vectors so the
  * join is bucket-equi (shuffle on bucket id) instead of all-pairs; recall
  * is tuned by the number of hyperplanes and probes.
  */
object Similarity {

  /** Spread an under-partitioned scoring side to core count. The test
    * inputs are single-row-group parquet, and parquet cannot split below a
    * row group — so every map-side stage before the first exchange
    * (including the per-pair cosine scoring and its top-k pre-sort, the
    * dominant compute of the exhaustive ANN paths) runs on ONE task of a
    * 32-core box. The guide's cure for an unsplittable input is
    * "repartition immediately after the read"; doing it at the READ is a
    * net loss (measured: the repartition's own map side is the single
    * task, so it pays full serialization for every query whether or not
    * anything downstream is expensive), so it is applied surgically to
    * the side feeding a per-pair scoring stage, where the shuffled bytes
    * are a few hundred KB and the unlocked stage is the query's dominant
    * cost. Self-disabling at scale: a real corpus scans as ≥ cores
    * partitions, the guard never fires, and no payload is shuffled. The
    * target derives from `defaultParallelism`, so lower-core driver runs
    * fan out to THEIR core count.
    *
    * Precondition: `df`'s leaves are file scans (parquet) that carry
    * file-size statistics. A stat-less leaf — a `LogicalRDD`, as a
    * `localCheckpoint` produces — reports `defaultSizeInBytes`, so the
    * guard never fires there and the side silently stays under-partitioned.
    * Every current caller feeds a parquet scan. */
  private[graft] def fanOutToCores(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // "Would this side scan as fewer than `target` partitions?" is
    // answered from the LEAF file statistics instead of the former
    // `df.rdd.getNumPartitions` probe: that probe physically planned the
    // subtree a second time on the driver at every query construction
    // (analyzer + optimizer + planner + AQE prep — a pure fixed tax on
    // every ANN query, r17). The splitter packs one scan partition per
    // maxPartitionBytes of file bytes, so leaf bytes under
    // target × maxPartitionBytes imply an under-partitioned scan; leaf
    // stats (not the projected estimate, which column pruning shrinks)
    // mirror what the splitter sees. Same decisions at both ends: the
    // test corpus is a few MB ⇒ fan out; a fleet corpus is ≥ TBs ⇒ the
    // guard never fires and no payload is shuffled.
    // With `keys`, spread by HASH of the keys instead of round-robin: a
    // keyless repartition(n) pays a per-task determinism sort of its full
    // input (spark.sql.execution.sortBeforeRepartition) that a hash
    // repartition does not, and a key that matches the consumer's
    // partitioning requirement satisfies it outright (no second
    // exchange). Same guard: a no-op at scale.
    val maxPart = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (leafBytes >= BigInt(maxPart) * target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  /** Repartition by `cols` with an EXPLICIT partition count (the session's
    * spark.sql.shuffle.partitions) — the opt-out from AQE partition
    * coalescing for a compute-dense exchange. AQE sizes post-shuffle
    * partitions by BYTES; an exchange whose downstream pipeline does
    * per-row set intersections / vector math over narrow keys carries
    * KBs-per-second-of-compute and gets folded onto 1-3 tasks of a
    * 32-core box. A user-specified partition count is exempt from
    * coalescing (REPARTITION_BY_NUM), and N comes from the conf the
    * operator already tunes per deployment (the driver's bench sets it to
    * the core count), so the pin is scale-adaptive, not a local constant.
    * Keys are unchanged — results never depend on partition layout. */
  private[graft] def pinByKey(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      cols: _*)

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosineSimilarity(a, b)

  private def asDouble(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Exact cosine top-k: each of `nQueries` query vectors against the whole
    * corpus. The query side is tiny and broadcast; ranking is a window over
    * the per-query candidate set. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      nQueries: Int, k: Int): DataFrame = {
    // NO fanOutToCores here (r16 added it alongside knnJoin's; r17
    // re-adjudicated under the driver's cold-JVM full-suite protocol and
    // REVERTED it for THIS path only): with a small query set (the
    // declared caller scores 50 queries x k=5) the per-corpus-row work is
    // ~50 cosines — too light to repay serializing the whole corpus out
    // of the single-row-group scan task (q_similarity_topk medians
    // 0.60-0.66 s fanned vs 0.47-0.59 s unfanned across 4 paired runs;
    // the driver's r16 run measured the same 0.79x). knnJoin KEEPS its
    // fan-out: its query side is corpus-scale, so per-row scoring work
    // there is ~1000x heavier and the spread repays the exchange
    // (q_knn_labels 2.01x on the driver's own r16 run).
    val corpus =
      emb.select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cvec"))
    val queries = emb.filter(col(idCol) < nQueries)
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"), col("cid"), col("sim"))
  }

  /** Cross-table exact k-NN join: every row of `queries` against the whole
    * `corpus` (two different tables — the retrieval shape: eval queries vs
    * a document index, new batch vs yesterday's corpus). The query side is
    * broadcast when it fits — it must be the SMALL side: every executor
    * holds all of it in memory, and a query table past the broadcast limit
    * (`spark.sql.maxBroadcastTableSize`, default 8 GB) or executor heap
    * fails the job with a broadcast OOM, not a graceful fallback. The
    * `maxBroadcastRows` bound (default 1M rows — ~½ GB at 64 float dims)
    * decides the shape: within it, the corpus streams through one narrow
    * scan against the broadcast query table; past it the join degrades to
    * a partitioned cartesian (both sides shuffled, each reducer scoring a
    * query-block × corpus-block tile) — the operator stays total instead
    * of failing, at the all-pairs cost that is inherent to exact k-NN with
    * a corpus-scale query set. Prefer lshTopK/Ivf.topKWith there: they never
    * broadcast vectors and never go all-pairs. Deciding the shape is
    * usually FREE: when the optimizer's size estimate of the query side
    * (file bytes at the leaves — the same statistic Spark's own
    * auto-broadcast threshold reads) is small enough to imply the row
    * bound, the side broadcasts with no extra job; only a
    * large-estimate side pays the exact `limit(bound+1).count()` probe
    * (never scanning more than `maxBroadcastRows + 1` rows), so a
    * selective filter over a corpus-scale table still gets the exact
    * decision instead of a catastrophic partitioned cartesian. */
  def knnJoin(queries: DataFrame, corpus: DataFrame, qidCol: String,
      qvecCol: String, cidCol: String, cvecCol: String, k: Int,
      maxBroadcastRows: Long = 1L << 20): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), asDouble(col(qvecCol)).as("qvec"))
    val c = fanOutToCores(
      corpus.select(col(cidCol).as("cid"), asDouble(col(cvecCol)).as("cvec")))
    // Stats short-circuit: an (id, vector) row is ≥ 32 bytes in any
    // estimate regime (parquet leaves report file bytes; 64-dim doubles
    // do not compress below that), so an estimate within
    // maxBroadcastRows×32 — capped at 512 MB, well under the 8 GB
    // broadcast-relation hard limit — implies the row bound holds and
    // the probe job is pure overhead. The estimate-says-big path keeps
    // the exact probe: estimates ignore filter selectivity without CBO,
    // and a wrongly-skipped broadcast would cost a partitioned cartesian
    // of the corpus — far worse than one bounded count job.
    val statsBound = BigInt(512L << 20)
      .min(BigInt(math.min(maxBroadcastRows, Int.MaxValue - 1L)) * 32)
    val fits = q.queryExecution.optimizedPlan.stats.sizeInBytes <= statsBound || {
      // clamp BEFORE the +1: maxBroadcastRows = Long.MaxValue must mean
      // "always broadcast", not overflow into a negative limit
      val probe = (math.min(maxBroadcastRows, Int.MaxValue - 1L) + 1).toInt
      q.limit(probe).count() <= math.min(maxBroadcastRows, Int.MaxValue - 1L)
    }
    val qSide = if (fits) broadcast(q) else q
    val scored = c.crossJoin(qSide)
      .select(col("qid"), col("cid"), cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"), col("cid"), col("sim"))
  }

  /** Deterministic ±1 hyperplane weight via splitmix64 of (plane, dim) — no
    * RNG state, reproducible everywhere, baked into the plan as literals so
    * the projection is a plain zip_with dot product. */
  private[graft] def planeWeight(plane: Int, dim: Int): Double = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 1L) 1.0 else -1.0
  }

  /** Multi-table bucketed ANN top-k (OR-amplified LSH): `tables` independent
    * hash tables of `planes` sign bits each; candidates are corpus vectors
    * sharing ANY table's bucket with the query; exact cosine ranks the
    * candidates. Each join is a shuffle on (table, bucket) — never
    * all-pairs. With near-orthogonal neighbors (θ≈60°) 16×4 gives ~0.95
    * expected recall@1; clustered real-world embeddings do much better. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
      nQueries: Int, k: Int, planes: Int, tables: Int, dims: Int): DataFrame = {
    val base = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
    // all table buckets in ONE native pass per vector (±1 weights from
    // planeWeight, accumulated in dimension order like the oracle SQL)
    val buckets = graft.functions.VectorOps.hyperplaneBuckets(col("vec"), planes, tables)
    val withBucket = base.select(col("id"), col("vec"),
      posexplode(buckets).as(Seq("tbl", "bucket")))
    val queries = withBucket.filter(col("id") < nQueries)
      .select(col("id").as("qid"), col("tbl"), col("bucket"))
    val corpus = withBucket.select(col("id").as("cid"), col("tbl"), col("bucket"))
    val cand = queries.join(corpus, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    val scored = cand
      .join(base.select(col("id").as("qid"), col("vec").as("qvec")), Seq("qid"))
      .join(base.select(col("id").as("cid"), col("vec").as("cvec")), Seq("cid"))
      .select(col("qid"), col("cid"), cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"), col("cid"), col("sim"))
  }
}
