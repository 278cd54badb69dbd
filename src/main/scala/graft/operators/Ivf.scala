package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) coarse quantization over an embedding column — the
  * classic cluster-pruned ANN scale path alongside the hyperplane-LSH
  * variant in [[Similarity]], plus SemDeDup-style semantic dedup (pairs
  * are only scored *within* a cluster, never across the whole corpus).
  *
  * Training is spherical k-means with a fully deterministic recipe so the
  * result is reproducible under any partitioning and restatable in the
  * DuckDB oracle:
  *   - vectors are L2-normalized with the same left-associated fold the
  *     oracle SQL spells out;
  *   - init centroids are the per-dimension means of `id % nlist` groups;
  *   - each Lloyd iteration re-assigns by squared-L2 argmin (ties broken
  *     by cluster index) and recomputes means;
  *   - every cross-record mean runs its SUM in DECIMAL(38,18) — exact,
  *     therefore order-independent, therefore identical on 32 shuffle
  *     partitions or 32k.
  *
  * Scale shape: training materializes each iteration's centroid table on
  * the driver — `nlist`×dims doubles, the FAISS pattern (at 100 TB one
  * trains on a bounded sample; each iteration here is ONE shuffle of
  * (cluster, dim) partial sums with map-side combine). The trained
  * centroids are then baked into the plan as literals, which makes
  * assignment a *narrow projection* — `argmin` over `nlist` fold
  * expressions, no join, no window, no shuffle — so assigning the full
  * corpus scans it exactly once. Search touches only the probed clusters'
  * members via an equi-join on the cluster id; dedup self-joins within
  * the cluster only (n²/nlist, co-located under one shuffle key).
  */
object Ivf {

  private def asDouble(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Nearest-centroid id: a narrow whole-stage-codegen projection, no
    * join or window — [[graft.functions.NearestClusters]] accumulates
    * each squared-L2 index-ascending and breaks ties toward the lower
    * cluster index, exactly the oracle's ROW_NUMBER ORDER BY dist, cl. */
  def nearestCluster(e: Column, cents: Seq[Seq[Double]]): Column =
    element_at(graft.functions.VectorOps.nearestClusters(e, cents, 1), 1)

  /** The `nprobe` nearest cluster ids, nearest first. */
  def probeClusters(e: Column, cents: Seq[Seq[Double]], nprobe: Int): Column =
    graft.functions.VectorOps.nearestClusters(e, cents, nprobe)

  /** id + raw double vector + L2-normalized vector (native one-pass). */
  def base(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val raw = asDouble(col(vecCol))
    emb.select(col(idCol).cast(LongType).as("id"), raw.as("raw"))
      .withColumn("e", graft.functions.VectorOps.l2Normalize(col("raw")))
  }

  /** Spark's double→DECIMAL(38,18) cast semantics (Decimal(BigDecimal(d))
    * goes through Double.toString), replicated so the driver-side training
    * sums are bit-identical to what the distributed `sum(cast(v as
    * decimal))` formulation would produce. Exact decimal addition is
    * order-independent, so the grouping order cannot matter either. */
  private def toDec(v: Double): java.math.BigDecimal =
    // EXACTLY what CAST(double AS DECIMAL(38,18)) does in DuckDB (probed
    // empirically): scale by 10^18 as a DOUBLE MULTIPLY — the product's
    // own rounding is part of the semantics — then round that double to
    // an integer half-away-from-zero (std::round). Neither the exact
    // binary value nor Double.toString's shortest representation rounded
    // to scale 18 reproduces it (both differ in the 18th decimal for
    // ~half of inputs, which leaked a 1-ulp centroid difference — caught
    // the first time a query EMITTED a raw centroid-derived double,
    // q_embedding_outliers, after rank-only uses had masked it).
    // 10^18 = 2^18·5^18 is exactly representable, and BigDecimal's
    // HALF_UP on the exact value of the product is std::round without
    // the floor(x+0.5) edge artifacts.
    new java.math.BigDecimal(v * 1e18)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .movePointLeft(18)

  /** Deterministic spherical k-means, trained driver-side from ONE collect
    * of the (id, normalized-vector) pairs — the FAISS pattern. The
    * training set is capped by BYTES, not rows: past
    * `maxTrainBytes / (dims × 8)` rows it becomes a deterministic
    * md5-bucket subsample (assignment/search still cover the full
    * corpus), so a 1024-dim corpus samples 16× fewer rows than a 64-dim
    * one and the driver footprint stays bounded regardless of
    * dimensionality. Means sum in exact decimals (same cast semantics as
    * a distributed decimal SUM); assignment reuses the same loop the
    * native expression runs, so the oracle's distributed restatement
    * produces identical centroids.
    * Vectors with non-finite coordinates (e.g. a zero-norm embedding
    * normalized to NaN) are excluded from training — they would poison
    * every mean they touch. */
  def centroids(b: DataFrame, nlist: Int, iters: Int,
      maxTrainBytes: Long = 512L << 20): Seq[Seq[Double]] = {
    val total = b.count()
    // dims from one non-null row (cheap single-partition job); the cap in
    // rows is budget / bytes-per-vector so high-dim corpora subsample
    // harder. Null vectors are skipped here like they are in training.
    val sampleDims = b.filter(col("e").isNotNull).select(size(col("e"))).head(1)
    val dimsOf = if (sampleDims.isEmpty) 1 else math.max(1, sampleDims(0).getInt(0))
    val maxTrainRows = math.max(nlist.toLong, maxTrainBytes / (dimsOf * 8L))
    val trainDf =
      if (total <= maxTrainRows) b
      else {
        // deterministic hash-bucket subsample sized to the budget
        val pct = math.max(1, (maxTrainRows * 100L / total).toInt)
        b.filter(Sampling.hashBucket(col("id"), 100) < pct)
      }
    val rows = trainDf.select(col("id").cast("long"), col("e")).collect()
    val all = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val (ids, vecs) = all.filter(_._2.forall(java.lang.Double.isFinite)).unzip
    require(vecs.nonEmpty, "IVF training needs at least one finite vector")
    val dims = vecs(0).length

    // A cluster that loses every member in a Lloyd step KEEPS its previous
    // centroid (the standard empty-cluster rule): the codebook stays at
    // full cardinality and fully finite, instead of collapsing to a NaN
    // row that poisons comparisons. With id-seeded balanced init this
    // only triggers at small nlist-to-data ratios (PQ sub-codebooks);
    // oracle restatements model it as COALESCE(new_mean, previous).
    def means(assignOf: Int => Int,
        prev: Array[Array[Double]]): Array[Array[Double]] = {
      val sums = Array.fill(nlist, dims)(java.math.BigDecimal.ZERO)
      val counts = new Array[Long](nlist)
      var i = 0
      while (i < vecs.length) {
        val cl = assignOf(i)
        counts(cl) += 1
        var d = 0
        while (d < dims) {
          sums(cl)(d) = sums(cl)(d).add(toDec(vecs(i)(d)))
          d += 1
        }
        i += 1
      }
      Array.tabulate(nlist, dims) { (cl, d) =>
        if (counts(cl) == 0 && prev != null) prev(cl)(d)
        else {
          // CAST(sum AS DOUBLE) the way DuckDB evaluates it (probed):
          // double(unscaled int128) / 10^18 — two specific roundings, NOT
          // the correctly-rounded BigDecimal.doubleValue (they differ in
          // the last ulp for some sums, which shifted a centroid
          // coordinate and broke the first raw-distance-emitting oracle)
          val sum = sums(cl)(d)
          val asDouble =
            sum.movePointRight(18).toBigInteger.doubleValue / 1e18
          asDouble / counts(cl)
        }
      }
    }

    // floorMod so negative ids seed a valid group (the oracle's `%` is
    // spelled ((id % n) + n) % n for the same behavior)
    val init = means(i => java.lang.Math.floorMod(ids(i), nlist.toLong).toInt, null)
    val trained = (1 to iters).foldLeft(init) { (cents, _) =>
      means(i => graft.functions.NearestClusters.compute(vecs(i), cents, 1)(0).toInt,
        cents)
    }
    trained.map(_.toSeq).toSeq
  }

  /** (id, cl) assignment — a single narrow scan over the corpus. */
  def assign(b: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    b.select(col("id"), nearestCluster(col("e"), cents).as("cl"))

  /** Persist trained centroids as parquet: `path/centroids` holds (cl,
    * centroid array<double>), nlist tiny rows coalesced to one file, no
    * corpus scan. Doubles round-trip parquet bit-exactly, so a search
    * served from re-read centroids ([[readCentroids]]) is bit-identical
    * to one served from the freshly trained ones — "train once, reuse"
    * survives JVM restarts, not just JVM lifetime. Assignments are not
    * persisted: they are one narrow projection over the corpus
    * ([[assign]]). */
  def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Seq[Double]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cl", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Centroids back from a [[writeCentroids]] index, in cluster
    * order — bit-identical to the trained values. */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$path/centroids").orderBy("cl")
      .select("cl", "centroid")
      .collect().map(_.getSeq[Double](1)).toSeq

  /** Root directory for persisted index artifacts (IVF centroids, int8
    * vector indexes): the `spark.graft.index.root` session conf when set —
    * a Hadoop-FS path, so a shared deployment points it at hdfs:///s3://
    * and every executor and every restart sees the same indexes — else
    * the local JVM tmpdir (sandbox/test default). */
  def indexRoot(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.graft.index.root")
      .getOrElse(sys.props("java.io.tmpdir"))

  /** True when a [[writeCentroids]] index exists at `path`. Probes the
    * centroid write's job-success marker, not the bare directory, so a
    * write that died mid-job (directory present, data incomplete) reads
    * as "missing" and the overwrite-mode retrain heals it instead of a
    * later [[readCentroids]] choking on a husk. Resolved through
    * Hadoop's FileSystem so hdfs:///s3:// index locations work the same
    * as local disk. */
  def indexExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    Artifacts.markerExists(spark, s"$path/centroids")

  /** IVF top-k: queries probe their `nprobe` nearest clusters,
    * candidates are those clusters' members, exact cosine (native codegen
    * expression) reranks. The only join is an equi-join on the cluster
    * id. Takes pre-trained centroids ([[centroids]]), so one training
    * serves both ANN search and [[semDedupPairsWith]]. */
  def topKWith(b: DataFrame, cents: Seq[Seq[Double]], nQueries: Int, k: Int,
      nprobe: Int): DataFrame =
    rankTopK(scorePairs(probedCandidates(b, cents, nQueries, nprobe),
      b.select(col("id"), col("raw").as("v"))), k)

  /** (qid, cid) candidate pairs shared by [[topKWith]] and
    * [[sq8RerankWith]]: the first `nQueries` ids probe their `nprobe`
    * nearest clusters and pair with those clusters' members — the only
    * join is an equi-join on the cluster id. */
  private[operators] def probedCandidates(b: DataFrame, cents: Seq[Seq[Double]],
      nQueries: Int, nprobe: Int): DataFrame = {
    val assigned = assign(b, cents)
    // the (qid, cl) probe rows are 16 bytes each — fanning THEM out to
    // cores (instead of relying on a downstream exchange for
    // parallelism) is the cheapest possible spread of the candidate
    // expansion + scoring that pipelines on top of this join; no-op at
    // scale where the query scan already carries ≥ cores partitions
    val probes = Similarity.fanOutToCores(
      b.filter(col("id") < nQueries)
        .select(col("id").as("qid"),
          explode(probeClusters(col("e"), cents, nprobe)).as("cl")))
    // no dedup needed: assign() emits exactly ONE (cid, cl) row per
    // corpus id (argmin projection over a unique-id table) and
    // probeClusters returns DISTINCT cluster ids per query, so a given
    // (qid, cid) pair can arise from at most one cl — the former
    // .distinct() was a semantic no-op costing a full exchange plus a
    // partial/final aggregate pair on the candidate stream (guide §2.4:
    // "a distinct on data that is already unique"). Contrast lshTopK,
    // whose multi-TABLE banding genuinely collides and keeps its dedup.
    probes.join(assigned.select(col("id").as("cid"), col("cl")), Seq("cl"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
  }

  /** Cosine scores for (qid, cid) pairs against a (id, v) vector view. */
  private def scorePairs(pairs: DataFrame, vecs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("id").as("qid"), col("v").as("qvec")), Seq("qid"))
      .join(vecs.select(col("id").as("cid"), col("v").as("cvec")), Seq("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.VectorOps.cosineSimilarity(col("qvec"), col("cvec")).as("sim"))

  /** Per-query top-`k` of a (qid, cid, sim) scoring — sim desc, cid asc
    * tie-break (the order the oracles pin). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"), col("cid"), col("sim"))
  }

  /** IVF-SQ8 top-k — the composed compressed-index serving path: the
    * shortlist comes from PROBED CLUSTERS (equi-join on the cluster id,
    * like [[topKWith]]) but approximate scores read the QUANTIZED
    * vectors `dq` (an (id, dq array<double>) view — typically
    * [[Quantize.readIndexVectors]] over a persisted byte-packed index),
    * and only the per-query `shortlist` touches the raw float vectors
    * for the exact top-`k` rerank. Per query this scores ~nprobe/nlist
    * of the corpus off a 4×-smaller table; nothing scans the whole
    * corpus. */
  def sq8RerankWith(b: DataFrame, cents: Seq[Seq[Double]], dq: DataFrame,
      nQueries: Int, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    // deliberately NOT pinByKey'd: the scoring stages here are
    // allocation-heavy (hash-agg dedup, two broadcast probes, a window
    // sort), and at bench scale 32 such tasks pay more in per-task
    // sorter/agg setup and memory-pool contention than the spread wins —
    // measured idle 7-rep mins, q_ivf_rerank 0.63s → 0.84s with the pin;
    // AQE's byte-coalesced few-task shape is the faster one (r17's
    // full-suite re-adjudication reached the same verdict for the dedup
    // pins and reverted them too — spanScrubFrom's h-join-adjacent pin
    // is the one survivor)
    val approx = scorePairs(probedCandidates(b, cents, nQueries, nprobe),
      dq.select(col("id"), col("dq").as("v")))
    val wA = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    val short = approx.withColumn("r", row_number().over(wA))
      .filter(col("r") <= shortlist).select("qid", "cid")
    rankTopK(scorePairs(short, b.select(col("id"), col("raw").as("v"))), k)
  }

  /** Two-table sibling of [[sq8RerankWith]] — retrieval where the query
    * set and the corpus are DIFFERENT tables (eval-queries-vs-index, or
    * the unlabeled-vs-labeled split of kNN label propagation): each
    * query probes its `nprobe` nearest clusters, candidates are the
    * CORPUS members of those clusters via the cluster-id equi-join
    * (never a query×corpus product), approximate scores read the
    * quantized `dq` view, and only the per-query `shortlist` touches
    * raw floats for the exact top-`k` rerank. `queries`/`corpus` are
    * [[base]]-shaped (id, raw, e); ids must be disjoint across the two
    * tables (self-matches are NOT filtered — the split guarantees it). */
  def sq8RerankJoin(queries: DataFrame, corpus: DataFrame,
      cents: Seq[Seq[Double]], dq: DataFrame,
      k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val assigned = assign(corpus, cents)
    // 16-byte (qid, cl) rows fanned to cores — the probedCandidates
    // rationale: parallelism for the expansion + scoring comes from the
    // cheapest stream in the plan, not from a corpus-sized exchange
    val probes = Similarity.fanOutToCores(
      queries.select(col("id").as("qid"),
        explode(probeClusters(col("e"), cents, nprobe)).as("cl")))
    // unique by construction — the probedCandidates argument: one
    // (cid, cl) row per corpus id, distinct probed cls per query ⇒ a
    // (qid, cid) pair arises from at most one cl; the former .distinct()
    // paid an exchange + aggregate pair for nothing
    val pairs = probes
      .join(assigned.select(col("id").as("cid"), col("cl")), Seq("cl"))
      .select("qid", "cid")
    val approx = scorePairs(pairs, dq.select(col("id"), col("dq").as("v")))
    val wA = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    val short = approx.withColumn("r", row_number().over(wA))
      .filter(col("r") <= shortlist).select("qid", "cid")
    val exact = short
      .join(queries.select(col("id").as("qid"), col("raw").as("qvec")), Seq("qid"))
      .join(corpus.select(col("id").as("cid"), col("raw").as("cvec")), Seq("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.VectorOps.cosineSimilarity(col("qvec"), col("cvec")).as("sim"))
    rankTopK(exact, k)
  }

  /** SemDeDup: cosine-similar pairs scored only within a cluster — the
    * self-join is n²/nlist instead of n², and at scale each cluster's
    * members co-locate under one shuffle key. Takes [[base]] rows and
    * pre-trained [[centroids]] (see [[topKWith]]). */
  def semDedupPairsWith(b: DataFrame, cents: Seq[Seq[Double]],
      threshold: Double): DataFrame = {
    val withCl = b.withColumn("cl", nearestCluster(col("e"), cents))
    val x = withCl.select(col("cl"), col("id").as("da"), col("raw").as("va"))
    val y = withCl.select(col("cl"), col("id").as("db"), col("raw").as("vb"))
    x.join(y, Seq("cl"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        graft.functions.VectorOps.cosineSimilarity(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
