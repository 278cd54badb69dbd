package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}
import graft.operators.{Dedup, Ivf, Similarity}
import SharedArtifacts.{IvfDims, IvfIters, IvfNlist, PcaIters, PqIters, PqK, PqM,
  int8IndexVectors, sharedCentroids, sharedCodebooks, sharedPcaModel}

/** Embedding queries over `embeddings`: exact and approximate nearest
  * neighbours (LSH, IVF, int8 and PQ rerank), k-means cluster and PCA
  * diagnostics, label propagation, semantic dedup, and the BM25 and hybrid
  * retrieval legs. The IVF and PQ oracles restate the deterministic
  * k-means as SQL CTEs, so centroids agree bit for bit.
  */
object AnnQueries extends QueryFamily {
  def similarityTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        nQueries = 50, k = 5)
      .orderBy("qid", "rank")
  query("q_similarity_topk", Oracle(
      """SELECT qid, rank, cid, sim FROM (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |         LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) sim,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 50 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin))(similarityTopK)

  /** Two-table retrieval: vec_id < 50 as the query set, the rest as the
    * corpus — the eval-queries-vs-index shape of [[Similarity.knnJoin]]. */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnJoin(
        emb.filter(col("vec_id") < 50), emb.filter(col("vec_id") >= 50),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .orderBy("qid", "rank")
  }
  query("q_knn_join", Oracle(
      """SELECT qid, rank, cid, sim FROM (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |         LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) sim,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 50 AND c.vec_id >= 50)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin))(knnJoin)

  /** Hard-negative mining (the DPR / E5 contrastive-training recipe):
    * for each anchor vector, emit the nearest non-self neighbor as the
    * POSITIVE and a deeper-ranked neighbor (rank 8) as the HARD
    * NEGATIVE — semantically close enough to be informative, far
    * enough to be (probably) wrong, which is exactly what contrastive
    * embedding training wants over random negatives. Composes the
    * proven [[Similarity.knnJoin]] rank stage (bit-exact cosine,
    * (sim DESC, cid ASC) ties) with a conditional aggregation pivot;
    * no float math beyond the proven stage. At 100 TB the neighbor
    * stage swaps to the IVF shortlist exactly like q_knn_labels_ivf;
    * the pivot is unchanged. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnJoin(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", "vec_id", "embedding", k = 8)
      .filter(col("rank") === 1 || col("rank") === 8)
      .groupBy(col("qid").as("anchor_id"))
      .agg(
        max(when(col("rank") === 1, col("cid"))).as("pos_id"),
        max(when(col("rank") === 1, col("sim"))).as("pos_sim"),
        max(when(col("rank") === 8, col("cid"))).as("neg_id"),
        max(when(col("rank") === 8, col("sim"))).as("neg_sim"))
      .orderBy("anchor_id")
  }
  // hard negatives: the q_knn_join rank recipe + a CASE pivot — ids
  // BIGINT, sims the proven bit-exact cosine doubles
  query("q_hard_negatives", Oracle(
      """WITH ranked AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |         LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) sim,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0)
        |SELECT qid AS anchor_id,
        |       MAX(CASE WHEN rank = 1 THEN cid END) AS pos_id,
        |       MAX(CASE WHEN rank = 1 THEN sim END) AS pos_sim,
        |       MAX(CASE WHEN rank = 8 THEN cid END) AS neg_id,
        |       MAX(CASE WHEN rank = 8 THEN sim END) AS neg_sim
        |FROM ranked WHERE rank IN (1, 8) GROUP BY qid ORDER BY anchor_id""".stripMargin))(hardNegatives)

  /** Semi-supervised kNN label propagation — the label-spreading pass
    * that turns an expensive hand-labeled subset (quality ratings, topic
    * tags) into corpus-wide labels: each unlabeled vector takes the
    * majority label of its k nearest LABELED neighbors (ties break to
    * the smallest label, deterministic). Even vec_ids play the labeled
    * pool here, odd ones get predictions. Composes the proven
    * [[Similarity.knnJoin]] (broadcast probe under the bound, graceful
    * shuffle fallback past it) with a labels-per-query vote — the vote
    * table is (queries × distinct-labels)-sized, never corpus². At
    * 100 TB the neighbor stage swaps to the IVF shortlist exactly like
    * q_ivf_rerank; the vote is unchanged. */
  def knnLabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val labeled = emb.filter(col("vec_id") % 2 === 0)
    val unlabeled = emb.filter(col("vec_id") % 2 === 1)
    val nn = Similarity.knnJoin(unlabeled, labeled,
      "vec_id", "embedding", "vec_id", "embedding", k = 5)
    val withLabel = nn.join(
      broadcast(labeled.select(col("vec_id").as("cid"), col("label"))), "cid")
    val votes = withLabel.groupBy("qid", "label").agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("qid").as("vec_id"), col("label").as("predicted_label"),
        col("votes"))
      .orderBy("vec_id")
  }
  // label propagation: the q_knn_join neighbor recipe (proven cosine +
  // (sim DESC, cid ASC) tie-break), then an integer majority vote with
  // the deterministic (votes DESC, label ASC) pick — no float math past
  // the proven rank stage, so the predicted labels are engine-exact
  query("q_knn_labels", Oracle(
      """WITH ranked AS (
        |  SELECT u.vec_id qid, l.vec_id cid, l.label,
        |         ROW_NUMBER() OVER (PARTITION BY u.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(CAST(u.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])) DESC, l.vec_id ASC) rk
        |  FROM embeddings u JOIN embeddings l ON u.vec_id % 2 = 1 AND l.vec_id % 2 = 0),
        |votes AS (SELECT qid, label, COUNT(*) votes FROM ranked WHERE rk <= 5 GROUP BY 1, 2),
        |best AS (SELECT qid, label, votes,
        |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) vr
        |         FROM votes)
        |SELECT qid AS vec_id, label AS predicted_label, CAST(votes AS BIGINT) AS votes
        |FROM best WHERE vr = 1 ORDER BY vec_id""".stripMargin))(knnLabelPropagation)

  /** [[knnLabelPropagation]] in its 100 TB shape — the neighbor stage
    * swapped from the exhaustive [[Similarity.knnJoin]] to the IVF-SQ8
    * shortlist ([[Ivf.sq8RerankJoin]], the two-table form of
    * q_ivf_rerank's serving path): unlabeled vectors probe their nprobe
    * nearest clusters against the SHARED persisted centroids, candidates
    * are the labeled pool's members of those clusters via the cluster-id
    * equi-join, approximate scores read the persisted byte-packed int8
    * index, and only the 20-candidate shortlist touches raw floats for
    * the exact top-5. The vote is byte-for-byte [[knnLabelPropagation]]'s
    * — majority label, (votes DESC, label ASC) tie-break. Per query this
    * scores ~nprobe/nlist of the labeled pool off the 4×-smaller index;
    * nothing is query×corpus. */
  def knnLabelPropagationIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val b = Ivf.base(emb, "vec_id", "embedding")
    val nn = Ivf.sq8RerankJoin(
      b.filter(col("id") % 2 === 1), b.filter(col("id") % 2 === 0),
      sharedCentroids(b, dir), int8IndexVectors(spark, dir),
      k = 5, nprobe = IvfNprobe, shortlist = 20)
    val labels = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").cast(LongType).as("cid"), col("label"))
    val votes = nn.join(broadcast(labels), "cid")
      .groupBy("qid", "label").agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("qid").as("vec_id"), col("label").as("predicted_label"),
        col("votes"))
      .orderBy("vec_id")
  }
  // the IVF-shortlist form: k-means CTEs verbatim from q_ivf_rerank
  // (proven bit-exact), probes recomputed for the ODD-id query set,
  // candidates restricted to EVEN-id (labeled) cluster members, the
  // proven int8 dequantize recipe for approximate scores, exact rerank
  // of the 20-candidate shortlist, then q_knn_labels' integer vote —
  // engine-exact past the proven rank stage
  query("q_knn_labels_ivf", Oracle(
      s"""$ivfCtes,
         |probesU AS (SELECT id qid, cl FROM (
         |             SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn
         |             FROM (SELECT b.id, c.cl, (${ivfDistChain("b.e", "c.c")}) dist
         |                   FROM base b CROSS JOIN $ivfFinalCent c WHERE b.id % 2 = 1)) WHERE rn <= $IvfNprobe),
         |qm AS (SELECT id, raw, LIST_MAX(LIST_TRANSFORM(raw, x -> ABS(x))) ma FROM rawv),
         |qs AS (SELECT id, raw, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM qm),
         |dqv AS (SELECT id, LIST_TRANSFORM(raw, x -> CASE WHEN scale = 0 THEN 0.0 ELSE FLOOR(x * scale + 0.5) / scale END) AS d FROM qs),
         |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probesU p JOIN assign a ON a.cl = p.cl AND a.id % 2 = 0),
         |approx AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qd.d, cd.d) AS asim
         |           FROM cand JOIN dqv qd ON qd.id = qid JOIN dqv cd ON cd.id = cid),
         |short AS (SELECT qid, cid FROM (
         |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY asim DESC, cid ASC) r
         |           FROM approx) WHERE r <= 20),
         |exact AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) AS sim
         |          FROM short JOIN rawv q ON q.id = qid JOIN rawv c ON c.id = cid),
         |nn AS (SELECT qid, cid FROM (
         |        SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) rk
         |        FROM exact) WHERE rk <= 5),
         |votes AS (SELECT qid, l.label, COUNT(*) votes FROM nn JOIN embeddings l ON l.vec_id = nn.cid GROUP BY 1, 2),
         |best AS (SELECT qid, label, votes,
         |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) vr
         |         FROM votes)
         |SELECT qid AS vec_id, label AS predicted_label, CAST(votes AS BIGINT) AS votes
         |FROM best WHERE vr = 1 ORDER BY vec_id""".stripMargin))(knnLabelPropagationIvf)

  /** Int8 symmetric quantization of the embedding table — per-vector
    * scale plus the quantized components (CSV string for hash
    * comparability). */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        Quantize.int8Scale(col("embedding")).as("scale"),
        Quantize.int8Csv(col("embedding")).as("q"))
      .orderBy("vec_id")
  }
  query("q_embedding_quantize", Oracle(
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
        |m AS (SELECT vec_id, e, LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))) ma FROM b),
        |s AS (SELECT vec_id, e, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM m)
        |SELECT vec_id, scale,
        |       ARRAY_TO_STRING(LIST_TRANSFORM(e,
        |         x -> CAST(CAST(FLOOR(x * scale + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q
        |FROM s ORDER BY vec_id""".stripMargin))(embeddingQuantize)

  /** FLAT-SQ8 retrieval — the exhaustive-baseline sibling of
    * [[ivfRerank]], exactly as [[Similarity.bruteForceTopK]] is the
    * exhaustive baseline of the LSH/IVF ANN paths: approximate scoring
    * over the int8 round-tripped vectors scans the WHOLE compressed
    * corpus per query batch (a flat index — the shape one deliberately
    * chooses for maximum recall on small-to-medium corpora), a per-query
    * shortlist of 20 candidates, then EXACT cosine rerank of only the
    * shortlist to the final top-5. At 100 TB the shortlist should come
    * from probed clusters instead — that composed path is [[ivfRerank]].
    * Quantize/dequantize run in the one native pass
    * ([[graft.operators.Quantize.roundTrip]]); exact vectors are touched
    * only for shortlist members. */
  def quantizedRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    val nQ = 25; val shortlist = 20; val k = 5
    val w = org.apache.spark.sql.expressions.Window
    // NO fanOutToCores here (unlike knnJoin/bruteForceTopK): deq feeds
    // FOUR consumers (both approx sides + both exact-rerank vector
    // attaches), so a repartition multiplies exchange work instead of
    // parallelizing one dominant scoring stage — measured a net loss at
    // bench scale (idle 7-rep mins 0.61s → 0.69s isolated, 2× inflation
    // inside mixed suites) where the 50k-cosine flat pass is too small
    // to amortize the shuffle it adds.
    val deq = Tables.embeddings(spark, dir)
      .select(col("vec_id").cast(LongType).as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("vec"),
        Quantize.roundTrip(col("embedding")).as("dq"))
    val queries = deq.filter(col("id") < nQ)
      .select(col("id").as("qid"), col("dq").as("qdq"))
    val corpus = deq.select(col("id").as("cid"), col("dq").as("cdq"))
    val approx = corpus.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.VectorOps.cosineSimilarity(col("qdq"), col("cdq")).as("asim"))
    val wA = w.partitionBy(col("qid")).orderBy(col("asim").desc, col("cid").asc)
    val cand = approx.withColumn("r", row_number().over(wA))
      .filter(col("r") <= shortlist).select("qid", "cid")
    val full = deq.select(col("id"), col("vec"))
    val exact = cand
      .join(full.select(col("id").as("qid"), col("vec").as("qvec")), Seq("qid"))
      .join(full.select(col("id").as("cid"), col("vec").as("cvec")), Seq("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.VectorOps.cosineSimilarity(col("qvec"), col("cvec")).as("sim"))
    val wE = w.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    exact.withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"), col("cid"), col("sim"))
      .orderBy("qid", "rank")
  }
  // quantize → dequantize (FLOOR(x·scale+0.5)/scale, scale = 127/max|x|)
  // restated per list element; approximate shortlist of 20 by cosine over
  // the dequantized lists, exact cosine rerank to top-5.
  // LIST_COSINE_SIMILARITY ≡ the native fold (proven by q_similarity_topk).
  query("q_quantized_rerank", Oracle(
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT id, e, LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))) ma FROM base),
        |s AS (SELECT id, e, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM m),
        |dq AS (SELECT id, e, LIST_TRANSFORM(e, x -> CASE WHEN scale = 0 THEN 0.0 ELSE FLOOR(x * scale + 0.5) / scale END) AS d FROM s),
        |approx AS (SELECT q.id AS qid, c.id AS cid, LIST_COSINE_SIMILARITY(q.d, c.d) AS asim
        |           FROM dq q JOIN dq c ON q.id < 25 AND q.id <> c.id),
        |cand AS (SELECT qid, cid FROM (
        |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY asim DESC, cid ASC) r
        |           FROM approx) WHERE r <= 20),
        |exact AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qe.e, ce.e) AS sim
        |          FROM cand JOIN base qe ON qe.id = qid JOIN base ce ON ce.id = cid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim FROM (
        |  SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
        |  FROM exact) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin))(quantizedRerank)

  /** IVF-SQ8 retrieval — the composed 100 TB serving architecture: the
    * shortlist stage never scans the corpus. Queries probe their
    * `nprobe` nearest clusters against the PERSISTED centroids
    * ([[sharedCentroids]] — a narrow projection, centroids baked in as
    * literals), candidates are those clusters' members via an EQUI-JOIN
    * on the cluster id, approximate scores come from the PERSISTED
    * byte-packed int8 index ([[int8IndexVectors]] — the 4×-smaller table
    * a deployment actually scans, dequantized by the native
    * [[graft.functions.Int8Dequantize]]), and only the per-query
    * shortlist of 20 touches raw float vectors for the exact top-5
    * rerank. Every join is an equi-join (cluster id, then ids); the
    * all-pairs work of [[quantizedRerank]]'s flat scan is gone — per
    * query it scores nprobe/nlist of the corpus. */
  def ivfRerank(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    Ivf.sq8RerankWith(b, sharedCentroids(b, dir),
        int8IndexVectors(spark, dir),
        nQueries = IvfNq, k = IvfK, nprobe = IvfNprobe, shortlist = 20)
      .orderBy("qid", "rank")
  }
  // IVF-SQ8: probes + assignment from the SAME deterministic k-means
  // CTEs as q_similarity_ivf (proven bit-exact), approximate scoring
  // over the SAME quantize→dequantize recipe as q_quantized_rerank
  // (proven bit-exact, zero-scale guard mirrored from the native
  // expression), exact rerank on the 20-candidate shortlist only.
  query("q_ivf_rerank", Oracle(
      s"""$ivfCtes$ivfProbesCte,
         |qm AS (SELECT id, raw, LIST_MAX(LIST_TRANSFORM(raw, x -> ABS(x))) ma FROM rawv),
         |qs AS (SELECT id, raw, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM qm),
         |dqv AS (SELECT id, LIST_TRANSFORM(raw, x -> CASE WHEN scale = 0 THEN 0.0 ELSE FLOOR(x * scale + 0.5) / scale END) AS d FROM qs),
         |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probes p JOIN assign a ON a.cl = p.cl WHERE a.id <> p.qid),
         |approx AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qd.d, cd.d) AS asim
         |           FROM cand JOIN dqv qd ON qd.id = qid JOIN dqv cd ON cd.id = cid),
         |short AS (SELECT qid, cid FROM (
         |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY asim DESC, cid ASC) r
         |           FROM approx) WHERE r <= 20),
         |exact AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) AS sim
         |          FROM short JOIN rawv q ON q.id = qid JOIN rawv c ON c.id = cid)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim FROM (
         |  SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
         |  FROM exact) WHERE rank <= $IvfK ORDER BY qid, rank""".stripMargin))(ivfRerank)

  def similarityLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        nQueries = 50, k = 5, planes = 4, tables = 16, dims = 64)
      .orderBy("qid", "rank")
  query("q_similarity_lsh", Oracle(lshSql))(similarityLsh)
  /** LSH ANN oracle: the exact lshTopK computation restated in SQL with the
    * ±1 hyperplane weights inlined as literals (same splitmix64-derived
    * weights the Spark plan bakes in). Projections are written as the same
    * left-associated fold the Spark `aggregate` performs, so the sign tests
    * agree bit-for-bit; LIST_COSINE_SIMILARITY matches the fold-based
    * cosine (proven bit-exact by q_similarity_topk). */
  private def lshSql: String = {
    val planes = 4; val tables = 16; val dims = 64; val nQueries = 50; val k = 5
    def proj(t: Int, p: Int): String =
      (0 until dims)
        .map(d => s"e[${d + 1}] * ${Similarity.planeWeight(t * planes + p, d)}")
        .mkString("0.0 + ", " + ", "")
    def bucket(t: Int): String =
      (0 until planes)
        .map(p => s"(CASE WHEN (${proj(t, p)}) > 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
    val buckets = (0 until tables).map(bucket).mkString("[", ", ", "]")
    s"""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |bk AS (SELECT id, UNNEST(RANGE($tables)) AS tbl, UNNEST($buckets) AS bucket FROM base),
       |cand AS (SELECT DISTINCT q.id AS qid, c.id AS cid
       |         FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |         WHERE q.id < $nQueries AND q.id <> c.id),
       |scored AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qe.e, ce.e) AS sim
       |           FROM cand JOIN base qe ON qe.id = qid JOIN base ce ON ce.id = cid),
       |ranked AS (SELECT qid, cid, sim,
       |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
       |           FROM scored)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** IVF index self-audit: recall@k of the probed-cluster serving path
    * ([[Ivf.topKWith]] over the SHARED persisted centroids — the exact
    * shortlist shape q_similarity_ivf serves) against the exhaustive
    * exact top-k for the same sampled queries. This is THE index-tuning
    * metric — nlist/nprobe trade recall for scan fraction, and a
    * deployment publishes this table before trusting the index. The
    * exact side is necessarily a brute-force pass, so it runs over the
    * SAMPLED query set only (the documented broadcast-baseline shape:
    * queries broadcast, the corpus streams once, per-query top-k); at
    * 100 TB the sample stays fixed while the corpus side is one linear
    * scan — the audit's irreducible cost. Both sides score with the
    * same native cosine and the same (sim DESC, cid ASC) tie-break, so
    * the per-query hit count — and recall exactly n_hits/k — is
    * deterministic. Oracled since round 14: the trained-centroid
    * dependency dissolves because training is deterministic and the
    * persisted artifact re-reads bit-identically, so [[ivfRecallSql]]
    * restates the k-means + probe chain the same way the q_ivf_rerank /
    * q_ivf_sweep oracles already do; PlantedRecallSpec additionally pins
    * recall == 1.0 when every cluster is probed plus the
    * planted-structure floors at the served nprobe. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    ivfRecallWith(b, sharedCentroids(b, dir), IvfNq, IvfK, IvfNprobe)
  }
  query("q_ivf_recall", Oracle(ivfRecallSql))(ivfRecall)
  /** q_ivf_recall oracle: the per-QUERY recall table — the bit-exact
    * [[ivfCtes]] machinery (k-means training restated in decimal-mean
    * SQL, identical to what trains — or trained — the persisted
    * centroids the Spark side probes; training is deterministic and the
    * re-read artifact is bit-identical, the standing q_ivf_rerank /
    * q_ivf_sweep argument), the [[ivfSql]] candidate/score/rank chain at
    * the served nprobe, the proven exact brute-force side, then per-qid
    * hit counts — integer counts after the proven rank stages, so the
    * recall ratio is the only floating-point op past them. */
  private def ivfRecallSql: String =
    s"""$ivfCtes$ivfProbesCte,
       |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probes p JOIN assign a ON a.cl=p.cl WHERE a.id<>p.qid),
       |scored AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) sim FROM cand JOIN rawv q ON q.id=qid JOIN rawv c ON c.id=cid),
       |approxk AS (SELECT qid, cid FROM (
       |             SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) rank
       |             FROM scored) WHERE rank<=$IvfK),
       |exactk AS (SELECT qid, cid FROM (
       |             SELECT q.id qid, c.id cid,
       |               ROW_NUMBER() OVER (PARTITION BY q.id
       |                 ORDER BY LIST_COSINE_SIMILARITY(q.raw, c.raw) DESC, c.id ASC) rk
       |             FROM rawv q JOIN rawv c ON q.id<$IvfNq AND c.id<>q.id)
       |           WHERE rk<=$IvfK),
       |hits AS (SELECT e.qid, CAST(COUNT(*) AS BIGINT) n_hits
       |         FROM exactk e JOIN approxk a ON a.qid=e.qid AND a.cid=e.cid GROUP BY 1),
       |ne AS (SELECT qid, CAST(COUNT(*) AS BIGINT) n_exact FROM exactk GROUP BY 1)
       |SELECT ne.qid, ne.n_exact, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(ne.n_exact AS DOUBLE) AS recall
       |FROM ne LEFT JOIN hits h USING (qid)
       |ORDER BY qid""".stripMargin

  /** Exhaustive exact top-k (qid, cid) pairs for the first `nQueries`
    * ids — the ground-truth side shared by [[ivfRecallWith]] and
    * [[ivfSweep]]: queries broadcast, the corpus streams once, the
    * per-query rank window is query-partitioned. Checkpointed because
    * the brute-force scan is every recall audit's dominant cost and
    * each caller consumes it at least twice. */
  private def exactTopKPairs(b: DataFrame, nQueries: Int, k: Int): DataFrame = {
    import graft.functions.VectorOps
    val queries = broadcast(b.filter(col("id") < nQueries)
      .select(col("id").as("qid"), col("raw").as("qvec")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid").asc)
    Materialize.pin(b.select(col("id").as("cid"), col("raw").as("cvec"))
      .crossJoin(queries)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorOps.cosineSimilarity(col("qvec"), col("cvec")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "cid"))
  }

  /** [[ivfRecall]] against caller-supplied centroids/config — the form
    * PlantedRecallSpec drives with planted structure. */
  private[graft] def ivfRecallWith(b: DataFrame, cents: Seq[Seq[Double]],
      nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val approx = Ivf.topKWith(b, cents, nQueries, k, nprobe)
      .select(col("qid"), col("cid"))
    val exact = exactTopKPairs(b, nQueries, k)
    val hits = exact.join(broadcast(approx), Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType)
          / col("n_exact").cast(DoubleType)).as("recall"))
      .orderBy("qid")
  }

  /** nprobe values the recall sweep serves — ascending, max = the
    * served [[IvfNprobe]] so the sweep's last row IS the production
    * configuration's recall. */
  // lazy: IvfNprobe is declared further down the object body, and a
  // strict val here would capture its uninitialized 0
  private lazy val IvfSweepProbes = Seq(1L, 2L, IvfNprobe.toLong)

  /** IVF recall-vs-nprobe sweep — [[ivfRecall]]'s tuning curve, the
    * [[dedupSweep]] treatment applied to the ANN index: micro-averaged
    * recall@k at each candidate nprobe in ONE pass, so an operator
    * reads off the cheapest probe count that clears their recall bar
    * instead of re-running the audit per setting. The sweep exploits
    * that probe lists are rank-nested: each (query, candidate) pair is
    * generated and scored ONCE, tagged with the FIRST probe rank that
    * reaches it, and each threshold's shortlist is a filter + rank over
    * that shared scored frame — recall is provably non-decreasing in
    * nprobe (a superset's extra candidates can only displace non-true
    * neighbors, since anything outranking a true top-k member is itself
    * a true top-k member), which IvfSpec pins. Scale shape: probe
    * assignment is a narrow codegen scan against broadcast centroids,
    * candidates come from the cluster-id equi-join, scoring touches
    * each pair once (checkpointed), and the per-threshold rank windows
    * partition by (query, nprobe) — candidate-bounded, never global.
    * The exact side is [[exactTopKPairs]]' one linear corpus scan. */
  def ivfSweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    // a duplicated threshold would put two copies of every candidate in
    // the same (nprobe, qid) rank window and silently halve that row's
    // shortlist; a threshold above IvfNprobe would silently report the
    // IvfNprobe recall under a bigger label
    require(IvfSweepProbes.distinct == IvfSweepProbes &&
        IvfSweepProbes == IvfSweepProbes.sorted &&
        IvfSweepProbes.last == IvfNprobe.toLong,
      s"ivfSweep thresholds must be strictly ascending and end at the " +
        s"served nprobe $IvfNprobe: $IvfSweepProbes")
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val cents = sharedCentroids(b, dir)
    val probes = b.filter(col("id") < IvfNq)
      .select(col("id").as("qid"),
        posexplode(Ivf.probeClusters(col("e"), cents, IvfNprobe))
          .as(Seq("pos", "cl")))
    val assigned = Ivf.assign(b, cents).select(col("id").as("cid"), col("cl"))
    val pairs = probes.join(assigned, Seq("cl"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid")
      .agg((min(col("pos")) + lit(1L)).as("first_probe"))
    val qvecs = broadcast(b.filter(col("id") < IvfNq)
      .select(col("id").as("qid"), col("raw").as("qvec")))
    val scored = pairs
      .join(b.select(col("id").as("cid"), col("raw").as("cvec")), Seq("cid"))
      .join(qvecs, Seq("qid"))
      .select(col("qid"), col("cid"), col("first_probe"),
        VectorOps.cosineSimilarity(col("qvec"), col("cvec")).as("sim"))
    // not pinned: each pair is scored once, and the single consumer
    // below replicates rows per swept threshold via the crossJoin
    val thresholds = spark.createDataFrame(IvfSweepProbes.map(Tuple1(_)))
      .toDF("nprobe")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("sim").desc, col("cid").asc)
    val approxTopK = scored.crossJoin(broadcast(thresholds))
      .filter(col("first_probe") <= col("nprobe"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfK)
      .select("nprobe", "qid", "cid")
    val exact = exactTopKPairs(b, IvfNq, IvfK)
    val hits = approxTopK.join(broadcast(exact), Seq("qid", "cid"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    val totals = exact.agg(count(lit(1)).as("n_exact"),
      countDistinct(col("qid")).as("n_queries"))
    thresholds.crossJoin(broadcast(totals))
      .join(broadcast(hits), Seq("nprobe"), "left")
      .select(col("nprobe"), col("n_queries"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType)
          / col("n_exact").cast(DoubleType)).as("recall"))
      .orderBy("nprobe")
  }
  query("q_ivf_sweep", Oracle(ivfSweepSql))(ivfSweep)
  /** q_ivf_sweep oracle: the bit-exact [[ivfCtes]] machinery with the
    * probe RANK kept (`probesW`), candidates tagged with the first
    * probe rank that reaches them, one shared scored frame, and a
    * per-threshold rank/hits/recall restatement of the Column tree —
    * the exact side is the proven q_similarity_topk brute-force shape,
    * recall the single micro-averaged double division. */
  private def ivfSweepSql: String =
    s"""$ivfCtes,
       |probesW AS (SELECT id qid, cl, rn FROM (SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${ivfDistChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $ivfFinalCent c WHERE b.id<$IvfNq)) WHERE rn<=$IvfNprobe),
       |cand AS (SELECT p.qid, a.id cid, CAST(MIN(p.rn) AS BIGINT) first_probe
       |         FROM probesW p JOIN assign a ON a.cl=p.cl WHERE a.id<>p.qid GROUP BY 1, 2),
       |scored AS (SELECT cand.qid, cand.cid, cand.first_probe,
       |             LIST_COSINE_SIMILARITY(q.raw, c.raw) sim
       |           FROM cand JOIN rawv q ON q.id=cand.qid JOIN rawv c ON c.id=cand.cid),
       |th AS (SELECT UNNEST([${IvfSweepProbes.mkString(", ")}]) AS nprobe),
       |exactk AS (SELECT qid, cid FROM (
       |             SELECT q.id qid, c.id cid,
       |               ROW_NUMBER() OVER (PARTITION BY q.id
       |                 ORDER BY LIST_COSINE_SIMILARITY(q.raw, c.raw) DESC, c.id ASC) rk
       |             FROM rawv q JOIN rawv c ON q.id<$IvfNq AND c.id<>q.id)
       |           WHERE rk<=$IvfK),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) n_exact,
       |               CAST(COUNT(DISTINCT qid) AS BIGINT) n_queries FROM exactk),
       |ranked AS (SELECT t.nprobe, s.qid, s.cid,
       |             ROW_NUMBER() OVER (PARTITION BY t.nprobe, s.qid
       |               ORDER BY s.sim DESC, s.cid ASC) rk
       |           FROM th t JOIN scored s ON s.first_probe <= t.nprobe),
       |hits AS (SELECT r.nprobe, CAST(COUNT(*) AS BIGINT) n_hits
       |         FROM ranked r JOIN exactk e ON e.qid=r.qid AND e.cid=r.cid
       |         WHERE r.rk<=$IvfK GROUP BY 1)
       |SELECT CAST(t.nprobe AS BIGINT) nprobe, tot.n_queries, tot.n_exact,
       |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(tot.n_exact AS DOUBLE) AS recall
       |FROM th t CROSS JOIN tot LEFT JOIN hits h ON h.nprobe=t.nprobe
       |ORDER BY nprobe""".stripMargin

  /** IVF cluster-occupancy audit — the index-balance report read next to
    * [[ivfRecall]]: per-cluster member count, corpus share, and
    * `load_factor` (share × nlist, 1.0 = perfectly balanced). Probe cost
    * under IVF is proportional to the PROBED clusters' occupancy, so an
    * overloaded cluster (load_factor ≫ 1) makes every query that probes
    * it scan far more than corpus/nlist vectors, and empty clusters
    * (absent rows — the report has one row per OCCUPIED cluster) waste
    * index capacity; either signals a centroid retrain. Scale shape: the
    * assignment is a narrow codegen scan against broadcast centroids
    * ([[Ivf.assign]]), then ONE map-side-combined aggregate keyed by the
    * nlist-valued cluster id; the 1-row total broadcasts back. */
  def ivfOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    // the total rides a window over the ≤nlist post-agg frame (the
    // q_cluster_sizes shape), so the corpus-sized assignment scan runs
    // once
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val share = col("n_vecs").cast(DoubleType) /
      sum(col("n_vecs")).over(w).cast(DoubleType)
    Ivf.assign(b, sharedCentroids(b, dir))
      .groupBy(col("cl").cast(LongType).as("cl"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("cl"), col("n_vecs"), share.as("share"),
        (share * lit(IvfNlist.toDouble)).as("load_factor"))
      .orderBy("cl")
  }
  query("q_ivf_occupancy", Oracle(ivfOccupancySql))(ivfOccupancy)
  /** q_ivf_occupancy oracle: the bit-exact [[ivfCtes]] `assign` table
    * grouped by cluster, with the same (n/total) and (n/total)×nlist
    * double op order as the Column tree. */
  private def ivfOccupancySql: String =
    s"""$ivfCtes,
       |occ AS (SELECT CAST(cl AS BIGINT) cl, CAST(COUNT(*) AS BIGINT) n_vecs
       |        FROM assign GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) total FROM occ)
       |SELECT cl, n_vecs,
       |       CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |       (CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE)) * ${IvfNlist}.0 AS load_factor
       |FROM occ, tot ORDER BY cl""".stripMargin

  /** D4 prototypicality pruning (Tirumala et al. 2023, the "SSL
    * prototypes" stage run after SemDeDup): within each embedding
    * cluster, the members MOST similar to their cluster centroid are
    * the redundant/template core — drop the top [[ProtoDropFrac]] of
    * each cluster by (cosine-to-centroid DESC, id ASC) rank and keep
    * the diverse tail. Emits the audit columns (cluster, similarity,
    * rank, kept) rather than just survivors so a curator can sweep the
    * drop fraction. Scale shape: assignment and the per-member cosine
    * are ONE narrow codegen scan against broadcast centroids (the
    * nlist-sized CASE dispatch); the rank window partitions BY CLUSTER
    * — bounded by occupancy ≈ corpus/nlist, the parallelism unit nlist
    * controls (the D4 recipe's own sharding), never a global window. */
  def protoPrune(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val cents = sharedCentroids(b, dir)
    val withCl = b.withColumn("cl",
      Ivf.nearestCluster(col("e"), cents).cast(LongType))
    val sim = cents.indices.foldLeft(lit(null).cast(DoubleType)) { (acc, i) =>
      when(col("cl") === i, graft.functions.VectorOps
        .cosineSimilarity(col("raw"), typedLit(cents(i)))).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cl"))
      .orderBy(col("proto_sim").desc, col("id").asc)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cl"))
    withCl.select(col("id"), col("cl"), sim.as("proto_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .withColumn("n_cl", count(lit(1)).over(wc))
      .select(col("id"), col("cl"), col("proto_sim"), col("rank"),
        (col("rank") > ceil(col("n_cl").cast(DoubleType) * lit(ProtoDropFrac))
          .cast(LongType)).as("kept"))
      .orderBy("id")
  }
  query("q_proto_prune", Oracle(protoPruneSql))(protoPrune)
  /** q_proto_prune oracle: the bit-exact [[ivfCtes]] assignment joined
    * to the FINAL centroid table, cosine against the centroid list, the
    * same (sim DESC, id ASC) per-cluster rank, and the same
    * CEIL(n × fraction) cut arithmetic. */
  private def protoPruneSql: String =
    s"""$ivfCtes,
       |ps AS (SELECT a.id, CAST(a.cl AS BIGINT) cl,
       |         LIST_COSINE_SIMILARITY(b.raw, c.c) proto_sim
       |       FROM assign a JOIN rawv b ON b.id = a.id
       |       JOIN cent$IvfIters c ON c.cl = a.cl),
       |rk AS (SELECT id, cl, proto_sim,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY cl
       |           ORDER BY proto_sim DESC, id ASC) AS BIGINT) rank,
       |         CAST(COUNT(*) OVER (PARTITION BY cl) AS BIGINT) n_cl
       |       FROM ps)
       |SELECT id, cl, proto_sim, rank,
       |       rank > CAST(CEIL(CAST(n_cl AS DOUBLE) * $ProtoDropFrac) AS BIGINT) AS kept
       |FROM rk ORDER BY id""".stripMargin

  private[queries] val ProtoDropFrac = 0.2

  private val IvfNq = 50; private val IvfK = 5; private val IvfNprobe = 5
  private val SemDedupThreshold = 0.35
  /** [[ivfRerank]] with the approximate side swapped from the int8 index
    * to the PQ reconstruction ([[graft.operators.Pq]]): probed-cluster
    * shortlist (equi-join on the cluster id — nothing corpus-wide),
    * symmetric-distance scores on the 32×-compressed codebook
    * reconstruction, exact rerank of the 50-vector shortlist on raw
    * floats. The shortlist is larger than SQ8's 20 by design: PQ codes
    * are coarse enough that near-identical vectors TIE at the same
    * approximate score (identical code vectors), and the deterministic
    * cid tie-break would push true neighbors off a tight shortlist —
    * PlantedRecallSpec measures the collapse. The oracle re-derives the
    * per-block k-means, codes, and reconstruction in SQL, so the whole
    * PQ recipe is checked, not just the final ranking. */
  def pqRerank(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val books = sharedCodebooks(b, dir)
    val pqView = b.select(col("id"),
      graft.operators.Pq.reconstruct(col("e"), books).as("dq"))
    Ivf.sq8RerankWith(b, sharedCentroids(b, dir), pqView,
        nQueries = IvfNq, k = IvfK, nprobe = IvfNprobe, shortlist = 50)
      .orderBy("qid", "rank")
  }
  // IVF-PQ: probes + assignment from the proven k-means CTEs,
  // approximate scoring over the per-block PQ reconstruction (pqCtes —
  // the whole train/encode/decode recipe restated), exact rerank on the
  // 50-candidate shortlist only (sized for PQ's tie mass — see
  // pqRerank) — q_ivf_rerank with dqv replaced by precon.
  query("q_pq_rerank", Oracle(
      s"""$ivfCtes$ivfProbesCte$pqCtes,
         |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probes p JOIN assign a ON a.cl = p.cl WHERE a.id <> p.qid),
         |approx AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qr.r, cr.r) AS asim
         |           FROM cand JOIN precon qr ON qr.id = qid JOIN precon cr ON cr.id = cid),
         |short AS (SELECT qid, cid FROM (
         |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY asim DESC, cid ASC) r
         |           FROM approx) WHERE r <= 50),
         |exact AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) AS sim
         |          FROM short JOIN rawv q ON q.id = qid JOIN rawv c ON c.id = cid)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim FROM (
         |  SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
         |  FROM exact) WHERE rank <= $IvfK ORDER BY qid, rank""".stripMargin))(pqRerank)

  /** IVF index balance diagnostic — per-cluster member counts and corpus
    * share from the SAME shared (persisted) centroids the ANN queries
    * probe: the report that tells an operator whether the index is
    * skewed before a hot cluster becomes the serving bottleneck. One
    * narrow assignment scan + one map-side-combined aggregation; the
    * share window runs on the post-agg frame (≤ nlist rows). Empty
    * clusters are absent (no member rows), same as the oracle's GROUP
    * BY over the assignment CTE. */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    Ivf.assign(b, sharedCentroids(b, dir))
      .groupBy("cl").agg(count(lit(1)).as("n_vectors"))
      .withColumn("share",
        col("n_vectors").cast(DoubleType) /
          sum(col("n_vectors")).over(w).cast(DoubleType))
      .orderBy("cl")
  }
  query("q_cluster_sizes", Oracle(
      s"""$ivfCtes
         |SELECT cl, COUNT(*) AS n_vectors,
         |       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
         |FROM assign GROUP BY cl ORDER BY cl""".stripMargin))(clusterSizes)

  def similarityIvf(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    Ivf.topKWith(b, sharedCentroids(b, dir), nQueries = IvfNq, k = IvfK,
        nprobe = IvfNprobe)
      .orderBy("qid", "rank")
  }
  query("q_similarity_ivf", Oracle(ivfSql))(similarityIvf)
  private def ivfSql: String =
    s"""$ivfCtes$ivfProbesCte,
       |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probes p JOIN assign a ON a.cl=p.cl WHERE a.id<>p.qid),
       |scored AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) sim FROM cand JOIN rawv q ON q.id=qid JOIN rawv c ON c.id=cid),
       |ranked AS (SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) rank FROM scored)
       |SELECT qid, CAST(rank AS BIGINT) rank, cid, sim FROM ranked WHERE rank<=$IvfK ORDER BY qid, rank""".stripMargin

  /** Embedding outlier report: the 20 vectors farthest (squared L2) from
    * their assigned centroid of the SAME shared persisted index the ANN
    * queries probe — the junk-pruning pass (mis-embedded docs, encoder
    * failures, off-distribution content) a corpus runs before training
    * on its embeddings. One narrow native scan
    * ([[graft.functions.VectorOps.nearestClusterDist]]) + a top-k sort;
    * no join, no shuffle beyond the limit. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val cents = sharedCentroids(b, dir)
    b.select(col("id"),
        Ivf.nearestCluster(col("e"), cents).as("cl"),
        VectorOps.nearestClusterDist(col("e"), cents).as("sqdist"))
      .orderBy(col("sqdist").desc, col("id").asc)
      .limit(20)
  }
  query("q_embedding_outliers", Oracle(
      s"""$ivfCtes$ivfOdistCte
         |SELECT id, cl, dist AS sqdist FROM odist
         |ORDER BY sqdist DESC, id LIMIT 20""".stripMargin))(embeddingOutliers)

  /** Cluster-balanced diverse subset — the coreset-selection pass behind
    * "pick a diverse 5k-example instruction set from 5M candidates":
    * every IVF cluster of the shared persisted index contributes exactly
    * k deterministic members ([[graft.operators.Sampling.samplePerGroup]]
    * by md5 rank), so dominant modes can't crowd out the tail — the
    * diversity dual of [[clusterSizes]]' skew report. Narrow assignment
    * scan + one bounded per-cluster window. */
  def diverseSample(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    graft.operators.Sampling.samplePerGroup(
        Ivf.assign(b, sharedCentroids(b, dir)), "id", "cl", k = 5)
      .orderBy("cl", "id")
  }
  query("q_diverse_sample", Oracle(
      s"""$ivfCtes
         |SELECT id, cl FROM (
         |  SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY cl
         |    ORDER BY ('0x' || SUBSTR(MD5(CAST(id AS VARCHAR)), 1, 15))::BIGINT % 1000000 ASC, id ASC) AS rn
         |  FROM assign) WHERE rn <= 5 ORDER BY cl, id""".stripMargin))(diverseSample)

  /** What CONTENT lives in each embedding cluster — the text table
    * joined to the vector table's cluster assignment (doc_id = vec_id,
    * the paired-modality contract): per (cluster, lang), document count,
    * token mass, and the share of the cluster. The report a curator
    * reads next to [[clusterSizes]] to see whether cluster 7's bulge is
    * one language's boilerplate or genuine diversity. The assignment is
    * a narrow scan; the join moves (id, cl) pairs — 16 bytes per vector,
    * never text or vectors; one map-side-combined aggregation. */
  def clusterProfile(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val assigned = Ivf.assign(b, sharedCentroids(b, dir))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("toks"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cl")
    docs.join(assigned, docs("doc_id") === assigned("id"))
      .groupBy("cl", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .withColumn("share",
        col("n_docs").cast(DoubleType) / sum("n_docs").over(w).cast(DoubleType))
      .orderBy("cl", "lang")
  }
  query("q_cluster_profile", Oracle(
      s"""$ivfCtes
         |SELECT cl, lang, COUNT(*) AS n_docs,
         |       CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
         |       CAST(COUNT(*) AS DOUBLE)
         |         / CAST(SUM(COUNT(*)) OVER (PARTITION BY cl) AS DOUBLE) AS share
         |FROM documents JOIN assign ON doc_id = id
         |GROUP BY cl, lang ORDER BY cl, lang""".stripMargin))(clusterProfile)

  def embeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    Ivf.semDedupPairsWith(b, sharedCentroids(b, dir), SemDedupThreshold)
      .orderBy("da", "db")
  }
  query("q_embedding_dedup", Oracle(semDedupSql))(embeddingDedup)
  private def semDedupSql: String =
    s"""$ivfCtes,
       |an AS (SELECT a.cl, a.id, b.raw FROM assign a JOIN rawv b ON b.id = a.id),
       |pairs AS (SELECT x.id da, y.id db, LIST_COSINE_SIMILARITY(x.raw, y.raw) sim
       |          FROM an x JOIN an y ON x.cl=y.cl AND x.id<y.id)
       |SELECT da, db, sim FROM pairs WHERE sim>=$SemDedupThreshold ORDER BY da, db""".stripMargin

  /** SemDeDup (Abbas et al. 2023) END TO END: [[embeddingDedup]]'s
    * within-cluster cosine pairs collapse onto connected components and
    * every vector gets its survivor label — `rep_id` (the component
    * minimum) and `kept` (1 = the representative a curator trains on,
    * 0 = a semantic duplicate the pass drops). The paper's architecture
    * exactly: the quadratic stage is confined inside k-means clusters of
    * the shared persisted index, the component table is dup-pairs-sized,
    * and the labeling join broadcasts against the vector universe
    * ([[graft.operators.Dedup.keepRepresentatives]] — the same terminal
    * step the MinHash cluster path uses, composed here with a semantic
    * pair source). The oracle restates the k-means CTEs (bit-exact, the
    * q_similarity_ivf proof), the cosine pair set (the q_embedding_dedup
    * proof), and the reachability closure (the q_dedup_clusters proof). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val pairs = Ivf.semDedupPairsWith(b, sharedCentroids(b, dir),
        SemDedupThreshold)
      .select("da", "db")
    Dedup.keepRepresentatives(b.select(col("id").as("vec_id")), "vec_id", pairs)
      .orderBy("vec_id")
  }
  query("q_semantic_dedup", Oracle(semanticDedupSql))(semanticDedup)

  /** Per-label embedding centroids, one row per (label, dimension) — the
    * class-prototype table probing/classification and drift monitoring
    * read (cosine-to-centroid is the cheapest label sanity check, and
    * [[graft.operators.Ivf]] consumes exactly this shape as seed
    * centroids). ORDER-INVARIANT exactness by the repo's fixed-point
    * doctrine (dsir/CharEntropy): each float component widens to double
    * (exact) and floor-quantizes to a 1e-6 fixed-point BIGINT — one
    * identical IEEE multiply + floor on both engines, no rounding-mode
    * ties (a DECIMAL cast hits half-up-vs-half-even disagreements on
    * the rare float that lands exactly on a scale boundary) — so the
    * per-group sum is the same integer under ANY partitioning or
    * aggregation order. The mean is then two fixed-order IEEE
    * divisions; centroids are 1e-6-quantized, far inside any embedding
    * model's noise floor. Scale shape: the (vector × dim) explode feeds
    * ONE map-side-combined aggregate keyed (label, dim) — partials
    * collapse to labels×dims rows per partition before the shuffle, and
    * the output is labels×dims. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      // sum on DECIMAL(38,0) (the embeddingMoments treatment): at
      // 10¹²-row scale a Long accumulator would wrap silently while the
      // oracle's SUM(BIGINT) promotes to HUGEINT and diverges
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType)
          .cast(DecimalType(38, 0))).as("s_fx"))
      .select(col("label"), col("dim").cast(LongType).as("dim"),
        col("n_vecs"),
        (col("s_fx").cast(DoubleType) / col("n_vecs") / lit(1e6)).as("centroid"))
      .orderBy("label", "dim")
  // float → double (exact) → FLOOR(v·1e6) fixed-point BIGINT before
  // summing on both engines: the group sum is an exact integer,
  // order-invariant and free of decimal rounding-mode ties
  query("q_label_centroids", Oracle(
      """WITH x AS (SELECT label,
        |             UNNEST(RANGE(LEN(embedding))) dim,
        |             UNNEST(embedding) v
        |           FROM embeddings)
        |SELECT label, CAST(dim AS BIGINT) dim,
        |       CAST(COUNT(*) AS BIGINT) n_vecs,
        |       CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
        |         / COUNT(*) / 1e6 AS centroid
        |FROM x GROUP BY 1, 2 ORDER BY label, dim""".stripMargin))(labelCentroids)

  private val PcaOutlierSigmas = 3.0

  /** Top principal component of the embeddings via deterministic
    * fixed-point power iteration ([[graft.operators.Pca.fit]]) — the
    * whitening / rotation prep read next to [[embeddingMoments]]
    * before building an IVF/PQ index, and a one-direction drift monitor.
    * `iters + 1` linear corpus scans, one dims-keyed map-side aggregate
    * each, d-sized driver state — the distributed-PCA shape. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.toFrame(spark, sharedPcaModel(spark, dir))
  query("q_pca_power", Oracle(pcaPowerSql))(pcaPower)
  private def pcaPowerSql: String =
    s"""$pcaCtes
       |SELECT CAST(mm.dim AS BIGINT) dim, mm.mean, vt.vv AS loading,
       |       SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12) AS eigval
       |FROM mm JOIN vt$PcaIters vt USING (dim)
       |CROSS JOIN n$PcaIters n
       |ORDER BY dim""".stripMargin

  /** Per-vector projection onto the shared PCA direction with the
    * |t| > 3·√eigval outlier flag ([[graft.operators.Pca.projections]])
    * — the along-dominant-axis outlier report. One narrow codegen
    * scan against the baked-in 2·dims+1-double model. */
  def pcaOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.projections(Tables.embeddings(spark, dir),
      "vec_id", "embedding", sharedPcaModel(spark, dir),
      sigmas = PcaOutlierSigmas)
      .orderBy("vec_id") // the house total-ORDER-BY rule, query layer
  query("q_pca_outliers", Oracle(pcaOutliersSql))(pcaOutliers)
  /** q_pca_outliers oracle: the [[pcaCtes]] chain's FINAL direction,
    * applied to every vector through the identical fixed-point dot, the
    * outlier bound 3·√eigval from the same norm CTE. */
  private def pcaOutliersSql: String =
    s"""$pcaCtes,
       |pf AS (SELECT x.id, SUM(CAST(FLOOR(1000000.0 * (x.v - mm.mean) * vt.vv) AS BIGINT)) dot_fx
       |       FROM x JOIN mm USING (dim) JOIN vt$PcaIters vt USING (dim) GROUP BY x.id)
       |SELECT id AS vec_id, CAST(dot_fx AS DOUBLE) / 1000000.0 AS t,
       |       (ABS(CAST(dot_fx AS DOUBLE) / 1000000.0)
       |          > $PcaOutlierSigmas * SQRT(SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12))) AS outlier
       |FROM pf CROSS JOIN n$PcaIters n
       |ORDER BY vec_id""".stripMargin

  /** Explained-variance summary for the top component: eigval (from the
    * shared PCA model), the covariance trace (Σ per-dim variances, each
    * 1e-12 floor-quantized so the cross-dim sum is exact), and their
    * ratio — THE "is one axis dominant enough to whiten / rotate
    * against?" number read before index prep. Scale shape: one
    * [[embeddingMoments]] aggregate re-reduced to a single row; the
    * model attaches as driver literals. */
  def pcaResidual(spark: SparkSession, dir: String): DataFrame = {
    val m = sharedPcaModel(spark, dir)
    embeddingMoments(spark, dir)
      .select(floor(col("variance") * lit(1e12)).cast(LongType).as("v_fx"))
      .agg(sum(col("v_fx")).as("tr_fx"))
      .select(lit(m.eigval).as("eigval"),
        (col("tr_fx").cast(DoubleType) / lit(1e12)).as("trace"),
        // a trace at or below the 1e-12 quantization floor has no
        // meaningful ratio — NULL, never ±Infinity (the signalCorr
        // zero-variance doctrine)
        when(col("tr_fx") <= 0L, lit(null).cast(DoubleType))
          .otherwise(lit(m.eigval) / (col("tr_fx").cast(DoubleType) / lit(1e12)))
          .as("explained_ratio"))
      .orderBy("eigval") // single row; the house total-ORDER-BY rule
  }
  query("q_pca_residual", Oracle(pcaResidualSql))(pcaResidual)
  /** q_pca_residual oracle: the q_embedding_moments variance recipe over
    * [[pcaCtes]]' x frame, trace as the exact 1e-12 fixed-point sum,
    * eigval from the shared norm CTE — all three doubles in the Column
    * tree's op order. */
  private def pcaResidualSql: String =
    s"""$pcaCtes,
       |qq AS (SELECT dim, CAST(FLOOR(v * 1000000.0) AS BIGINT) q FROM x),
       |mv AS (SELECT dim,
       |         (CAST(SUM(q * q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |           - (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
       |             * (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))) / 1e12 AS variance
       |       FROM qq GROUP BY dim),
       |tr AS (SELECT CAST(SUM(CAST(FLOOR(variance * 1e12) AS BIGINT)) AS BIGINT) tr_fx FROM mv)
       |SELECT SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12) AS eigval,
       |       CAST(tr.tr_fx AS DOUBLE) / 1e12 AS trace,
       |       CASE WHEN tr.tr_fx <= 0 THEN NULL
       |            ELSE SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12)
       |                   / (CAST(tr.tr_fx AS DOUBLE) / 1e12) END AS explained_ratio
       |FROM tr CROSS JOIN n$PcaIters n ORDER BY eigval""".stripMargin

  /** The fixed-point power iteration unrolled as CTEs — per-row dots and
    * per-dim sums are SUMs of 1e-6-floored BIGINT terms (exact,
    * order-free), directions renormalized through the identical
    * fixed-point norm, means from the embeddingMoments recipe. One CTE
    * trio (p/s/vt) per iteration; shared by the q_pca_power and
    * q_pca_outliers oracles. */
  private def pcaCtes: String = {
    val seed = java.lang.Double.toString(1.0 / math.sqrt(IvfDims.toDouble))
    val sb = new StringBuilder
    sb ++= s"""WITH xr AS (SELECT vec_id id, CAST(embedding AS DOUBLE[]) raw
              |           FROM embeddings WHERE embedding IS NOT NULL),
              |x AS (SELECT id, UNNEST(RANGE(LEN(raw))) dim, UNNEST(raw) v FROM xr),
              |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM xr),
              |mm AS (SELECT dim, CAST(COUNT(*) AS BIGINT) n,
              |         CAST(CAST(SUM(CAST(FLOOR(v * 1000000.0) AS BIGINT)) AS DOUBLE)
              |              / COUNT(*) / 1000000.0 AS DOUBLE) AS mean
              |       FROM x GROUP BY dim),
              |vt0 AS (SELECT dim, $seed AS vv FROM mm)""".stripMargin
    for (t <- 1 to PcaIters) {
      sb ++= s""",
                |p$t AS (SELECT x.id, SUM(CAST(FLOOR(1000000.0 * (x.v - mm.mean) * vt.vv) AS BIGINT)) dot_fx
                |        FROM x JOIN mm USING (dim) JOIN vt${t - 1} vt USING (dim) GROUP BY x.id),
                |s$t AS (SELECT x.dim, SUM(CAST(FLOOR(1000000.0 * (x.v - mm.mean)
                |                 * (CAST(p.dot_fx AS DOUBLE) / 1000000.0)) AS BIGINT)) s_fx
                |        FROM x JOIN mm USING (dim) JOIN p$t p USING (id) GROUP BY x.dim),
                |w$t AS (SELECT dim, CAST(s_fx AS DOUBLE) / 1000000.0 / CAST(c.n AS DOUBLE) AS wv
                |        FROM s$t CROSS JOIN cnt c),
                |n$t AS (SELECT SUM(CAST(FLOOR(1e12 * wv * wv) AS BIGINT)) nrm_fx FROM w$t),
                |vt$t AS (SELECT dim, wv / SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12) AS vv
                |         FROM w$t CROSS JOIN n$t n)""".stripMargin
    }
    sb.result()
  }

  /** Per-DIMENSION embedding moments (mean + population variance), the
    * whitening / feature-scaling statistics an ANN pipeline trains
    * before building an index (a dimension with 10× the variance of the
    * rest dominates every L2 distance; whitening divides it out) and
    * the drift monitor that catches an embedding-model swap. Same
    * fixed-point doctrine as [[labelCentroids]]: components widen to
    * double (exact) and floor-quantize to 1e-6 BIGINTs, so Σq and Σq²
    * are exact integers, order- and partitioning-invariant; both sums
    * ride DECIMAL(38,0) (the oracle's HUGEINT) because at 10¹²-row
    * scale Σq² overflows a Long. The mean/variance doubles then come
    * from one fixed IEEE op order on both engines. Scale shape: the
    * (vector × dim) explode feeds ONE map-side-combined aggregate keyed
    * by dim — partials collapse to `dims` rows per partition before the
    * shuffle; output is `dims` rows. */
  def embeddingMoments(spark: SparkSession, dir: String): DataFrame = {
    val nd = col("n_vecs").cast(DoubleType)
    val mq = col("s1").cast(DoubleType) / nd // mean in fixed-point units
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"),
        floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType).as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q").cast(DecimalType(38, 0))).as("s1"),
        sum(col("q").cast(DecimalType(38, 0))
          * col("q").cast(DecimalType(38, 0))).as("s2"))
      .select(col("dim").cast(LongType).as("dim"), col("n_vecs"),
        (mq / lit(1e6)).as("mean"),
        ((col("s2").cast(DoubleType) / nd - mq * mq) / lit(1e12)).as("variance"))
      .orderBy("dim")
  }
  // same 1e-6 fixed-point doctrine: Σq and Σq² are exact integers
  // (HUGEINT here, DECIMAL(38,0) on the Spark side), the mean/variance
  // doubles come from one shared IEEE op order
  query("q_embedding_moments", Oracle(
      """WITH x AS (SELECT UNNEST(RANGE(LEN(embedding))) dim,
        |                  UNNEST(embedding) v
        |           FROM embeddings),
        |q AS (SELECT dim, CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT) q FROM x)
        |SELECT CAST(dim AS BIGINT) dim, CAST(COUNT(*) AS BIGINT) n_vecs,
        |       CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS mean,
        |       (CAST(SUM(q * q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |         - (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |           * (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))) / 1e12
        |         AS variance
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin))(embeddingMoments)

  /** Okapi BM25 retrieval (Robertson et al., TREC-3): score every
    * document against a fixed query-term set and keep the global top-k —
    * the search primitive the corpus-curation loop uses to pull topical
    * slices. Two passes, both scale-shaped: (1) a map-side-combined
    * aggregate collapses the corpus to SIX scalars (N, Σdl, per-term
    * document frequencies) which bake into the plan as literals — the
    * mixture-gate pattern; (2) one narrow scoring scan — term
    * frequencies from a single [[graft.functions.LexiconCounts]]
    * automaton pass per row — feeding TakeOrderedAndProject (per-
    * partition top-k, never a global sort). IDF uses the house
    * fixed-point-log recipe (FLOOR(LN·1e6), the NB/DSIR pattern) so
    * DuckDB restates it exactly; per-row double math is written in the
    * identical association order on both sides. Term-count parity with
    * the REPLACE oracle holds because every query term is border-free
    * AND occurs in this corpus only as a whole space-delimited word, so
    * occurrences never self-overlap. k1 = 1.2, b = 0.75 (the Lucene
    * defaults). */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25K)
  query("q_bm25_topk", Oracle(bm25Sql))(bm25TopK)
  private def bm25Sql: String = {
    val Array(t1, t2, t3) = Bm25Terms
    s"""$bm25Ctes
       |SELECT doc_id, tf1 AS tf_$t1, tf2 AS tf_$t2, tf3 AS tf_$t3, score
       |FROM scored ORDER BY score DESC, doc_id LIMIT $Bm25K""".stripMargin
  }

  /** The BM25 scoring scan without the top-k: (doc_id, per-term tfs,
    * score). Shared by [[bm25TopK]] and the [[hybridRrf]] sparse leg. */
  private def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lex = new graft.functions.LexiconAutomaton(Bm25Terms)
    val counted = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("dl"),
      graft.functions.LexiconCounts.counts(col("text"), lex).as("tfs"))
    val st = counted.agg(
        count(lit(1)).as("nd"), sum("dl").as("sdl"),
        sum(when(element_at(col("tfs"), 1) > 0, 1L).otherwise(0L)).as("df1"),
        sum(when(element_at(col("tfs"), 2) > 0, 1L).otherwise(0L)).as("df2"),
        sum(when(element_at(col("tfs"), 3) > 0, 1L).otherwise(0L)).as("df3"))
      .head()
    val nd = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / nd
    val idf = Array(st.getLong(2), st.getLong(3), st.getLong(4)).map { df =>
      // fixed-point log (the NB/DSIR oracle recipe) → exact restatement
      math.floor(math.log((nd.toDouble - df + 0.5) / (df + 0.5) + 1.0)
        * 1e6).toLong.toDouble / 1e6
    }
    val norm = lit(1.2) * (lit(0.25) +
      lit(0.75) * col("dl").cast(DoubleType) / lit(avgdl))
    def contrib(i: Int): Column = {
      val tf = element_at(col("tfs"), i + 1).cast(DoubleType)
      lit(idf(i)) * (tf * lit(2.2)) / (tf + norm)
    }
    counted.select(col("doc_id"),
      element_at(col("tfs"), 1).as("tf_" + Bm25Terms(0)),
      element_at(col("tfs"), 2).as("tf_" + Bm25Terms(1)),
      element_at(col("tfs"), 3).as("tf_" + Bm25Terms(2)),
      (contrib(0) + contrib(1) + contrib(2)).as("score"))
  }

  /** Hybrid dense+sparse retrieval via Reciprocal Rank Fusion (Cormack
    * et al. 2009): fuse the BM25 top-20 for the fixed term query with
    * the cosine top-20 around a fixed query vector —
    * `rrf = Σ 1/(60 + rank)`, absent-from-a-list contributing 0 — and
    * keep the fused top-10. Rank-only fusion sidesteps score
    * comparability between the two retrievers, which is why RRF is the
    * standard first fusion. Scale shape: each leg is its own proven
    * top-k (BM25's TakeOrderedAndProject scan; the kNN equi-join), the
    * fusion then touches ≤ 40 rows — windows and the outer join run on
    * candidate lists, never the corpus. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = bm25Scored(spark, dir)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(HybridDepth)
      .withColumn("bm25_rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast(LongType))
      .select("doc_id", "bm25_rank")
    val emb = Tables.embeddings(spark, dir)
    val dense = Similarity.knnJoin(
        emb.filter(col("vec_id") === HybridQueryVec),
        emb.filter(col("vec_id") =!= HybridQueryVec),
        "vec_id", "embedding", "vec_id", "embedding", k = HybridDepth)
      .select(col("cid").as("doc_id"), col("rank").cast(LongType).as("cos_rank"))
    sparse.join(dense, Seq("doc_id"), "outer")
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        (coalesce(lit(1.0) / (lit(60.0) + col("bm25_rank").cast(DoubleType)), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("cos_rank").cast(DoubleType)), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(Bm25K)
  }
  query("q_hybrid_rrf", Oracle(hybridRrfSql))(hybridRrf)
  /** RRF restated: each leg's rank list (same orderings as the proven
    * leg oracles) full-outer-joined, 1/(60+rank) with absent = 0. */
  private def hybridRrfSql: String =
    s"""$bm25Ctes,
       |sp AS (SELECT doc_id, bm25_rank FROM (
       |         SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) bm25_rank
       |         FROM scored)
       |       WHERE bm25_rank <= $HybridDepth),
       |de AS (SELECT cid AS doc_id, rank AS cos_rank FROM (
       |         SELECT c.vec_id cid,
       |                CAST(ROW_NUMBER() OVER (ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS BIGINT) rank
       |         FROM embeddings q JOIN embeddings c ON q.vec_id = $HybridQueryVec AND c.vec_id <> $HybridQueryVec)
       |       WHERE rank <= $HybridDepth),
       |f AS (SELECT COALESCE(sp.doc_id, de.doc_id) doc_id, sp.bm25_rank, de.cos_rank,
       |        COALESCE(1.0 / (60.0 + sp.bm25_rank), 0.0)
       |        + COALESCE(1.0 / (60.0 + de.cos_rank), 0.0) AS rrf
       |      FROM sp FULL OUTER JOIN de ON de.doc_id = sp.doc_id)
       |SELECT doc_id, bm25_rank, cos_rank, rrf
       |FROM f ORDER BY rrf DESC, doc_id LIMIT $Bm25K""".stripMargin

  private val HybridDepth = 20
  private val HybridQueryVec = 0L

  /** BM25 query terms — each border-free (no proper prefix that is also
    * a suffix) and a whole word wherever it occurs in this corpus, the
    * two conditions that make the oracle's REPLACE count exact. */
  private val Bm25Terms = Array("spark", "batch", "merge")
  private val Bm25K = 10

  /** The shared BM25 CTE chain ending in the `scored` select — REPLACE-
    * length term frequencies (exact, see [[bm25TopK]]'s preconditions),
    * the same six corpus scalars, the fixed-point-log IDF, and per-row
    * double arithmetic in the identical association order as the Column
    * tree. Reused verbatim by [[bm25Sql]] and the hybrid-RRF oracle. */
  private def bm25Ctes: String = {
    val Array(t1, t2, t3) = Bm25Terms
    def tfExpr(t: String, n: Int) =
      s"CAST((LENGTH(text) - LENGTH(REPLACE(text, '$t', ''))) // ${t.length} AS BIGINT) tf$n"
    s"""WITH d AS (SELECT doc_id, text, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) dl FROM documents),
       |tf AS (SELECT doc_id, dl, ${tfExpr(t1, 1)}, ${tfExpr(t2, 2)}, ${tfExpr(t3, 3)} FROM d),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) nd, CAST(SUM(dl) AS BIGINT) sdl,
       |              CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) df1,
       |              CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) df2,
       |              CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) df3
       |       FROM tf),
       |idf AS (SELECT nd, sdl,
       |          CAST(FLOOR(LN((CAST(nd AS DOUBLE) - df1 + 0.5) / (df1 + 0.5) + 1.0) * 1000000.0) AS BIGINT) i1,
       |          CAST(FLOOR(LN((CAST(nd AS DOUBLE) - df2 + 0.5) / (df2 + 0.5) + 1.0) * 1000000.0) AS BIGINT) i2,
       |          CAST(FLOOR(LN((CAST(nd AS DOUBLE) - df3 + 0.5) / (df3 + 0.5) + 1.0) * 1000000.0) AS BIGINT) i3
       |        FROM st),
       |sc AS (SELECT doc_id, tf1, tf2, tf3,
       |         1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / nd)) nrm,
       |         CAST(i1 AS DOUBLE) / 1000000.0 id1,
       |         CAST(i2 AS DOUBLE) / 1000000.0 id2,
       |         CAST(i3 AS DOUBLE) / 1000000.0 id3
       |       FROM tf CROSS JOIN idf),
       |scored AS (SELECT doc_id, tf1, tf2, tf3,
       |         id1 * (CAST(tf1 AS DOUBLE) * 2.2) / (CAST(tf1 AS DOUBLE) + nrm)
       |         + id2 * (CAST(tf2 AS DOUBLE) * 2.2) / (CAST(tf2 AS DOUBLE) + nrm)
       |         + id3 * (CAST(tf3 AS DOUBLE) * 2.2) / (CAST(tf3 AS DOUBLE) + nrm) AS score
       |       FROM sc)""".stripMargin
  }

  /** Label-separation audit — whether the embedding space can carry the
    * label structure the kNN/IVF propagation queries assume: for every
    * unordered label pair, the L2 distance between the class centroids
    * next to each class's mean member-to-own-centroid distance, and
    * `separation` = centroid_dist / mean(intra) (a Davies-Bouldin-style
    * margin: ≲ 1 means the classes overlap and propagated labels near
    * the boundary are noise — publish THIS before trusting
    * q_knn_labels' votes). Exactness: the sourceDrift fixed-point
    * doctrine end to end — per-(label, dim) sums exact integers on
    * DECIMAL(38,0), per-dim squared differences floor-quantized to
    * 1e-12, per-vector distances floor-quantized to 1e-6 BEFORE the
    * per-class mean (summing raw double distances would be
    * order-dependent), every derived double from one mirrored IEEE op
    * order, NULL separation on the degenerate zero-spread corpus.
    * Scale shape: the explode feeds ONE map-side-combined centroid
    * aggregate; member distances join the labels×dims centroid table
    * back as a BROADCAST; everything else is labels²-sized. */
  def labelSeparation(spark: SparkSession, dir: String): DataFrame = {
    // fanOutToCores measured a net loss here (0.79 → 1.09 s idle min):
    // the posexplode feeds a (label, dim)-keyed decimal hash aggregate,
    // and 32 fanned tasks each allocate a labels×dims BigDecimal agg
    // table — the collocationsTopK lesson; left on the 1-task scan
    val exploded = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
    Materialize.during(exploded) { x =>
      // labels x dims; feeds the pair join AND the member-distance broadcast
      val cent = Materialize.pin(x.groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType)
            .cast(DecimalType(38, 0))).as("s_fx"))
        .select(col("label"), col("dim"),
          (col("s_fx").cast(DoubleType) / col("n") / lit(1e6)).as("c")))
      val pairD = cent.as("a").join(cent.as("b"),
          col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
        .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
          floor((col("a.c") - col("b.c")) * (col("a.c") - col("b.c")) *
            lit(1e12)).cast(LongType).as("d2fx"))
        .groupBy("label_a", "label_b")
        .agg(sqrt(sum(col("d2fx")).cast(DoubleType) / lit(1e12))
          .as("centroid_dist"))
      // labels-sized; joined twice below
      val intra = Materialize.pin(x.join(broadcast(cent), Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(floor((col("v").cast(DoubleType) - col("c")) *
          (col("v").cast(DoubleType) - col("c")) * lit(1e12))
          .cast(LongType)).as("d2"))
        .select(col("label"),
          floor(sqrt(col("d2").cast(DoubleType) / lit(1e12)) * lit(1e6))
            .cast(LongType).as("dfx"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("dfx")).cast(DoubleType) / count(lit(1)) / lit(1e6))
            .as("intra")))
      pairD
        .join(broadcast(intra.select(col("label").as("label_a"),
          col("n_vecs").as("n_a"), col("intra").as("intra_a"))), Seq("label_a"))
        .join(broadcast(intra.select(col("label").as("label_b"),
          col("n_vecs").as("n_b"), col("intra").as("intra_b"))), Seq("label_b"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          col("centroid_dist"), col("intra_a"), col("intra_b"),
          when(col("intra_a") + col("intra_b") === 0,
            lit(null).cast(DoubleType))
            .otherwise(col("centroid_dist") * lit(2.0) /
              (col("intra_a") + col("intra_b"))).as("separation"))
        .orderBy("label_a", "label_b")
    }
  }
  // label separation: the q_label_centroids fixed-point sums, pair
  // distances and per-member distances floor-quantized before any
  // cross-row mean, every double in the same mirrored IEEE op order
  query("q_label_separation", Oracle(
      """WITH x AS (SELECT vec_id, label, UNNEST(RANGE(LEN(embedding))) dim,
        |                  UNNEST(embedding) v FROM embeddings),
        |s AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) n,
        |             SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) s_fx
        |      FROM x GROUP BY 1, 2),
        |cent AS (SELECT label, dim, CAST(s_fx AS DOUBLE) / n / 1e6 c FROM s),
        |pd AS (SELECT a.label label_a, b.label label_b,
        |              CAST(SUM(CAST(FLOOR((a.c - b.c) * (a.c - b.c) * 1e12) AS BIGINT)) AS BIGINT) dist_fx
        |       FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label GROUP BY 1, 2),
        |pdist AS (SELECT label_a, label_b, SQRT(CAST(dist_fx AS DOUBLE) / 1e12) centroid_dist FROM pd),
        |md AS (SELECT x.vec_id, x.label,
        |              CAST(SUM(CAST(FLOOR((CAST(x.v AS DOUBLE) - c.c) * (CAST(x.v AS DOUBLE) - c.c) * 1e12) AS BIGINT)) AS BIGINT) d2
        |       FROM x JOIN cent c ON c.label = x.label AND c.dim = x.dim GROUP BY 1, 2),
        |mfx AS (SELECT label, CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE) / 1e12) * 1e6) AS BIGINT) dfx FROM md),
        |intra AS (SELECT label, CAST(COUNT(*) AS BIGINT) n_vecs,
        |                 CAST(SUM(dfx) AS DOUBLE) / COUNT(*) / 1e6 AS intra FROM mfx GROUP BY 1)
        |SELECT p.label_a, p.label_b, ia.n_vecs n_a, ib.n_vecs n_b, p.centroid_dist,
        |       ia.intra intra_a, ib.intra intra_b,
        |       CASE WHEN ia.intra + ib.intra = 0 THEN NULL
        |            ELSE p.centroid_dist * 2.0 / (ia.intra + ib.intra) END AS separation
        |FROM pdist p JOIN intra ia ON ia.label = p.label_a
        |             JOIN intra ib ON ib.label = p.label_b
        |ORDER BY p.label_a, p.label_b""".stripMargin))(labelSeparation)

  /** IVF oracle machinery: the deterministic spherical k-means of
    * [[Ivf]] restated as chained CTEs. Every floating-point fold is
    * spelled out as the same left-associated `0.0 + t1 + t2 + …` chain
    * the Spark `aggregate` performs, and every cross-record mean runs its
    * SUM in DECIMAL(38,18) in both engines, so centroids — and therefore
    * assignments, probes, and pairs — agree bit-for-bit. */
  // 0.0 + (e[1]-c[1])^2 + ... — Ivf.sqDist's fold order; shared by
  // ivfCtes and the probe CTEs oracles append on top of it
  private def ivfDistChain(e: String, c: String): String =
    (0 until IvfDims).map(d => s"($e[${d + 1}]-$c[${d + 1}])*($e[${d + 1}]-$c[${d + 1}])")
      .mkString("0.0 + ", " + ", "")
  /** Name of [[ivfCtes]]' final trained-centroid CTE. */
  private def ivfFinalCent: String = s"cent$IvfIters"

  private def ivfCtes: String = {
    val dims = IvfDims
    def distChain(e: String, c: String): String = ivfDistChain(e, c)
    val normChain = (0 until dims).map(d => s"raw[${d + 1}]*raw[${d + 1}]")
      .mkString("0.0 + ", " + ", "")
    val sb = new StringBuilder
    sb ++= s"""WITH rawv AS (SELECT vec_id id, CAST(embedding AS DOUBLE[]) raw FROM embeddings),
              |base AS (SELECT id, raw, LIST_TRANSFORM(raw, x -> x / sqrt($normChain)) e FROM rawv),
              |ex AS (SELECT id, d, e[d+1] v FROM base, UNNEST(RANGE($dims)) t(d)),
              |c0 AS (SELECT ((id % $IvfNlist) + $IvfNlist) % $IvfNlist cl, d, CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*) cv FROM ex GROUP BY 1,2),
              |cent0 AS (SELECT cl, LIST(cv ORDER BY d) c FROM c0 GROUP BY cl)""".stripMargin
    // each assignment computes the scalar distance in an inner subquery,
    // then windows over (id, cl, dist) only — the 64-double lists are
    // projected away BEFORE the per-id sort, and the unrolled fold chain
    // appears exactly once per stage (a round-15 DuckDB compare OOMed
    // on accumulated oracle memory; same doubles, same ordering)
    var prev = "cent0"
    for (it <- 1 to IvfIters) {
      sb ++= s""",
                |a$it AS (SELECT id, cl FROM (SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${distChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $prev c)) WHERE rn=1),
                |cs$it AS (SELECT a.cl, x.d, CAST(SUM(CAST(x.v AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*) cv FROM ex x JOIN a$it a ON a.id=x.id GROUP BY 1,2),
                |cent$it AS (SELECT cl, LIST(cv ORDER BY d) c FROM cs$it GROUP BY cl)""".stripMargin
      prev = s"cent$it"
    }
    sb ++= s""",
              |assign AS (SELECT id, cl FROM (SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${distChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $prev c)) WHERE rn=1)""".stripMargin
    sb.result()
  }

  /** Opt-in suffixes on [[ivfCtes]] — only the oracles that read them
    * append them, so the unrolled distance chain is not carried (or
    * parsed) by the dozen queries that only need `assign`. */
  private def ivfOdistCte: String =
    s""",
       |odist AS (SELECT id, cl, dist FROM (SELECT id, cl, dist, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${ivfDistChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $ivfFinalCent c)) WHERE rn=1)""".stripMargin
  private def ivfProbesCte: String =
    s""",
       |probes AS (SELECT id qid, cl FROM (SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${ivfDistChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $ivfFinalCent c WHERE b.id<$IvfNq)) WHERE rn<=$IvfNprobe)""".stripMargin

  /** PQ oracle machinery — [[graft.operators.Pq]] restated per block on
    * top of [[ivfCtes]]'s normalized `base`/`ex` frames: block `j` takes
    * dims [j·len, (j+1)·len), seeds codeword `((id+j) % k + k) % k`
    * (the Scala side's id-offset floorMod init), runs the same
    * decimal-mean Lloyd iterations with the same left-associated
    * squared-L2 chains and lower-index tie-break, then reconstructs each
    * vector as its assigned codewords flattened in dimension order.
    * Produces CTE `precon` (id, r) — the reconstruction every PQ query
    * scores against. */
  private def pqCtes: String = {
    val len = IvfDims / PqM
    def distChain(e: String, c: String): String =
      (0 until len).map(d => s"($e[${d + 1}]-$c[${d + 1}])*($e[${d + 1}]-$c[${d + 1}])")
        .mkString("0.0 + ", " + ", "")
    val sb = new StringBuilder
    for (j <- 0 until PqM) {
      val off = j * len
      sb ++= s""",
                |pex$j AS (SELECT id, d - $off AS d, v FROM ex WHERE d >= $off AND d < ${off + len}),
                |psub$j AS (SELECT id, LIST(v ORDER BY d) e FROM pex$j GROUP BY id),
                |pc0_$j AS (SELECT (((id + $j) % $PqK) + $PqK) % $PqK cw, d, CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*) cv FROM pex$j GROUP BY 1,2),
                |pcent0_$j AS (SELECT cw, LIST(cv ORDER BY d) c FROM pc0_$j GROUP BY cw)""".stripMargin
      var prev = s"pcent0_$j"
      for (it <- 1 to PqIters) {
        // COALESCE(new, previous): a codeword with no members this
        // iteration keeps its previous centroid — Ivf.centroids'
        // empty-cluster rule, which keeps the codebook at cardinality k
        sb ++= s""",
                  |pa${it}_$j AS (SELECT id, cw FROM (SELECT id, cw, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cw ASC) rn FROM (SELECT s.id, c.cw, (${distChain("s.e", "c.c")}) dist FROM psub$j s CROSS JOIN $prev c)) WHERE rn=1),
                  |pcs${it}_$j AS (SELECT a.cw, x.d, CAST(SUM(CAST(x.v AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*) cv FROM pex$j x JOIN pa${it}_$j a ON a.id=x.id GROUP BY 1,2),
                  |pcent${it}_$j AS (SELECT p.cw, COALESCE(n.c, p.c) c FROM $prev p LEFT JOIN (SELECT cw, LIST(cv ORDER BY d) c FROM pcs${it}_$j GROUP BY cw) n ON n.cw = p.cw)""".stripMargin
        prev = s"pcent${it}_$j"
      }
      sb ++= s""",
                |paF$j AS (SELECT id, cw FROM (SELECT id, cw, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cw ASC) rn FROM (SELECT s.id, c.cw, (${distChain("s.e", "c.c")}) dist FROM psub$j s CROSS JOIN $prev c)) WHERE rn=1),
                |ppr$j AS (SELECT a.id, t.d + $off AS gd, c.c[t.d+1] AS cv FROM paF$j a JOIN $prev c ON c.cw = a.cw, UNNEST(RANGE($len)) t(d))""".stripMargin
    }
    sb ++= s""",
              |precon AS (SELECT id, LIST(cv ORDER BY gd) r FROM (${(0 until PqM).map(j => s"SELECT * FROM ppr$j").mkString(" UNION ALL ")}) GROUP BY id)""".stripMargin
    sb.result()
  }

  /** SemDeDup end-to-end oracle: the k-means CTEs (q_similarity_ivf,
    * bit-exact), the within-cluster cosine pair set (q_embedding_dedup),
    * then connected components by K-BOUNDED min-label iteration instead of
    * a `WITH RECURSIVE` transitive closure — the closure materializes
    * O(nodes × component-size) `reach` rows and OOMed a
    * memory-squeezed DuckDB compare process (round 9). Min-label propagates the
    * component minimum one hop per level, so memory stays linear in edges;
    * SemDeDup components are near-cliques (within-cluster cosine balls),
    * so the level budget covers any realistic diameter with margin. Each
    * level is `MATERIALIZED`: levels reference their predecessor three
    * times, and inlining would otherwise multiply the plan per level
    * (exponential blowup). LEFT-joined back onto the full vector universe
    * so unpaired vectors keep themselves. Each level combines two
    * monotone steps: a HOOK (neighbor-min over `edges`, one hop of
    * connectivity per level) and a JUMP (label-of-label — every label IS
    * a node id of the same component, so `l(l(node))` compresses formed
    * label chains, the pointer-doubling step). The jump accelerates only
    * along already-formed chains; into territory whose ids are locally
    * minimal the frontier still moves one hop per level, so the honest
    * bound is "min-eccentricity ≤ K", not 2^K (measured: the round-15
    * sf0.1 oracle drive converges at level 13; sf0.01 within 8; the toy
    * 40-path within 8). K = 24 gives ~2× margin over the worst measured
    * scale. The round-14 form hooked over a materialized 2-HOP closure
    * (edges ∪ edges∘edges, an O(Σ degree²) table) with K = 8 — an sf0.1
    * component breached that 16-eccentricity cap, and the closure was
    * the memory hog that limited K in the first place; the jump form
    * removed the quadratic closure, so each level is a node-count-sized
    * table and 24 levels cost less than 8 closure levels did (the full
    * 32-level probe runs in ~4s at sf0.1). Labels only ever take MINs of
    * node ids inside the same component (hook brings edge-neighbor
    * labels, jump brings a label-node's own label), so the fixpoint is
    * the component minimum — exactly Spark's labeling. The bound stays
    * oracle-side only and GUARDED: the `conv` CTE compares l_K with
    * l_{K-1} and routes any un-converged node through DuckDB's error()
    * with a raise-K message, so an overrun on regenerated/larger data
    * fails loudly as an oracle-bound breach instead of reading as a
    * Spark labeling bug. */
  private val semanticDedupSql = {
    val K = 24
    val levels = (1 to K).map { i =>
      s"""l$i AS MATERIALIZED (SELECT node, MIN(lab) AS lab FROM (
         |       SELECT e.a AS node, LEAST(la.lab, lb.lab) AS lab
         |       FROM edges e JOIN l${i - 1} la ON la.node = e.a
         |       JOIN l${i - 1} lb ON lb.node = e.b
         |       UNION ALL
         |       SELECT c.node, p.lab FROM l${i - 1} c
         |       JOIN l${i - 1} p ON p.node = c.lab
         |     ) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""$ivfCtes,
       |an AS MATERIALIZED (SELECT a.cl, a.id, b.raw FROM assign a JOIN rawv b ON b.id = a.id),
       |sp AS MATERIALIZED (SELECT x.id da, y.id db
       |       FROM an x JOIN an y ON x.cl=y.cl AND x.id<y.id
       |       WHERE LIST_COSINE_SIMILARITY(x.raw, y.raw) >= $SemDedupThreshold),
       |edges AS MATERIALIZED (SELECT da a, db b FROM sp UNION SELECT db a, da b FROM sp),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM edges),
       |$levels,
       |conv AS (SELECT COUNT(*) c FROM l$K k JOIN l${K - 1} p
       |         ON p.node = k.node AND p.lab <> k.lab),
       |cc AS (SELECT node,
       |         CASE WHEN (SELECT c FROM conv) > 0
       |              THEN CAST(error('semantic-dedup oracle: hook+jump min-label did not converge within K=$K levels (component min-eccentricity > $K) — raise K in semanticDedupSql; this is an ORACLE bound, not a Spark labeling bug') AS BIGINT)
       |              ELSE lab END AS rep FROM l$K)
       |SELECT b.id AS vec_id, COALESCE(cc.rep, b.id) AS rep_id,
       |       CAST(COALESCE(cc.rep, b.id) = b.id AS INT) AS kept
       |FROM rawv b LEFT JOIN cc ON cc.node = b.id ORDER BY vec_id""".stripMargin
  }
}
