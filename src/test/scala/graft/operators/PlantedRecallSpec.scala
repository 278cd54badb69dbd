package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Recall contracts on a PLANTED-neighbor embedding set.
  *
  * The synthetic `embeddings` test table is noise-dominated (no
  * high-cosine pairs exist), so recall measured there says little about
  * ANN quality on real embedding corpora, which are clustered and contain
  * near-duplicates. This set plants the structure explicitly:
  *
  *   - 20 cluster centers in 64 dims (deterministic splitmix64 noise),
  *   - 24 members per cluster = 480 points, each center + small noise,
  *   - every query point (ids 0-49) gets a PLANTED near-duplicate
  *     (cosine > 0.99) at id 1000+q.
  *
  * Contracts (documented thresholds, deterministic data — not flaky):
  *   - planted-neighbor hit rate: the near-dup must appear in top-5 for
  *     >= 90% of queries for both LSH (16 tables x 4 planes) and IVF
  *     (nlist=20, nprobe=4) — near-dup detection is the production use.
  *   - recall@5 vs brute force >= 0.8 for both — within-cluster
  *     neighbors are genuinely close here, so the bucketed paths must
  *     recover most of the true top-k, far above the random baseline
  *     (nprobe/nlist = 0.2).
  */
class PlantedRecallSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val Dims = 64
  private val Clusters = 20
  private val PerCluster = 24
  private val NQueries = 50
  private val K = 5

  private def mix(z0: Long): Double = {
    var z = z0 * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    // uniform in [-1, 1)
    (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  private lazy val planted: DataFrame = {
    import spark.implicits._
    val centers = Array.tabulate(Clusters, Dims)((c, d) => mix(c.toLong * 131 + d))
    val members = for {
      c <- 0 until Clusters
      m <- 0 until PerCluster
    } yield {
      val id = (c * PerCluster + m).toLong
      val v = Array.tabulate(Dims)(d =>
        (centers(c)(d) + 0.15 * mix(id * 977 + d + 7)).toFloat)
      (id, v)
    }
    val dups = (0 until NQueries).map { q =>
      val base = members(q)._2
      val id = 1000L + q
      val v = Array.tabulate(Dims)(d => (base(d) + 0.01 * mix(id * 331 + d)).toFloat)
      (id, v)
    }
    (members ++ dups).toDF("vec_id", "embedding")
  }

  private def topKMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("qid", "rank", "cid").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      }

  private lazy val exact = topKMap(
    Similarity.bruteForceTopK(planted, "vec_id", "embedding", NQueries, K))

  private def plantedHitRate(approx: Map[Long, Seq[Long]]): Double =
    (0 until NQueries).count(q => approx.getOrElse(q.toLong, Nil).contains(1000L + q))
      .toDouble / NQueries

  private def recallAtK(approx: Map[Long, Seq[Long]]): Double = {
    val hits = exact.map { case (q, truth) =>
      truth.count(approx.getOrElse(q, Nil).contains(_))
    }.sum
    hits.toDouble / exact.values.map(_.size).sum
  }

  test("brute force finds every planted near-dup (sanity: the structure is real)") {
    assert(plantedHitRate(exact) == 1.0)
  }

  test("LSH top-k on the planted set: >=90% planted-dup hits, recall@5 >= 0.8") {
    val lsh = topKMap(Similarity.lshTopK(planted, "vec_id", "embedding",
      NQueries, K, planes = 4, tables = 16, dims = Dims))
    val hit = plantedHitRate(lsh)
    val rec = recallAtK(lsh)
    assert(hit >= 0.9, s"planted-dup hit rate = $hit")
    assert(rec >= 0.8, s"recall@5 = $rec")
  }

  test("IVF top-k on the planted set: >=90% planted-dup hits, recall@5 >= 0.8") {
    val b = Ivf.base(planted, "vec_id", "embedding")
    val ivf = topKMap(Ivf.topKWith(b, Ivf.centroids(b, nlist = Clusters, iters = 2),
      nQueries = NQueries, k = K, nprobe = 4))
    val hit = plantedHitRate(ivf)
    val rec = recallAtK(ivf)
    assert(hit >= 0.9, s"planted-dup hit rate = $hit")
    assert(rec >= 0.8, s"recall@5 = $rec")
  }

  test("IVF-SQ8 rerank matches plain IVF quality: int8 shortlist costs no recall") {
    import org.apache.spark.sql.functions._
    // the composed compressed-index path (q_ivf_rerank's shape): probed
    // clusters -> int8-dequantized approximate scores -> exact rerank.
    // With shortlist >> k, the ~0.4%-error quantized scores must not
    // displace true neighbors out of the shortlist: same contracts as
    // the uncompressed IVF path
    val b = Ivf.base(planted, "vec_id", "embedding")
    val cents = Ivf.centroids(b, nlist = Clusters, iters = 2)
    val dq = planted.select(
      col("vec_id").cast("long").as("id"),
      Quantize.roundTrip(col("embedding")).as("dq"))
    val sq8 = topKMap(Ivf.sq8RerankWith(b, cents, dq,
      nQueries = NQueries, k = K, nprobe = 4, shortlist = 20))
    val hit = plantedHitRate(sq8)
    val rec = recallAtK(sq8)
    assert(hit >= 0.9, s"planted-dup hit rate = $hit")
    assert(rec >= 0.8, s"recall@5 = $rec")
    // and the exact rerank makes the surviving ranks TRUE cosine order:
    // every returned top-k set equals plain IVF's on the same probes
    val ivf = topKMap(Ivf.topKWith(b, cents, NQueries, K, nprobe = 4))
    val agree = (0 until NQueries).count(q =>
      sq8.getOrElse(q.toLong, Nil) == ivf.getOrElse(q.toLong, Nil))
    assert(agree >= (NQueries * 0.9).toInt,
      s"sq8 top-k agrees with uncompressed IVF on only $agree/$NQueries queries")
  }

  test("IVF-PQ rerank: the 32x-compressed shortlist still finds the planted dups") {
    import org.apache.spark.sql.functions._
    // q_pq_rerank's shape on the planted set: probed clusters -> PQ
    // symmetric-distance approx (codebook reconstructions both sides) ->
    // exact rerank. PQ scores are COARSE on purpose (~8 bytes per
    // vector): cluster mates collapse onto identical code vectors, tie
    // at approx sim 1.0, and the deterministic cid-asc tie-break ranks
    // a high-id near-dup behind every tied mate — so the shortlist must
    // cover the tie mass (up to a whole probed cluster), not just a few
    // multiples of k. With that sizing the exact rerank restores the
    // same contracts; with shortlist 20 the planted hit rate measurably
    // collapses (0.32 when this contract was added).
    val b = Ivf.base(planted, "vec_id", "embedding")
    val cents = Ivf.centroids(b, nlist = Clusters, iters = 2)
    val books = Pq.trainCodebooks(b, m = 8, k = 16, iters = 1)
    val pqView = b.select(col("id"), Pq.reconstruct(col("e"), books).as("dq"))
    val pq = topKMap(Ivf.sq8RerankWith(b, cents, pqView,
      nQueries = NQueries, k = K, nprobe = 4, shortlist = 64))
    val hit = plantedHitRate(pq)
    val rec = recallAtK(pq)
    assert(hit >= 0.9, s"planted-dup hit rate = $hit")
    assert(rec >= 0.7, s"recall@5 = $rec")
  }

  test("ivfRecall audit: probing every cluster reports recall exactly 1.0") {
    // q_ivf_recall's own correctness contract: with nprobe = nlist the
    // probed candidate set IS the whole corpus (minus self), both sides
    // score the same native cosine with the same (sim desc, cid asc)
    // tie-break, so the audit must report n_hits == n_exact == k and
    // recall == 1.0 for EVERY query — any other number is a bug in the
    // audit itself, not in the index.
    val b = Ivf.base(planted, "vec_id", "embedding")
    val cents = Ivf.centroids(b, nlist = Clusters, iters = 2)
    val rows = graft.queries.AnnQueries
      .ivfRecallWith(b, cents, NQueries, K, nprobe = Clusters)
      .collect()
    assert(rows.length == NQueries)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_exact")) == K.toLong, s"row $r")
      assert(r.getLong(r.fieldIndex("n_hits")) == K.toLong, s"row $r")
      assert(r.getDouble(r.fieldIndex("recall")) == 1.0, s"row $r")
    }
  }

  test("ivfRecall audit: served-nprobe recall matches the planted-structure floor") {
    // the tuning-metric use: at the partial probe (nprobe=4 of 20) the
    // audit's mean recall must sit at the same >= 0.8 floor the direct
    // IVF contract above pins — the audit measures the SAME serving
    // path, so a lower number would mean the audit disagrees with the
    // index it claims to measure.
    val b = Ivf.base(planted, "vec_id", "embedding")
    val cents = Ivf.centroids(b, nlist = Clusters, iters = 2)
    val rows = graft.queries.AnnQueries
      .ivfRecallWith(b, cents, NQueries, K, nprobe = 4)
      .collect()
    assert(rows.length == NQueries)
    val mean = rows.map(r => r.getDouble(r.fieldIndex("recall"))).sum / NQueries
    assert(mean >= 0.8, s"mean recall@$K at nprobe=4 was $mean")
    // and it can never exceed the full-probe ceiling
    assert(rows.forall(r => r.getDouble(r.fieldIndex("recall")) <= 1.0))
  }
}
