package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF coarse quantization + SemDeDup: determinism under repartitioning
  * (the decimal-mean claim), cluster sanity, ANN recall vs the exact
  * brute force, and the within-cluster-only pair invariant. */
class IvfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"
  private def emb = graft.Tables.embeddings(spark, dir)

  test("centroids are identical under different partitioning (decimal means)") {
    val c1 = Ivf.centroids(Ivf.base(emb, "vec_id", "embedding"), nlist = 10, iters = 2)
    val c2 = Ivf.centroids(Ivf.base(emb.repartition(13), "vec_id", "embedding"),
      nlist = 10, iters = 2)
    assert(c1.length == 10 && c1.forall(_.length == 64))
    // bit-exact, not approximately equal — the whole point of decimal sums
    assert(c1 == c2)
  }

  test("assignment is a narrow shuffle-free projection covering every vector") {
    val b = Ivf.base(emb, "vec_id", "embedding")
    val assigned = Ivf.assign(b, Ivf.centroids(b, nlist = 10, iters = 2))
    assert(assigned.count() == emb.count())
    assert(assigned.select("id").distinct().count() == emb.count())
    assert(assigned.select("cl").distinct().count() <= 10)
    // literal centroids ⇒ no Exchange anywhere in the assignment plan
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("probed candidate pairs are unique WITHOUT a dedup — the distinct-drop contract") {
    // r16 removed probedCandidates' .distinct() on the argument that
    // assign() emits exactly one (cid, cl) row per corpus id and
    // probeClusters returns distinct cluster ids per query. That argument
    // rests on corpus ids being unique — guard BOTH so a non-unique
    // corpus fails loudly here instead of silently double-counting
    // candidates in every IVF top-k shortlist.
    assert(emb.select("vec_id").distinct().count() == emb.count(),
      "embeddings.vec_id must be unique — the IVF candidate stream's dedup was dropped on it")
    val b = Ivf.base(emb, "vec_id", "embedding")
    val cand = Ivf.probedCandidates(b, Ivf.centroids(b, nlist = 10, iters = 2),
      nQueries = 50, nprobe = 5)
    assert(cand.count() == cand.distinct().count(),
      "(qid, cid) candidates must be unique by construction")
  }

  test("IVF top-k recall vs brute force is well above the probe fraction") {
    val b = Ivf.base(emb, "vec_id", "embedding")
    val ivf = Ivf.topKWith(b, Ivf.centroids(b, nlist = 10, iters = 2),
        nQueries = 50, k = 5, nprobe = 5)
      .select("qid", "cid")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        nQueries = 50, k = 5)
      .select("qid", "cid")
    val hits = ivf.intersect(bf).count()
    val recall = hits.toDouble / bf.count()
    // noise-dominated synthetic embeddings: 0.7+ at nprobe=5/nlist=10
    // (scanning ~half the corpus); real clustered embeddings do far better
    assert(recall >= 0.65, s"recall@5 = $recall")
  }

  test("persisted index round-trips bit-exactly and reproduces the search untrained") {
    val b = Ivf.base(emb, "vec_id", "embedding")
    val cents = Ivf.centroids(b, nlist = 10, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    try {
      assert(!Ivf.indexExists(spark, idx))
      Ivf.writeCentroids(spark, cents, idx)
      assert(Ivf.indexExists(spark, idx))
      // centroids: bit-identical after the parquet round trip
      val reread = Ivf.readCentroids(spark, idx)
      assert(reread == cents)
      // the search served from the re-read index is bit-identical to one
      // served from the trained centroids — no retraining required
      def run(c: Seq[Seq[Double]]) =
        Ivf.topKWith(b, c, nQueries = 20, k = 5, nprobe = 5)
          .orderBy("qid", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(run(reread) == run(cents))
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(idx)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a half-written index (directory, no job-success marker) reads as missing") {
    // a write that died mid-job leaves the directory behind; treating the
    // husk as an index would poison every later read — the existence probe
    // must look for the _SUCCESS marker, so the overwrite retrain heals it
    val idx = java.nio.file.Files.createTempDirectory("ivf_husk").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx, "centroids"))
    assert(!Ivf.indexExists(spark, idx), "bare directory is not an index")
    val b = Ivf.base(emb, "vec_id", "embedding")
    val cents = Ivf.centroids(b, nlist = 10, iters = 2)
    Ivf.writeCentroids(spark, cents, idx)
    assert(Ivf.indexExists(spark, idx), "completed write carries the marker")
    assert(Ivf.readCentroids(spark, idx) == cents)
  }

  test("index root resolves from spark conf; centroid-only writes; queries follow it") {
    val root = java.nio.file.Files.createTempDirectory("graft_root").toString
    spark.conf.set("spark.graft.index.root", root)
    try {
      assert(Ivf.indexRoot(spark) == root)
      val b = Ivf.base(emb, "vec_id", "embedding")
      val cents = Ivf.centroids(b, nlist = 10, iters = 2)
      val path = s"$root/custom_idx"
      Ivf.writeCentroids(spark, cents, path)
      assert(Ivf.indexExists(spark, path))
      assert(Ivf.readCentroids(spark, path) == cents)
      // centroid-only write: no corpus scan, no assignments table
      assert(!new java.io.File(s"$path/assignments").exists())
      // the shared-index queries follow the conf end to end: ivfRerank
      // trains + persists BOTH its indexes under the custom root
      assert(graft.queries.AnnQueries.ivfRerank(spark, dir).count() > 0)
      val ivfIdx = new java.io.File(s"$root/graft_ivf_index").listFiles()
      assert(ivfIdx != null && ivfIdx.nonEmpty, "centroids not under custom root")
      val int8Idx = new java.io.File(s"$root/graft_int8_index").listFiles()
      assert(int8Idx != null && int8Idx.nonEmpty, "int8 index not under custom root")
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("protoPrune drops exactly the ceil-fraction most-prototypical prefix per cluster") {
    val rows = graft.queries.AnnQueries.protoPrune(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.length == emb.count())
    rows.groupBy(_._2).foreach { case (cl, members) =>
      val n = members.length
      val cut = math.ceil(n * 0.2).toLong
      val dropped = members.filter(!_._5)
      assert(dropped.length.toLong == cut, s"cluster $cl")
      // the dropped set is exactly ranks 1..cut — the most-similar prefix
      assert(dropped.map(_._4).sorted.toSeq == (1L to cut),
        s"cluster $cl dropped ranks ${dropped.map(_._4).sorted.toSeq}")
      // rank order agrees with similarity order (ties by id)
      val byRank = members.sortBy(_._4)
      assert(byRank.sliding(2).forall { case Array(a, b) =>
        a._3 > b._3 || (a._3 == b._3 && a._1 < b._1)
      }, s"cluster $cl rank/similarity order")
    }
  }

  test("SemDeDup pairs are within-cluster, above threshold, and deduplicated") {
    val b = Ivf.base(emb, "vec_id", "embedding")
    val pairs = Ivf.semDedupPairsWith(b, Ivf.centroids(b, nlist = 10, iters = 2),
      threshold = 0.35).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.35))
    // every reported pair really shares a cluster
    val cl = Ivf.assign(b, Ivf.centroids(b, nlist = 10, iters = 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.forall(r => cl(r.getLong(0)) == cl(r.getLong(1))))
  }

  test("ivfSweep: recall monotone in nprobe; last row = ivfRecall micro-average") {
    val sweep = graft.queries.AnnQueries.ivfSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(sweep.length == 3 && sweep.map(_._1).toSeq == sweep.map(_._1).sorted.toSeq)
    // nested candidate sets: a superset's extra candidates can only
    // displace non-true neighbors, so recall never decreases
    assert(sweep.sliding(2).forall { case Array(a, b) => a._5 <= b._5 },
      s"recall must be monotone: ${sweep.map(_._5).toSeq}")
    assert(sweep.forall(r => r._4 <= r._3 && r._5 >= 0.0 && r._5 <= 1.0))
    // the sweep's served setting (its max nprobe) must agree with the
    // per-query q_ivf_recall audit micro-averaged
    val rec = graft.queries.AnnQueries.ivfRecall(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val micro = rec.map(_._2).sum.toDouble / rec.map(_._1).sum
    assert(sweep.last._5 == micro,
      s"sweep ${sweep.last._5} vs ivfRecall micro $micro")
  }
}
