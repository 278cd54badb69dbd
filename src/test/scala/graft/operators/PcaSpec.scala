package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-point power iteration: driver-side brute-force parity on the
  * fixture embeddings, bit-equality under repartitioning (the integer-sum
  * claim), and recovery of a planted dominant direction. */
class PcaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  /** [[Pca.fit]] as the (dim, mean, loading, eigval) report rows. */
  private def fitRows(emb: org.apache.spark.sql.DataFrame, dims: Int,
      iters: Int): Array[(Long, Double, Double, Double)] =
    Pca.toFrame(spark, Pca.fit(emb, "vec_id", "embedding", dims, iters))
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))

  /** The exact arithmetic of [[Pca.fit]] on plain arrays. */
  private def brute(vecs: Array[Array[Double]], iters: Int)
      : (Array[Double], Array[Double], Double) = {
    val dims = vecs.head.length
    val n = vecs.length
    val means = Array.tabulate(dims) { d =>
      vecs.map(x => math.floor(x(d) * 1e6).toLong).sum.toDouble / n / 1e6
    }
    var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    var nrm = 0.0
    for (_ <- 1 to iters) {
      val dots = vecs.map { x =>
        (0 until dims).map(d =>
          math.floor(1e6 * (x(d) - means(d)) * v(d)).toLong).sum.toDouble / 1e6
      }
      val w = Array.tabulate(dims) { d =>
        vecs.indices.map(i =>
          math.floor(1e6 * (vecs(i)(d) - means(d)) * dots(i)).toLong)
          .sum.toDouble / 1e6 / n.toDouble
      }
      val nrm2Fx = w.map(x => math.floor(1e12 * x * x).toLong).sum
      nrm = math.sqrt(nrm2Fx.toDouble / 1e12)
      v = w.map(_ / nrm)
    }
    (means, v, nrm)
  }

  test("Pca.fit equals the driver-side brute force on sf0.001") {
    val emb = graft.Tables.embeddings(spark, dir)
    val vecs = emb.select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val (means, v, eig) = brute(vecs, iters = 3)
    val got = fitRows(emb, dims = 64, iters = 3)
    assert(got.length == 64)
    got.foreach { case (d, m, l, e) =>
      assert(m == means(d.toInt), s"mean at dim $d")
      assert(l == v(d.toInt), s"loading at dim $d")
      assert(e == eig, s"eigval at dim $d")
    }
    // unit norm within the fixed-point quantization error
    assert(math.abs(got.map(r => r._3 * r._3).sum - 1.0) < 1e-4)
    assert(eig > 0.0)
  }

  test("Pca.fit is bit-equal under repartitioning") {
    val emb = graft.Tables.embeddings(spark, dir)
    val a = fitRows(emb, 64, 3)
    val b = fitRows(emb.repartition(7), 64, 3)
    assert(a.toSeq == b.toSeq)
  }

  test("pcaResidual: explained ratio is consistent with pcaPower and embeddingMoments") {
    val res = graft.queries.AnnQueries.pcaResidual(spark, dir).collect().head
    val (eig, trace, ratio) = (res.getDouble(0), res.getDouble(1), res.getDouble(2))
    assert(trace > 0.0 && eig > 0.0)
    // the top eigenvalue estimate can never exceed the total variance,
    // and a non-degenerate corpus explains a nonzero share
    assert(ratio > 0.0 && ratio <= 1.0 + 1e-9, s"ratio $ratio")
    assert(ratio == eig / trace)
    // eigval agrees with the q_pca_power report column
    val eigFromPower = graft.queries.AnnQueries.pcaPower(spark, dir)
      .select("eigval").collect().head.getDouble(0)
    assert(eig == eigFromPower)
    // trace agrees with the moments variances re-summed via the same
    // fixed-point quantization
    val trBrute = graft.queries.AnnQueries.embeddingMoments(spark, dir)
      .select("variance").collect()
      .map(r => math.floor(r.getDouble(0) * 1e12).toLong).sum.toDouble / 1e12
    assert(trace == trBrute)
  }

  test("model artifact round-trips bit-identically through parquet") {
    val emb = graft.Tables.embeddings(spark, dir)
    val m = Pca.fit(emb, "vec_id", "embedding", 64, 3)
    val path = java.nio.file.Files
      .createTempDirectory("pca_model").toString + "/model"
    assert(!Artifacts.markerExists(spark, path))
    Pca.writeModel(spark, m, path)
    assert(Artifacts.markerExists(spark, path))
    val back = Pca.readModel(spark, path, 64)
    assert(back.means.toSeq == m.means.toSeq)
    assert(back.loading.toSeq == m.loading.toSeq)
    assert(back.eigval == m.eigval)
    // a shape mismatch (e.g. a racing double-write leaving two part
    // files) must throw so the caller's degrade-to-retrain fires
    intercept[IllegalArgumentException] { Pca.readModel(spark, path, 32) }
  }

  test("Pca.fit recovers a planted dominant direction") {
    import spark.implicits._
    val dims = 8
    // planted unit direction (1,1,0,...)/√2 with deterministic spread t
    // in [-1,1] plus small deterministic off-direction noise
    val target = Array(1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0).map(_ / math.sqrt(2.0))
    val rows = (0 until 200).map { i =>
      val t = (i % 41).toDouble / 20.0 - 1.0
      val vec = Array.tabulate(dims)(d =>
        (t * target(d) + 0.01 * (((i * 7 + d * 3) % 11) - 5)).toFloat)
      (i.toLong, vec.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val loading = Pca.fit(df, "vec_id", "embedding", dims, iters = 8).loading
    val cos = math.abs(loading.zip(target).map { case (a, b) => a * b }.sum)
    assert(cos > 0.99, s"|cos(loading, planted)| = $cos")
  }
}
