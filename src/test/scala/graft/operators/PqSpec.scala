package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: training determinism, code bounds, the
  * persisted-index round trip, and reconstruction quality (the property
  * that makes PQ an index and not noise). */
class PqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"
  private def base = Ivf.base(graft.Tables.embeddings(spark, dir), "vec_id", "embedding")

  private val M = 8; private val K = 16; private val Iters = 1

  test("codebooks are bit-identical under different input partitioning") {
    val b1 = Pq.trainCodebooks(base, M, K, Iters)
    val b2 = Pq.trainCodebooks(base.repartition(13), M, K, Iters)
    assert(b1 == b2)
    assert(b1.size == M && b1.forall(_.size == K) &&
      b1.forall(_.forall(_.size == 64 / M)))
  }

  test("codes are in [0, k) and reconstruction is the assigned codeword per block") {
    val books = Pq.trainCodebooks(base, M, K, Iters)
    val len = 64 / M
    val rows = base.select(col("id"),
        Pq.codes(col("e"), books).as("codes"),
        Pq.reconstruct(col("e"), books).as("r"))
      .collect()
    rows.foreach { row =>
      val codes = row.getSeq[Long](1)
      val r = row.getSeq[Double](2)
      assert(codes.size == M && codes.forall(c => c >= 0 && c < K))
      assert(r.size == 64)
      // each block of the reconstruction IS the assigned codeword
      (0 until M).foreach { j =>
        assert(r.slice(j * len, (j + 1) * len) == books(j)(codes(j).toInt),
          s"block $j of id ${row.getLong(0)} is not its codeword")
      }
    }
  }

  test("persisted codebooks round-trip bit-exactly and reconstruct identically") {
    val books = Pq.trainCodebooks(base, M, K, Iters)
    val idx = java.nio.file.Files.createTempDirectory("pq_idx").toString
    Pq.writeBooks(spark, books, idx)
    assert(Pq.booksExist(spark, idx))
    val reread = Pq.readBooks(spark, idx)
    assert(reread == books)
    def recon(bk: Seq[Seq[Seq[Double]]]) =
      base.select(col("id"), Pq.reconstruct(col("e"), bk).as("dq"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(recon(reread) == recon(books),
      "reconstruction from re-read books must be bit-identical")
  }

  test("reconstruction preserves direction: mean cosine beats the 1-codeword baseline") {
    val books = Pq.trainCodebooks(base, M, K, Iters)
    def meanCos(bk: Seq[Seq[Seq[Double]]]): Double =
      base.select(avg(graft.functions.VectorOps.cosineSimilarity(
          col("e"), Pq.reconstruct(col("e"), bk))).as("m"))
        .head.getDouble(0)
    val pq = meanCos(books)
    val collapsed = meanCos(Pq.trainCodebooks(base, M, 1, Iters))
    assert(pq > collapsed + 0.05,
      s"16-codeword books ($pq) must beat the global-mean baseline ($collapsed)")
    assert(pq > 0.5, s"reconstruction barely correlates with the input: $pq")
  }
}
