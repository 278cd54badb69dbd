package graft.operators

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) over an embedding column — the FAISS-style
  * compression that takes the int8 story ([[Quantize]], 4× smaller) to
  * m·log2(k) bits per vector (64-dim float → 8 bytes at m=8, k=16: 32×
  * smaller): the normalized vector splits into `m` contiguous sub-blocks,
  * each block gets its own `k`-codeword codebook (per-block k-means), and
  * a vector is stored as its m codeword ids. Search scores the CODEBOOK
  * RECONSTRUCTION (symmetric distance computation) and exact-reranks a
  * shortlist of raw vectors, the [[Ivf.sq8RerankWith]] composition with a
  * 32×-smaller approximate side.
  *
  * Training reuses [[Ivf.centroids]] per block — the same deterministic
  * recipe (seeded init from the id, decimal-exact means, squared-L2
  * argmin with lower-index tie-break), so codebooks are reproducible
  * under any partitioning and restatable in the DuckDB oracle. The init
  * ids are offset by the block index to decorrelate the seeded init
  * across blocks.
  *
  * Scale shape: training is m driver-bounded k-means runs over one
  * sub-vector projection each (byte-capped sampling inherited from
  * [[Ivf.centroids]]); encoding and reconstruction are narrow
  * projections with the codebooks baked in as literals — argmin over
  * k fold expressions per block, no join, no shuffle, no UDF. */
object Pq {

  /** Per-block codebooks: `m` × `k` × (dims/m) doubles. `b` is the
    * [[Ivf.base]] frame (id, raw, e); blocks slice the NORMALIZED
    * vector. */
  def trainCodebooks(b: DataFrame, m: Int, k: Int,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    // same dims-probe guards as Ivf.centroids: skip null vectors, fail
    // with a message instead of a bare NoSuchElementException on empty
    val probe = b.filter(col("e").isNotNull).select(size(col("e"))).head(1)
    require(probe.nonEmpty, "PQ training needs at least one non-null vector")
    val dims = probe(0).getInt(0)
    require(dims % m == 0, s"dims $dims not divisible into $m blocks")
    val len = dims / m
    // one materialization of (id, e) serves all m blocks' training jobs
    // (each Ivf.centroids run is a count + dims probe + collect) instead
    // of re-reading and re-normalizing the corpus ~3m times
    Materialize.during(b.select(col("id"), col("e"))) { held =>
      (0 until m).map { j =>
        // id + j decorrelates the deterministic id-seeded init per block
        val sub = held.select((col("id") + lit(j.toLong)).as("id"),
          slice(col("e"), j * len + 1, len).as("e"))
        Ivf.centroids(sub, k, iters)
      }
    }
  }

  /** The m codeword ids of a vector — array<bigint>, each in [0, k). */
  def codes(e: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val len = books.head.head.length
    array(books.zipWithIndex.map { case (bk, j) =>
      Ivf.nearestCluster(slice(e, j * len + 1, len), bk)
    }: _*)
  }

  /** Encode + decode in one projection: each block's codeword id
    * ([[codes]]) looked up in its codebook, flattened back to a
    * dims-length vector — the ADC reconstruction. */
  def reconstruct(e: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val codesCol = codes(e, books)
    flatten(array(books.zipWithIndex.map { case (bk, j) =>
      element_at(typedLit(bk.map(_.toIndexedSeq).toIndexedSeq),
        (element_at(codesCol, j + 1) + lit(1L)).cast(IntegerType))
    }: _*))
  }

  /** Persist the codebooks — m·k tiny rows, no corpus scan (the
    * [[Ivf.writeCentroids]] story applied to PQ). Reconstruction from
    * baked-in books is a narrow projection ([[reconstruct]]), so
    * persisting the corpus codes would buy nothing. */
  def writeBooks(spark: org.apache.spark.sql.SparkSession,
      books: Seq[Seq[Seq[Double]]], path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex
      .flatMap { case (bk, j) => bk.zipWithIndex.map { case (c, cw) =>
        (j.toLong, cw.toLong, c) } }
      .toDF("block", "cw", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/books")
  }

  /** True when a codebook table exists at `path` — probes the books
    * write's job-success marker (never the bare directory), so a
    * half-written artifact reads as missing and heals by retrain. */
  def booksExist(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    Artifacts.markerExists(spark, s"$path/books")

  /** Codebooks back from a [[writeBooks]] table — bit-identical to the
    * trained values (doubles round-trip parquet exactly). */
  def readBooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Seq[Double]]] =
    spark.read.parquet(s"$path/books").orderBy("block", "cw")
      .collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getLong(1)).map(_.getSeq[Double](2)).toSeq)
}
