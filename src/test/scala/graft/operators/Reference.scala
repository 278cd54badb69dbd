package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference formulations that specs compare the production operators
  * against — plain Column code, slower than what the queries run and
  * kept only as test oracles, like the DuckDB SQL. */
object Reference {

  /** Exact pairwise Jaccard over shingle sets with PREFIX filtering (the
    * all-pairs similarity-join prefix filter, as in PPJoin/SSJoin-family
    * systems): under any global total order on shingle hashes, two sets
    * with J ≥ t must share an element among each set's first
    * `n − ⌈t·n⌉ + 1` smallest hashes — so only the prefix hashes enter
    * the candidate self-join (≈ (1−t)·n rows/doc instead of n, i.e.
    * ~25× fewer collision pairs at t = 0.8), the size-ratio filter
    * prunes inside the join, and the exact intersection is ONE native
    * `array_intersect` per surviving candidate pair. Still exact, still
    * worst-case quadratic on adversarial data, which is why the queries
    * run [[Dedup.jaccardVerifiedPairs]] behind LSH or fingerprint
    * candidates instead. Takes a [[Dedup.shingleTable]]. */
  def jaccardPairsFrom(sh: DataFrame, threshold: Double): DataFrame = {
    val sorted = sh.select(col("doc"), array_sort(col("shh")).as("shh"),
      size(col("shh")).as("n_sh"))
    val plen = (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .cast(IntegerType)
    val pr = sorted.select(col("doc"), col("n_sh"),
      explode(slice(col("shh"), lit(1), greatest(plen, lit(0)))).as("h"))
    val sizeOk =
      col("x.n_sh").cast(DoubleType) >= lit(threshold) * col("y.n_sh") &&
        col("y.n_sh").cast(DoubleType) >= lit(threshold) * col("x.n_sh")
    val cand = pr.as("x").join(pr.as("y"),
        col("x.h") === col("y.h") && col("x.doc") < col("y.doc") && sizeOk)
      .select(col("x.doc").as("da"), col("y.doc").as("db")).distinct()
    val full = sorted.select(col("doc"), col("shh"), col("n_sh"))
    cand
      .join(full.select(col("doc").as("da"), col("shh").as("sha"),
        col("n_sh").as("na")), Seq("da"))
      .join(full.select(col("doc").as("db"), col("shh").as("shb"),
        col("n_sh").as("nb")), Seq("db"))
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast(LongType))
      .select(col("da"), col("db"), col("inter"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The Column-HOF form of [[graft.functions.Int8Quantize]]'s `q`:
    * scale = 127 / max|x| (0.0 for the zero vector), each component
    * floor(x·scale + 0.5). O(d²) per row and interpreted — the max-abs
    * sub-expression re-evaluates per element. */
  def int8Lambda(vec: Column): Column = {
    val v = vec.cast(ArrayType(DoubleType))
    val ma = array_max(transform(v, x => abs(x)))
    val scale = when(ma === 0.0, lit(0.0)).otherwise(lit(127.0) / ma)
    transform(v, x => floor(x * scale + lit(0.5)).cast(LongType))
  }

  /** LSH bucket for one table: `planes` sign bits of dot(v, r_p) for ±1
    * hyperplanes r_p (SimHash for real vectors). `table` offsets the plane
    * seeds so tables are independent. */
  def hyperplaneBucket(vec: Column, planes: Int, table: Int, dims: Int): Column =
    (0 until planes).map { p =>
      val weights = typedLit((0 until dims).map(d =>
        Similarity.planeWeight(table * planes + p, d)))
      val proj = aggregate(zip_with(vec, weights, (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
}
