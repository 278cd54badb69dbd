package graft.operators

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Top principal component of the embedding matrix via DETERMINISTIC
  * power iteration — the whitening / OPQ-rotation prep statistic an ANN
  * pipeline computes before quantizing (a dominant direction carrying
  * most of the variance makes every IVF/PQ cell elongated; projecting it
  * out or rotating against it is standard index prep), and the
  * one-number drift monitor for "did the embedding model change" that is
  * stronger than per-dim variance alone.
  *
  * Determinism doctrine (the [[Ivf]] decimal-mean treatment applied to
  * iterative linear algebra): every cross-row and cross-dim SUM of
  * doubles — the two places IEEE addition order would leak the physical
  * partitioning into the result — floor-quantizes each term to a 1e-6
  * fixed-point BIGINT first, so all sums are exact integers and the
  * derived doubles come from one shared op order. The iteration is
  * driver-coordinated like k-means: each step is ONE map-side-combined
  * aggregate keyed by the dims-valued dimension id, and the driver holds
  * only d-sized state (the current direction), so the shape is exactly
  * distributed-PCA at 100 TB — `iters + 1` linear corpus scans total,
  * nothing corpus-sized ever shuffles.
  */
object Pca {

  /** The trained artifact: per-dim means, the unit top direction, and
    * the eigenvalue estimate ‖(1/n)Σᵢ(xᵢ−m)((xᵢ−m)·v)‖ — 2·dims+1
    * doubles, small enough to bake into a plan as literals. */
  final case class PcaModel(means: Array[Double], loading: Array[Double],
      eigval: Double) {
    def dims: Int = means.length
  }

  /** The fixed-point centered projection of `raw` onto the model's top
    * direction: Σ_d ⌊1e6·(x_d−m_d)·v_d⌋ / 1e6 — a narrow integer-chain
    * projection (codegen'd, shuffle-free, stateless), the scoring column
    * of [[projections]]. */
  private def projection(raw: Column, model: PcaModel): Column =
    dotFx(raw, model.means, model.loading).cast(DoubleType) / lit(1e6)

  private def dotFx(raw: Column, means: Array[Double],
      v: Array[Double]): Column =
    means.indices.map { d =>
      floor(lit(1e6) * (element_at(raw, d + 1) - lit(means(d)))
        * lit(v(d))).cast(LongType)
    }.reduce(_ + _)

  /** Train the model: `iters` power-iteration steps from the fixed
    * uniform seed 1/√dims over the CENTERED non-null vectors. Ragged
    * embeddings (any row shorter or longer than `dims`) fail loudly
    * rather than silently dropping rows from the iteration. */
  def fit(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, iters: Int): PcaModel = {
    require(dims > 0 && iters > 0,
      s"Pca.fit: dims ($dims) and iters ($iters) must be positive — " +
        "0 iterations would return the uniform seed with eigval 0 and " +
        "every downstream sigma-threshold collapses to 0")
    val rows = emb
      .select(col(idCol).cast(LongType).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("raw"))
      .filter(col("raw").isNotNull)
    // held for the moments pass and every power iteration
    Materialize.during(rows) { base =>
      // per-dim fixed-point means — the embeddingMoments recipe, the
      // doubles derived with Spark's own cast semantics IN the frame so
      // the collected literals are bit-identical to the SQL oracle's
      val mRows = base.select(posexplode(col("raw")).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), count(col("v")).as("n_nonnull"),
          sum(floor(col("v") * lit(1e6)).cast(LongType)
            .cast(DecimalType(38, 0))).as("s_fx"))
        .select(col("dim"), col("n"), col("n_nonnull"),
          (col("s_fx").cast(DoubleType) / col("n") / lit(1e6)).as("mean"))
        .collect()
      require(mRows.length == dims,
        s"Pca.fit: expected $dims dims, found ${mRows.length}")
      // equal per-dim counts ⇔ every row has exactly `dims` elements: a
      // 63-element row would lower dim 62's count and silently vanish
      // from the dot chain (element_at → null) while still shifting the
      // means — fail loudly instead
      require(mRows.map(_.getLong(1)).distinct.length == 1,
        "Pca.fit: ragged embeddings (per-dim counts differ) — " +
          "every vector must have exactly `dims` elements")
      // a null ELEMENT passes both guards above but nulls the row's
      // whole `+`-chain dot (the row silently vanishes from the
      // iteration while the oracle's SUM would keep a partial dot) —
      // the non-null count exposes it at zero extra scans
      require(mRows.forall(r => r.getLong(1) == r.getLong(2)),
        "Pca.fit: null embedding elements found — a null element would " +
          "silently drop its row from the power iteration")
      val n = mRows.head.getLong(1)
      val means = Array.ofDim[Double](dims)
      mRows.foreach(r => means(r.getInt(0)) = r.getDouble(3))

      var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
      var nrm = 0.0
      for (_ <- 1 to iters) {
        // per-row centered dot against the CURRENT direction: a 64-term
        // integer chain of 1e-6-floored element products (codegen'd,
        // order-free), never a cross-dim double sum
        val meansArr = typedLit(means.toSeq)
        val w = base
          .select(col("raw"),
            (dotFx(col("raw"), means, v).cast(DoubleType) / lit(1e6)).as("dot"))
          .select(posexplode(col("raw")).as(Seq("dim", "x")), col("dot"))
          .select(col("dim"),
            floor(lit(1e6) * (col("x") - element_at(meansArr, col("dim") + 1))
              * col("dot")).cast(LongType).as("fx"))
          .groupBy("dim")
          // DECIMAL(38,0): at 10¹²-row scale the per-dim term sum
          // overflows a Long (the embeddingMoments doctrine)
          .agg(sum(col("fx").cast(DecimalType(38, 0))).as("s_fx"))
          // divide by n HERE, before the fixed-point norm: the raw sum
          // grows linearly with the corpus (|Σ| ~ 0.1·n — its 1e-6
          // floor would overflow a Long past ~3e7 rows), while the
          // covariance-apply result C·v = Σ/n is O(variance) at ANY
          // corpus size, keeping the norm terms Long-safe forever
          .select(col("dim"),
            (col("s_fx").cast(DoubleType) / lit(1e6) / lit(n.toDouble)).as("w"))
          .collect()
          .foldLeft(Array.ofDim[Double](dims)) { (acc, r) =>
            acc(r.getInt(0)) = r.getDouble(1); acc
          }
        // cross-dim norm on the driver, fixed-pointed at 1e-12 (the
        // sourceDrift squared-term precision): w = C·v is O(eigenvalue),
        // corpus-size-independent, so w² terms are tiny — 1e-6 would
        // quantize the norm to ~3 digits — while 1e12·w² stays Long-safe
        // for any corpus (w² ≤ trace² ≤ dims² for unit-scale embeddings)
        val nrm2Fx = w.map(x => math.floor(1e12 * x * x).toLong).sum
        require(nrm2Fx > 0L,
          "Pca.fit: zero-variance corpus (or iterate annihilated " +
            "by centering) — the power iterate has no direction to follow")
        nrm = math.sqrt(nrm2Fx.toDouble / 1e12)
        v = w.map(_ / nrm)
      }
      PcaModel(means, v, nrm)
    }
  }

  /** A trained model as the (dim, mean, loading, eigval) report frame. */
  def toFrame(spark: org.apache.spark.sql.SparkSession,
      model: PcaModel): DataFrame = {
    val rows = (0 until model.dims).map(d =>
      (d.toLong, model.means(d), model.loading(d), model.eigval))
    spark.createDataFrame(rows)
      .toDF("dim", "mean", "loading", "eigval")
      .orderBy("dim")
  }

  /** Persist a trained model as a `_SUCCESS`-certified parquet artifact
    * — the [[Ivf.writeCentroids]] treatment: 2·dims+1 doubles in one
    * file, so "train once, reuse" survives JVM restarts (at 100 TB the
    * `iters + 1` training scans are the expensive part; re-deriving
    * them per JVM is exactly the waste the BPE/IVF artifact protocol
    * exists to avoid). Doubles round-trip parquet bit-exactly. */
  def writeModel(spark: org.apache.spark.sql.SparkSession,
      model: PcaModel, path: String): Unit =
    toFrame(spark, model).coalesce(1).write.mode("overwrite").parquet(path)

  /** A [[writeModel]] artifact back, bit-identical to the trained one.
    * The shape is VALIDATED against the expected dims (exactly one row
    * per dimension 0..dims-1): a readable-but-corrupt artifact — e.g.
    * two JVMs racing the overwrite leave both part files behind — must
    * throw here so the caller's degrade-to-retrain path fires, instead
    * of silently yielding a wrong-dims model. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      path: String, dims: Int): PcaModel = {
    val rows = spark.read.parquet(path).orderBy("dim").collect()
    require(rows.map(_.getLong(0)).toSeq == (0L until dims.toLong),
      s"Pca.readModel: artifact at $path has dims " +
        s"${rows.map(_.getLong(0)).toSeq.take(8)}... (${rows.length} rows), " +
        s"expected exactly 0..${dims - 1}")
    PcaModel(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)),
      rows.head.getDouble(3))
  }

  /** Per-vector scalar projection onto the model's top direction plus an
    * `outlier` flag at |t| > sigmas·√eigval — the along-dominant-axis
    * outlier report (a vector far out on the corpus's own biggest axis
    * is a different-model embedding or genuinely alien content). One
    * narrow codegen scan against the baked-in model; no join, no
    * shuffle (callers order the output). Rows whose projection nulls
    * out — null vector or null element — are EXCLUDED (a defined
    * semantics the oracle restates); a
    * too-short array fails loudly under ANSI element_at. [[fit]]
    * rejects such corpora upstream, so this only matters when
    * projecting a different frame than the one fitted. */
  def projections(emb: DataFrame, idCol: String, vecCol: String,
      model: PcaModel, sigmas: Double): DataFrame = {
    val thr = sigmas * math.sqrt(model.eigval)
    emb.select(col(idCol).cast(LongType).as("vec_id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("raw"))
      // screen the NULL cases on the INPUT side (cheap array null-scan):
      // a filter on the projection itself would re-inline the 64-term
      // fixed-point chain into the filter predicate — measured 6× the
      // scan cost when this briefly shipped as filter(t.isNotNull).
      // Scan only the first `dims` elements — the chain reads nothing
      // past them, so a trailing null must not exclude the row
      .filter(col("raw").isNotNull &&
        !exists(slice(col("raw"), 1, model.dims), _.isNull))
      .select(col("vec_id"), projection(col("raw"), model).as("t"))
      .withColumn("outlier", abs(col("t")) > lit(thr))
  }
}
