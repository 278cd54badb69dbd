package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Structural properties of the round-14 corpus-health audits, beyond
  * the oracle hash check: conservation laws and sign/shape contracts
  * that must hold on ANY corpus — the kind of invariant a refactor can
  * silently break while both engines drift together. */
class AuditPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("vocab growth: conservation, monotonicity, and mass totals") {
    import org.apache.spark.sql.functions._
    val rows = TokenQueries.vocabGrowth(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty &&
      rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted,
      "buckets must come out ordered")
    // conservation: the final cumulative vocab IS the corpus vocabulary,
    // and per-bucket new words sum to it
    val docs = graft.Tables.documents(spark, dir)
    val corpusVocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(countDistinct(col("w"))).collect().head.getLong(0)
    assert(rows.last._4 == corpusVocab,
      s"final vocab ${rows.last._4} must equal corpus vocabulary $corpusVocab")
    assert(rows.map(_._5).sum == corpusVocab,
      "per-bucket new words must sum to the corpus vocabulary")
    // prefix masses are strictly nondecreasing; the last row covers all
    // docs and all tokens
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4
    }, "prefix docs/tokens/vocab must be nondecreasing")
    val totalDocs = docs.count()
    val totalToks = docs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(rows.last._2 == totalDocs && rows.last._3 == totalToks,
      "the last bucket's prefix must cover the whole corpus")
  }

  test("zipf slope: negative on the real corpus, exact on a planted power law") {
    import spark.implicits._
    val row = TokenQueries.zipfSlope(spark, dir).collect().head
    assert(row.getLong(0) > 1, "needs at least two ranked words")
    assert(row.getDouble(1) < 0.0,
      s"word frequencies must decay with rank (slope ${row.getDouble(1)})")
    // a perfect power law f(r) = c / r has ln f = ln c - 1 * ln r; with
    // counts floor-quantized at 1e-6 the fitted slope lands within the
    // quantization error of exactly -1
    val n = 20
    val docs = (1 to n).flatMap { r =>
      // word w{r} appears (2^20 / r) times, spread over synthetic docs
      val c = (1 << 20) / r
      Seq(((r.toLong, ("w%03d".format(r) + " ") * c)))
    }.map { case (id, text) => (id, text.trim) }
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("zipf_spec")
    try {
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val fit = TokenQueries.zipfSlope(spark, tmp.toString).collect().head
      assert(fit.getLong(0) == n)
      assert(math.abs(fit.getDouble(1) - (-1.0)) < 0.01,
        s"planted 1/r law must fit slope ~ -1, got ${fit.getDouble(1)}")
    } finally {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(tmp)
      try s.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  test("reliability diagram: buckets partition the holdout; counts conserve") {
    val rows = QualityQueries.nbReliability(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cls = QualityQueries.nbClassify(spark, dir).collect()
    assert(rows.map(_._2).sum == cls.length,
      "decile buckets must partition the scored holdout exactly")
    assert(rows.map(_._3).sum == cls.count(_.getBoolean(3)),
      "per-bucket correct counts must sum to the holdout's total correct")
    assert(rows.forall(r => r._3 <= r._2), "correct <= total per bucket")
  }

  test("quality agreement: shares sum to 1, kappa = 1 on self-agreement") {
    val rows = QualityQueries.qualityAgreement(spark, dir).collect()
    val shareSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9,
      s"cell shares must partition the corpus (got $shareSum)")
    val kappa = rows.head.getDouble(4)
    assert(rows.forall(r => r.getDouble(4) == kappa),
      "kappa is a corpus constant and must ride every row identically")
    assert(kappa >= -1.0 - 1e-9 && kappa <= 1.0 + 1e-9, "kappa in [-1, 1]")
  }

  test("label separation: symmetric-complete pair table, positive margins") {
    val rows = AnnQueries.labelSeparation(spark, dir).collect()
    val labels = rows.flatMap(r => Seq(r.getInt(0), r.getInt(1))).distinct
    val k = labels.length
    assert(rows.length == k * (k - 1) / 2,
      s"one row per unordered label pair expected (${rows.length} vs C($k,2))")
    rows.foreach { r =>
      assert(r.getInt(0) < r.getInt(1), "pairs must be ordered a < b")
      assert(r.getDouble(4) >= 0.0, "centroid distance is nonnegative")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(6) >= 0.0,
        "intra-class spreads are nonnegative")
    }
  }

  test("cluster histogram: document mass equals the cluster map's membership") {
    val hist = DedupQueries.clusterHistogram(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val members = DedupQueries.dedupClusters(spark, dir).count()
    assert(hist.map(_._3).sum == members,
      "histogram doc mass must equal the cluster map's member count")
    assert(hist.forall(h => h._1 >= 2),
      "singletons are absent by construction (every member has a duplicate)")
    assert(hist.forall(h => h._3 == h._1 * h._2), "n_docs = size x clusters")
  }
}
