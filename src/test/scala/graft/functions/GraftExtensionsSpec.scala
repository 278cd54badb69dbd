package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL registration surface: every scalar rm_* function resolves in
  * spark.sql and produces exactly what the Column API produces.
  *
  * The suite JVM shares one SparkSession across all suites, and
  * `withExtensions` only applies when a session is first created — so
  * the registrations are injected into the shared session's function
  * registry directly. That exercises the SAME (identifier, info,
  * builder) triples `GraftExtensions.apply` hands to
  * `SparkSessionExtensions.injectFunction`; the wiring from
  * `spark.sql.extensions=graft.functions.GraftExtensions` to those
  * triples is a one-line `foreach` with no logic of its own. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = graft.Sessions.local(4)
    GraftExtensions.registrations.foreach { case (id, inf, builder) =>
      s.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
    s
  }

  test("every registered rm_* function resolves and matches the Column API") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e a b c"), (2L, "x y z w v u t s"))
      .toDF("id", "text")
    docs.createOrReplaceTempView("ext_docs")

    val viaSql = spark.sql(
      """SELECT id,
        |  rm_simhash(text, 60) AS sh,
        |  rm_shingle_hashes(text, 3) AS shh,
        |  rm_shingle_text(text, 3) AS sht,
        |  rm_shingle_text(text, 3, true) AS shtd,
        |  rm_gram_stats(text, 2) AS gs,
        |  rm_winnow_fingerprints(text, 3, 4) AS fps,
        |  rm_char_entropy_fx(text) AS ent,
        |  rm_self_dedup_chunks(text, 2) AS sd,
        |  rm_normalize_text(UPPER(text) || '  \t') AS nt
        |FROM ext_docs ORDER BY id""".stripMargin).collect()
    val viaApi = docs.select(col("id"),
        Md5SimHash.simhash(col("text"), 60).as("sh"),
        ShingleHashes.shingleHashes(col("text"), 3).as("shh"),
        ShingleText.shingleText(col("text"), 3).as("sht"),
        ShingleText.shingleText(col("text"), 3, distinct = true).as("shtd"),
        GramStats.gramStats(col("text"), 2).as("gs"),
        WinnowFingerprints.winnowFingerprints(col("text"), 3, 4).as("fps"),
        CharEntropyFx.entFx(col("text")).as("ent"),
        SelfDedupChunks.dedup(col("text"), 2).as("sd"),
        NormalizeText.normalize(concat(upper(col("text")), lit("  \t"))).as("nt"))
      .orderBy("id").collect()
    assert(viaSql.map(_.toSeq).toSeq == viaApi.map(_.toSeq).toSeq)

    val vecs = Seq((1L, Seq(1.0, 2.0, 2.0), Seq(2.0, 1.0, 2.0)))
      .toDF("id", "a", "b")
    vecs.createOrReplaceTempView("ext_vecs")
    val vSql = spark.sql(
      """SELECT rm_cosine_similarity(a, b) AS cos,
        |  rm_l2_normalize(a) AS n,
        |  rm_hyperplane_buckets(a, 4, 2) AS hb,
        |  rm_minhash_signature(rm_shingle_hashes('p q r s t', 2), 8) AS mh,
        |  rm_minhash_band_keys(rm_minhash_signature(rm_shingle_hashes('p q r s t', 2), 8), 2, 4) AS bk,
        |  rm_int8_dequantize(rm_int8_quantize(a).bin, rm_int8_quantize(a).scale) AS dq,
        |  rm_distinct_by_key(array('x', 'y', 'x2'), array('k1', 'k2', 'k1')) AS dbk
        |FROM ext_vecs""".stripMargin).head
    import graft.operators.Dedup
    val vApi = vecs.select(
        VectorOps.cosineSimilarity(col("a"), col("b")).as("cos"),
        VectorOps.l2Normalize(col("a")).as("n"),
        VectorOps.hyperplaneBuckets(col("a"), 4, 2).as("hb"),
        Dedup.minhashSignature(
          ShingleHashes.shingleHashes(lit("p q r s t"), 2), 8).as("mh"),
        Dedup.lshBandKeys(Dedup.minhashSignature(
          ShingleHashes.shingleHashes(lit("p q r s t"), 2), 8), 2, 4).as("bk"),
        graft.operators.Quantize.roundTrip(col("a")).as("dq"),
        typedLit(Seq("x", "y")).as("dbk")).head
    assert(vSql.toSeq == vApi.toSeq)
  }

  test("non-literal parameters are rejected at resolution, not silently wrong") {
    import spark.implicits._
    spark // force registration
    Seq((1, "a b c")).toDF("n", "text").createOrReplaceTempView("ext_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT rm_shingle_hashes(text, n) FROM ext_bad").collect()
    }
    assert(e.getMessage.contains("literal"),
      s"expected a literal-argument error, got: ${e.getMessage}")
  }
}
