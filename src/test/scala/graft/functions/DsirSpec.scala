package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[DsirModel]] / [[DsirScoreFx]] — the native deployment form of the
  * batch DSIR operator. Contracts: the JVM md5-bucket fold equals the
  * engine's `conv(substring(md5,1,15),16,10) % B` primitive on arbitrary
  * grams; an exhaustively-trained model's scores equal
  * [[graft.operators.TextAnalysis.dsirScores]] BIT for bit (every value,
  * default included, is computed by the same Spark expression); unseen
  * grams take the smoothing default rather than 0. */
class DsirSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val B = 512

  test("JVM bucket fold equals the engine's md5 primitive on random grams") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val grams = Seq("the cat", "a", "", "multi word gram here", "ünïcode tökens",
      "tab\tinside", "1 2") ++
      Seq.fill(200)(rnd.alphanumeric.take(1 + rnd.nextInt(18)).mkString
        .grouped(6).mkString(" "))
    val viaSpark = grams.toDF("g")
      .select(col("g"), graft.operators.Sampling.hashBucket(col("g"), B).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    grams.foreach { g =>
      assert(DsirModel.bucketOf(md, g, B) == viaSpark(g),
        s"bucket mismatch for '$g'")
    }
  }

  test("trained model scores equal the batch operator bit for bit") {
    import spark.implicits._
    val docs = (1L to 120L).map { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      val text =
        if (lang == "en") "the quick brown fox jumps over the lazy dog " + (i % 5)
        else "der schnelle braune fuchs springt " + (i % 7)
      (i, lang, text)
    }.toDF("doc_id", "lang", "text")

    val batch = graft.operators.TextAnalysis.dsirScores(
        docs, "text", "doc_id", col("lang") === "en", buckets = B)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap

    val model = DsirScoreFx.train(docs, "text", "doc_id",
      col("lang") === "en", buckets = B)
    val native = docs
      .select(col("doc_id"), DsirScoreFx.score(col("text"), model).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    assert(native.keySet == batch.keySet)
    native.foreach { case (id, s) =>
      assert(s == batch(id), s"doc $id: native $s != batch ${batch(id)}")
    }
    // target-resembling docs outscore off-target ones
    val en = docs.filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0))
    val de = docs.filter(col("lang") === "de").select("doc_id")
      .collect().map(_.getLong(0))
    assert(en.map(batch).min > de.map(batch).max,
      "every English doc must outscore every German doc on an en target")
  }

  test("unseen grams score the smoothing default, not zero") {
    import spark.implicits._
    val docs = Seq((1L, "en", "alpha beta gamma"), (2L, "de", "delta epsilon"))
      .toDF("doc_id", "lang", "text")
    val model = DsirScoreFx.train(docs, "text", "doc_id",
      col("lang") === "en", buckets = B)
    // a gram never seen in training: its bucket is (very likely) untouched
    val fx = model.scoreFx(
      org.apache.spark.unsafe.types.UTF8String.fromString("zz qq"))
    // default = ln((Nraw+B)/(Ntarget+B)) * 1e6 floored: Nraw=3, Nt=2 ->
    // positive (raw mass exceeds target mass)
    assert(fx != 0L, "unseen gram must take the smoothing default")
    // and sub-2-token text scores exactly 0
    assert(model.scoreFx(
      org.apache.spark.unsafe.types.UTF8String.fromString("one")) == 0L)
  }
}
