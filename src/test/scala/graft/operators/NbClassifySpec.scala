package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Naive-Bayes classifier selection ([[TextAnalysis.nbClassify]]):
  * hand-corpus predictions, bit-exact parity with an independent scalar
  * reference implementation of the fixed-point model, tie-break and
  * unseen-class edges, and partitioning determinism. */
class NbClassifySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "label")
  }

  // train = doc_id < 10 throughout
  private val isTrain = col("doc_id") < 10

  private def run(d: DataFrame, buckets: Int = 64) =
    TextAnalysis.nbClassify(d, "text", "doc_id", "label", isTrain, buckets)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getDouble(4)))

  test("holdout docs take the class whose train slice used their tokens") {
    val d = docs(
      (1L, "cat cat dog", "A"), (2L, "cat fish", "A"),
      (3L, "dog dog wolf", "B"),
      (10L, "cat cat fish", "A"), // A-vocabulary ⇒ predicted A
      (11L, "dog wolf", "B"), // B-vocabulary ⇒ predicted B
      (12L, "cat dog unseen", "B")) // mixed + unseen token
    // 1024 buckets: hand-token collisions would perturb the hand-derived
    // expectations below (the reference-parity test covers collisions)
    val out = run(d, buckets = 1024)
    assert(out.map(t => (t._1, t._3)).toSeq ==
      Seq((10L, "A"), (11L, "B"), (12L, "A")))
    assert(out.map(t => (t._1, t._4)).toSeq ==
      Seq((10L, true), (11L, true), (12L, false)))
  }

  /** The engine's `conv(substring(md5(tok), 1, 15), 16, 10) % buckets`
    * in JVM bytes: the first 15 hex nibbles of the UTF-8 md5 folded into
    * a 60-bit long. */
  private def md5Bucket(md: java.security.MessageDigest, tok: String,
      buckets: Int): Int = {
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = (0 until 15).foldLeft(0L) { (acc, i) =>
      val b = d(i / 2)
      (acc << 4) | (if (i % 2 == 0) (b >> 4) & 0xf else b & 0xf).toLong
    }
    (v % buckets).toInt
  }

  /** Independent scalar reference: same md5 bucketing ([[md5Bucket]]),
    * same add-1 smoothing, same floor(ln·1e6) fixed-point quantization,
    * integer sums, (score DESC, class ASC) argmax. */
  private def reference(rows: Seq[(Long, String, String)],
      buckets: Int): Map[Long, (String, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(tok: String): Int = md5Bucket(md, tok, buckets)
    val train = rows.filter(_._1 < 10)
    val hold = rows.filter(_._1 >= 10)
    val classes = train.map(_._3).distinct.sorted
    val docsC = train.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val t = docsC.values.sum
    val priorFx = classes.map(c => c ->
      math.floor(math.log(docsC(c).toDouble / t.toDouble) * 1e6).toLong).toMap
    val cb = train.flatMap { case (_, text, c) =>
      text.split(" ", -1).map(tok => (c, bucket(tok))) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nC = classes.map(c => c ->
      cb.collect { case ((`c`, _), n) => n }.sum).toMap
    def lpFx(c: String, b: Int): Long =
      math.floor(math.log((cb.getOrElse((c, b), 0L) + 1).toDouble /
        (nC(c) + buckets).toDouble) * 1e6).toLong
    hold.map { case (id, text, _) =>
      val bs = text.split(" ", -1).map(bucket)
      val scored = classes.map(c => (c, priorFx(c) + bs.map(lpFx(c, _)).sum))
      val best = scored.minBy { case (c, s) => (-s, c) }
      id -> best
    }.toMap
  }

  test("predictions and scores match the scalar reference bit-for-bit") {
    val rows = Seq[(Long, String, String)](
      (1L, "cat cat dog", "A"), (2L, "cat fish bird cat", "A"),
      (3L, "dog dog wolf", "B"), (4L, "wolf wolf fish", "B"),
      (5L, "stone iron ore", "C"),
      (10L, "cat fish", "A"), (11L, "wolf dog dog", "B"),
      (12L, "ore stone stone iron", "C"), (13L, "cat wolf ore", "A"))
    val d = docs(rows: _*)
    val exp = reference(rows, buckets = 64)
    val out = run(d)
    assert(out.length == 4)
    out.foreach { case (id, _, pred, _, score) =>
      val (refPred, refFx) = exp(id)
      assert(pred == refPred, s"doc $id predicted $pred, reference $refPred")
      assert(score == refFx.toDouble / 1e6,
        s"doc $id score $score != reference ${refFx.toDouble / 1e6}")
    }
  }

  test("exact score tie breaks to the lexicographically smaller class") {
    // symmetric training: both classes have one doc with one identical
    // token stream ⇒ identical priors and likelihoods for 'x'
    val d = docs((1L, "x", "A"), (2L, "x", "B"), (10L, "x x", "B"))
    val out = run(d)
    assert(out.toSeq.map(t => (t._1, t._3)) == Seq((10L, "A")))
  }

  test("a label seen only in the holdout is never predicted") {
    val d = docs((1L, "cat", "A"), (2L, "dog", "B"),
      (10L, "zebra zebra", "Z"))
    val out = run(d)
    assert(Set("A", "B").contains(out.head._3))
    assert(!out.head._4)
  }

  test("output is invariant under repartitioning") {
    val rows = Seq[(Long, String, String)](
      (1L, "cat cat dog", "A"), (2L, "cat fish", "A"),
      (3L, "dog dog wolf", "B"), (4L, "fish wolf", "B"),
      (10L, "cat fish dog", "A"), (11L, "wolf wolf", "B"),
      (12L, "cat dog", "B"))
    val base = run(docs(rows: _*))
    val repart = TextAnalysis.nbClassify(docs(rows: _*).repartition(7),
        "text", "doc_id", "label", isTrain, 64)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getDouble(4)))
    assert(base.toSeq == repart.toSeq)
  }
}
