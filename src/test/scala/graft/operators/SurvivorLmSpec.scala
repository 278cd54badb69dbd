package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 additions: the shared survivor-labeling terminal step
  * ([[Dedup.keepRepresentatives]]), the corpus bigram-LM quality
  * score ([[TextAnalysis.lmScore]]) and its filter
  * ([[TextAnalysis.lmGate]]). */
class SurvivorLmSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("keepRepresentatives labels every universe id; component min survives") {
    import spark.implicits._
    val universe = (1L to 8L).toDF("id")
    // chain 2-3-4 (one component, rep 2), pair (6,7); 1,5,8 unpaired
    val pairs = Seq((3L, 2L), (3L, 4L), (6L, 7L)).toDF("da", "db")
    val got = Dedup.keepRepresentatives(universe, "id", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val want = Map(
      1L -> ((1L, 1)), 2L -> ((2L, 1)), 3L -> ((2L, 0)), 4L -> ((2L, 0)),
      5L -> ((5L, 1)), 6L -> ((6L, 1)), 7L -> ((6L, 0)), 8L -> ((8L, 1)))
    assert(got == want)
  }

  test("keepRepresentatives: kept count = universe - (members - components)") {
    import spark.implicits._
    val universe = (1L to 100L).toDF("id")
    // two components: {1..5} star, {50,51}
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (50L, 51L))
      .toDF("da", "db")
    val kept = Dedup.keepRepresentatives(universe, "id", pairs)
      .agg(sum("kept")).collect()(0).getLong(0)
    assert(kept == 100L - (7L - 2L))
  }

  test("lmScore: hand-computed add-one bigram LM on a 3-doc corpus") {
    import spark.implicits._
    // corpus grams: d1: (a,b),(b,a),(a,b)  d2: (a,b)  d3 has 1 token -> no grams
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    // c("a b")=3 within d1? NO - counts are corpus-wide: c("a b")=4? grams:
    // d1 produces "a b","b a","a b"; d2 produces "a b" => c("a b")=3,
    // c("b a")=1; history counts c(a.)=3, c(b.)=1; V = |{a,b}| = 2.
    val pAB = (3.0 + 1) / (3 + 2) // 0.8
    val pBA = (1.0 + 1) / (1 + 2) // 0.666...
    def q(p: Double) = math.floor(p * 1e15)
    val s1 = (q(pAB) * 2 + q(pBA)) / (3 * 1e15)
    val s2 = q(pAB) / 1e15
    val got = TextAnalysis.lmScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L)._1 == 3 && got(1L)._2 == s1)
    assert(got(2L)._1 == 1 && got(2L)._2 == s2)
    assert(got(3L) == ((0L, 0.0)))
  }

  test("unpruned BigramLmModel reproduces lmScore exactly; pruning keeps the floor") {
    import spark.implicits._
    val docs = (1L to 30L)
      .map(i => (i, Seq.tabulate(20)(j => s"w${(i + j) % 11}").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = TextAnalysis.lmScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val full = graft.functions.BigramLmScore.train(docs, "text", topK = 1 << 20)
    val got = docs.select(col("doc_id"),
        graft.functions.BigramLmScore.score(col("text"), full).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == exact)
    // a 1-entry prune still scores: every rare gram falls to the 1/V floor
    val pruned = graft.functions.BigramLmScore.train(docs, "text", topK = 1)
    val ps = docs.select(
        graft.functions.BigramLmScore.score(col("text"), pruned).as("s"))
      .collect().map(_.getDouble(0))
    assert(ps.forall(p => p > 0.0 && p <= 1.0))
    // fluent in-distribution text outscores token soup under the full model
    val probe = Seq((100L, "w1 w2 w3 w4 w5"), (101L, "zq xv qqj kkp zzt"))
      .toDF("doc_id", "text")
    val s = probe.select(col("doc_id"),
        graft.functions.BigramLmScore.score(col("text"), full).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(100L) > s(101L))
  }

  test("lmGate keeps exactly the documents scoring at or above minScore") {
    import spark.implicits._
    val corpus = (1L to 40L)
      .map(i => (i, Seq.tabulate(15)(j => s"t${(i + j) % 7}").mkString(" ")))
      .toDF("doc_id", "text")
    val model = graft.functions.BigramLmScore.train(corpus, "text", topK = 1000)
    val docs = Seq(
      (10L, "t1 t2 t3 t4 t5 t6"),
      (11L, "junk zzz yyy xxx www vvv"),
      (12L, "t0 t1 t2 t3 t4")).toDF("doc_id", "text")
    // tiny 7-token vocabulary => the unseen floor 1/V ~ 0.14 is high;
    // in-distribution bigrams score ~(c+1)/(c+7) ~ 0.9
    val minScore = 0.5
    val kept = TextAnalysis.lmGate(docs, "text", model, minScore)
      .select("doc_id", "lm_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kept.contains(10L) && !kept.contains(11L))
    val scores = docs.select(col("doc_id"),
        graft.functions.BigramLmScore.score(col("text"), model))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kept == scores.filter(_._2 >= minScore),
      s"gate kept $kept, scores $scores")
  }

  test("lmScore is partitioning-independent (fixed-point sum)") {
    import spark.implicits._
    val docs = (1L to 40L)
      .map(i => (i, Seq.fill(30)(s"w${i % 7} w${i % 5} w${i % 3}").mkString(" ")))
      .toDF("doc_id", "text")
    val a = TextAnalysis.lmScore(docs.repartition(1), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val b = TextAnalysis.lmScore(docs.repartition(16), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(a == b)
  }
}
