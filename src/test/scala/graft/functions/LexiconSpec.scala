package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The Aho–Corasick lexicon automaton against the obvious quadratic
  * reference (count every pattern at every start offset) — overlapping
  * occurrences, nested patterns, phrase patterns with spaces, and the
  * empty/absent edges; then the Column plumbing end-to-end. */
class LexiconSpec extends AnyFunSuite {

  /** Naive overlapping substring count. */
  private def naiveCount(text: String, term: String): Long = {
    var n = 0L
    var i = 0
    while (i + term.length <= text.length) {
      if (text.regionMatches(i, term, 0, term.length)) n += 1
      i += 1
    }
    n
  }

  test("counts match the quadratic reference on crafted cases") {
    val lex = new LexiconAutomaton(Array("slow", "dup", "low", "a", "slow merge"))
    val cases = Seq(
      "slow merge slow merge", // phrase + word overlap, "low" inside "slow"
      "dupdupdup",             // back-to-back occurrences
      "aaaa",                  // single-char runs
      "",                      // empty text
      "nothing matches here",  // "a" still hits, others don't
      "slowslow merge")        // "slow merge" spanning a word seam
    for (t <- cases) {
      val got = lex.counts(UTF8String.fromString(t))
      for ((term, i) <- lex.terms.zipWithIndex)
        assert(got(i) == naiveCount(t, term),
          s"term '$term' on '$t': got ${got(i)}, want ${naiveCount(t, term)}")
    }
  }

  test("property: counts equal the quadratic reference on random text") {
    // small alphabet so patterns actually occur; patterns may nest,
    // overlap each other, and share prefixes — the automaton's hard cases
    val terms = Array("ab", "aba"/*shares prefix*/, "ba", "b", "abab", "a b")
    val lex = new LexiconAutomaton(terms)
    val rnd = new scala.util.Random(17)
    val alphabet = "ab "
    for (_ <- 1 to 500) {
      val t = Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(3))).mkString
      val got = lex.counts(UTF8String.fromString(t))
      for ((term, i) <- terms.zipWithIndex)
        assert(got(i) == naiveCount(t, term),
          s"term '$term' on '$t': got ${got(i)}, want ${naiveCount(t, term)}")
    }
  }

  test("totalHits is the sum of per-term counts") {
    val terms = Array("ab", "b", "ba")
    val lex = new LexiconAutomaton(terms)
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 300) {
      val t = Seq.fill(rnd.nextInt(40))("ab"(rnd.nextInt(2))).mkString
      val total = lex.totalHits(UTF8String.fromString(t))
      val want = terms.map(naiveCount(t, _)).sum
      assert(total == want, s"total on '$t': got $total, want $want")
    }
  }

  test("automaton rejects empty, duplicate, and missing terms") {
    intercept[IllegalArgumentException](new LexiconAutomaton(Array.empty[String]))
    intercept[IllegalArgumentException](new LexiconAutomaton(Array("a", "")))
    intercept[IllegalArgumentException](new LexiconAutomaton(Array("a", "a")))
  }

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("Column forms survive serialization through a real plan") {
    import spark.implicits._
    val lex = new LexiconAutomaton(Array("scan", "low", "slow scan"))
    val df = Seq("slow scan slow scan", "nothing", "lowlow").toDF("text")
    val rows = df.select(
        LexiconCounts.counts(col("text"), lex).as("c"),
        LexiconHits.total(col("text"), lex).as("t"))
      .collect()
    assert(rows.map(_.getSeq[Long](0)).toSeq ==
      Seq(Seq(2L, 2L, 2L), Seq(0L, 0L, 0L), Seq(0L, 2L, 0L)))
    assert(rows.map(_.getLong(1)).toSeq == Seq(6L, 0L, 2L))
  }
}
