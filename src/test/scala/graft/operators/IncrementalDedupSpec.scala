package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (delta) dedup against a persisted signature index: a new
  * document is dropped iff a verified near-dup (Jaccard ≥ threshold over
  * 3-gram shingle sets) exists in the index or earlier in the delta —
  * pair-level semantics, so a doc whose only match was itself dropped is
  * still dropped (its pair exists regardless of the partner's fate). */
class IncrementalDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val N = 3; private val K = 64; private val B = 16
  private val T = 0.8

  /** 50 deterministic tokens from `seed`, with `edits` tokens replaced —
    * one edited token flips 3 of 48 3-gram shingles, so one edit keeps
    * Jaccard ≈ 0.88 (near-dup) and two spread edits drop it to ≈ 0.78. */
  private def text(seed: String, edits: Seq[Int] = Nil): String =
    (0 until 50).map(i => if (edits.contains(i)) s"ed$i" else s"$seed$i")
      .mkString(" ")

  private def sig(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    Dedup.signatureIndex(rows.toDF("doc_id", "text"), "text", "doc_id", N, K, B)
  }

  private def survivorIds(newSig: org.apache.spark.sql.DataFrame,
      index: org.apache.spark.sql.DataFrame): Set[Long] =
    Dedup.dedupAgainstIndex(newSig, index, T)
      .select("doc").collect().map(_.getLong(0)).toSet

  test("delta docs drop against the index, earlier delta docs, and transitively-dropped partners") {
    val idx = sig(Seq(0L -> text("a"), 2L -> text("b")))
    val delta = sig(Seq(
      1L -> text("a", edits = Seq(49)),       // near-dup of indexed 0 → drop
      3L -> text("c"),                        // unique → survive
      5L -> text("x"),                        // unique → survive
      7L -> text("x", edits = Seq(10)),       // near-dup of earlier 5 → drop
      9L -> text("x", edits = Seq(10, 40))))  // j(9,5)≈0.78 but j(9,7)≈0.88:
                                              // pair semantics → drop
    assert(survivorIds(delta, idx) == Set(3L, 5L))
  }

  test("appending survivors to the index carries them into the next ingest") {
    val idx = sig(Seq(0L -> text("a")))
    val delta1 = sig(Seq(1L -> text("a", edits = Seq(49)), 3L -> text("c")))
    val survivors1 = Dedup.dedupAgainstIndex(delta1, idx, T)
    val idx2 = idx.union(survivors1)
    assert(idx2.select("doc").collect().map(_.getLong(0)).toSet == Set(0L, 3L))
    val delta2 = sig(Seq(
      11L -> text("c", edits = Seq(5)), // near-dup of appended survivor 3 → drop
      13L -> text("a"),                 // exact dup of original index 0 → drop
      15L -> text("d")))                // unique → survive
    assert(survivorIds(delta2, idx2) == Set(15L))
  }

  test("first ingest: empty index dedups the delta against itself only") {
    val emptyIdx = sig(Nil)
    val delta = sig(Seq(
      1L -> text("a"),
      3L -> text("a", edits = Seq(49)), // dup of earlier 1 → drop
      5L -> text("b")))
    assert(survivorIds(delta, emptyIdx) == Set(1L, 5L))
  }

  test("empty delta survives as nothing; index unchanged by union") {
    val idx = sig(Seq(0L -> text("a")))
    val none = Dedup.dedupAgainstIndex(sig(Nil), idx, T)
    assert(none.count() == 0)
    assert(idx.union(none).select("doc").collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("winnow-index incremental agrees with the MinHash-band path") {
    import spark.implicits._
    // same planted corpus shape: near-dups (one edit), borderline
    // non-dups (two edits), uniques — the two recall mechanisms must
    // verify down to the same survivor set, and the winnow drops must
    // come from >= 2 shared fingerprints (a chance single collision must
    // not drop anything)
    val idxRows = Seq(0L -> text("a"), 2L -> text("b"))
    val deltaRows = Seq(
      1L -> text("a", edits = Seq(49)), 3L -> text("c"), 5L -> text("x"),
      7L -> text("x", edits = Seq(10)), 9L -> text("x", edits = Seq(10, 40)))
    def wsig(rows: Seq[(Long, String)]) =
      Dedup.winnowIndex(rows.toDF("doc_id", "text"), "text", "doc_id",
        n = N, w = 4)
    val viaWinnow = Dedup.dedupAgainstWinnowIndex(
        wsig(deltaRows), wsig(idxRows), T)
      .select("doc").collect().map(_.getLong(0)).toSet
    val viaBands = survivorIds(sig(deltaRows), sig(idxRows))
    assert(viaWinnow == viaBands, s"winnow $viaWinnow != bands $viaBands")
    // the winnow index rows carry the fingerprint set (~1/w of grams)
    val fps = wsig(idxRows).select("fps").collect()
      .map(_.getSeq[Long](0).size)
    assert(fps.forall(n => n > 0 && n <= 48), s"fp set sizes: ${fps.toSeq}")
  }

  test("winnow-index recalls short near-dup docs that carry a single fingerprint") {
    import spark.implicits._
    // a doc shorter than ~n+w tokens gets ONE full-cover winnow window —
    // exactly one fingerprint — so the >=2-shared confidence filter alone
    // could never surface its true near-dup pair; such pairs fall back to
    // >=1 shared fp, and the exact-Jaccard verifier stays the precision
    // gate (the j≈0.78 borderline pair must still survive)
    val short = "alpha beta gamma delta epsilon" // 5 tokens, 3 shingles, 1 fp
    def wsig(rows: Seq[(Long, String)]) =
      Dedup.winnowIndex(rows.toDF("doc_id", "text"), "text", "doc_id",
        n = N, w = 4)
    val idx = wsig(Seq(0L -> short, 2L -> text("b")))
    val delta = wsig(Seq(
      1L -> short,                        // exact dup of short indexed 0 → drop
      3L -> text("c"),                    // unique long doc → survive
      5L -> "alpha beta gamma delta zeta")) // j = 2/4 = 0.5 < 0.8 → survive
    val onlyFp = idx.union(delta).filter(col("doc").isin(0L, 1L, 5L))
      .select("fps").collect().map(_.getSeq[Long](0).size)
    assert(onlyFp.forall(_ == 1), s"short docs must carry 1 fp: ${onlyFp.toSeq}")
    val survivors = Dedup.dedupAgainstWinnowIndex(delta, idx, T)
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(3L, 5L), s"survivors: $survivors")
  }

  test("incremental composition matches the full-batch pair predicate") {
    // full corpus: evens indexed, odds are the delta — survivors must be
    // exactly the odds with no qualifying jaccardPairsFrom partner
    import spark.implicits._
    val rows = Seq(
      0L -> text("a"), 1L -> text("a", edits = Seq(49)),
      2L -> text("b"), 3L -> text("b"),
      4L -> text("c"), 5L -> text("q"),
      7L -> text("q", edits = Seq(20)), 9L -> text("z"))
    val docs = rows.toDF("doc_id", "text")
    val pairs = Reference.jaccardPairsFrom(Dedup.shingleTable(docs, "text", "doc_id", N), T)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val qualifying = pairs.flatMap { case (a, b) =>
      // (new, partner) with partner indexed (even) or an earlier odd
      Seq((a, b), (b, a)).collect {
        case (nd, od) if nd % 2 == 1 && (od % 2 == 0 || od < nd) => nd
      }
    }.toSet
    val expected = rows.map(_._1).filter(id => id % 2 == 1 && !qualifying(id)).toSet
    val idx = sig(rows.filter(_._1 % 2 == 0))
    val delta = sig(rows.filter(_._1 % 2 == 1))
    assert(survivorIds(delta, idx) == expected)
  }
}
