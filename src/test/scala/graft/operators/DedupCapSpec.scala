package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[Dedup.AuditDfCap]] document-frequency cap on the complete-
  * candidate audit joins ([[Dedup.allPairsJaccard]] and the winnow pair
  * candidate join): at the test SFs the cap must exclude NOTHING (max
  * observed df is 25 at sf0.1, 7 at sf0.01 — far below the cap), so the
  * capped form is provably identical to the uncapped complete join; on
  * planted boilerplate past the cap, hot-only pairs must stop being
  * proposed and [[Dedup.hotShingleStats]] must report exactly the
  * excluded mass. Together these pin the 100 TB contract: the audit is
  * complete until boilerplate makes completeness superlinear, and then
  * it SAYS so in its own output instead of silently melting down. */
class DedupCapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.select("da", "db", "inter", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("capped allPairsJaccard is the complete join at test SF (cap excludes nothing)") {
    val docs = graft.Tables.documents(spark, dir)
    val sh = Dedup.shingleTable(docs, "text", "doc_id", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val capped = pairSet(Dedup.allPairsJaccard(sh, threshold = 0.5))
      val uncapped = pairSet(Dedup.allPairsJaccard(sh, threshold = 0.5,
        dfCap = Long.MaxValue))
      assert(capped == uncapped, "default cap must not lose or alter any pair")
      assert(capped.nonEmpty, "the corpus has >= 0.5 near-dup pairs to compare on")
      // the honesty ledger agrees: nothing excluded
      val hot = Dedup.hotShingleStats(sh).collect().head
      assert(hot.getLong(0) == 0L && hot.getDouble(2) == 0.0,
        "hot_share must be 0.0 when the cap excludes nothing")
    } finally sh.unpersist(blocking = false)
  }

  test("planted boilerplate past the cap: hot-only pairs dropped, ledger exact") {
    import spark.implicits._
    // docs 1-4: identical pure-boilerplate bodies (6 words -> 4 trigram
    // shingles, each appearing in 6 docs). docs 10, 11: identical unique
    // bodies (cold shingles, df 2). docs 20, 21: identical unique prefix
    // + the boilerplate tail (6 cold shingles incl. 2 bridging + the 4
    // hot ones) — the pair that NEEDS the hot-intersection correction
    // for its exact jaccard. cap = 2 makes ONLY the boilerplate hot.
    val boiler = "terms of service apply all rights"
    val unique = "the quick brown fox jumps over the lazy dog tonight"
    val mixed = s"alpha beta gamma delta epsilon zeta $boiler"
    val docs = (Seq(1L, 2L, 3L, 4L).map(id => (id, boiler)) ++
      Seq((10L, unique), (11L, unique), (20L, mixed), (21L, mixed)))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleTable(docs, "text", "doc_id", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val uncapped = pairSet(Dedup.allPairsJaccard(sh, 0.5, dfCap = Long.MaxValue))
      val capped = pairSet(Dedup.allPairsJaccard(sh, 0.5, dfCap = 2L))
      // uncapped >= 0.5: the 6 boilerplate pairs, (10,11), (20,21) — the
      // boiler x mixed cross pairs sit at j = 4/10 and stay out
      assert(uncapped.map(p => (p._1, p._2)) ==
        Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
          (10L, 11L), (20L, 21L)))
      // capped: hot-only pairs are not proposed; both surviving pairs
      // carry the exact FULL intersection — (20,21) only via the
      // hot-correction join (6 cold + 4 hot shared shingles)
      assert(capped.map(p => (p._1, p._2)) == Set((10L, 11L), (20L, 21L)))
      assert(capped.find(p => p._1 == 10L).get._3 == 8L)
      assert(capped.find(p => p._1 == 20L).get._3 == 10L)
      assert(capped.forall(_._4 == 1.0))
      // the ledger prices the exclusion exactly: 4 hot shingles x df 6
      // = 24 of 52 total (doc, shingle) rows
      val hot = Dedup.hotShingleStats(sh, dfCap = 2L).collect().head
      assert(hot.getLong(0) == 24L && hot.getLong(1) == 52L &&
        hot.getDouble(2) == 24.0 / 52.0)
    } finally sh.unpersist(blocking = false)
  }

  test("capped winnow pair query equals uncapped at test SF") {
    val capped = graft.SparkEntry.queries("q_winnow_pairs")(spark, dir)
      .collect().map(_.toSeq).toSet
    val uncapped = graft.queries.DedupQueries.winnowPairsWith(spark, dir,
        dfCap = Long.MaxValue)
      .collect().map(_.toSeq).toSet
    assert(capped == uncapped, "fp df cap must not change the verified pair set")
  }
}
