package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the round-5 text operators: n-gram row streams,
  * Gopher-style repetition stats, corpus boilerplate fractions, and the
  * PII redaction rule chain. */
class TextOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
  }

  test("gopherRules: each rule flags independently and keep fuses them") {
    val passing = (Seq.fill(48)("word") ++ Seq("the", "a")).mkString(" ")
    val tooShort = "the a short doc"
    val longWords = Seq.fill(50)("supercalifragilistic").mkString(" ")
    val numeric = (Seq.fill(48)("123") ++ Seq("the", "a")).mkString(" ")
    val d = docs(1L -> passing, 2L -> tooShort, 3L -> longWords,
      4L -> numeric)
    val out = TextAnalysis.gopherRules(d, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9), r.getBoolean(10),
        r.getBoolean(11)))
    // (id, r_words, r_mwl, r_alpha, r_stop, r_sym, keep)
    assert(out(0) == ((1L, true, true, true, true, true, true)))
    assert(out(1)._2 == false && out(1)._7 == false) // < 50 words
    assert(out(2)._3 == false && out(2)._5 == false && !out(2)._7) // 20-char words, no stopwords
    assert(out(3)._4 == false && !out(3)._7) // 4% alphabetic words
    // signal values are exact: doc 1's mean word length is 196/50
    val mwl1 = TextAnalysis.gopherRules(d, "text", "doc_id")
      .filter(col("doc_id") === 1).select("mean_word_len")
      .head().getDouble(0)
    assert(mwl1 == 196.0 / 50.0)
  }

  /** The q_span_dedup composition over crafted docs: positional 5-token
    * span rows, then the per-document statistics. */
  private def spanDupStats(d: org.apache.spark.sql.DataFrame) =
    Dedup.spanDupStatsFrom(Dedup.spanPositionRows(d, "text", "doc_id", n = 5))

  test("spanDupStats: flags span instances shared across documents") {
    val d = docs(
      1L -> "a b c d e f", // spans "a b c d e" (shared with 2), "b c d e f"
      2L -> "a b c d e x", // spans "a b c d e" (shared with 1), "b c d e x"
      3L -> "z z z z z",   // unique span, also REPEATED within no other doc
      4L -> "too short")   // < 5 tokens: no spans, absent from the output
    val out = spanDupStats(d)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 0.5),
      (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0)))
  }

  test("spanDupStats: within-document repeats do not count as duplicated") {
    // doc 5 repeats its own span twice; doc-frequency is DISTINCT docs,
    // so neither instance is flagged until another doc shares it
    val alone = docs(5L -> "p q r s t u p q r s t")
    val a = spanDupStats(alone)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSeq == Seq((5L, 7L, 0L)))
    val pair = docs(5L -> "p q r s t u p q r s t", 6L -> "p q r s t")
    val p = spanDupStats(pair)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // "p q r s t" occurs at positions 0 and 6 of doc 5 — both instances flag
    assert(p.toSeq == Seq((5L, 7L, 2L), (6L, 1L, 1L)))
  }

  test("spanScrub: cuts covered tokens, drops fully-duplicated docs, keeps short docs whole") {
    val d = docs(
      1L -> "a b c d e f", // "a b c d e" shared with 2 → tokens 0-4 cut
      2L -> "a b c d e x",
      3L -> "z y x w v u", // unique spans → untouched
      4L -> "a b c d e",   // every token covered → dropped
      5L -> "tiny doc")    // < 5 tokens: no spans, passes through whole
    val out = Dedup.spanScrubFrom(d, "text", "doc_id", n = 5,
        Dedup.spanPositionRows(d, "text", "doc_id", n = 5))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "f", 1L),
      (2L, "x", 1L),
      (3L, "z y x w v u", 6L),
      (5L, "tiny doc", 2L)))
  }

  test("ngramRows: occurrences in order, short docs drop out") {
    val d = docs(1L -> "a b c d", 2L -> "x y", 3L -> "solo")
    val g2 = TextAnalysis.ngramRows(d, "text", "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(g2.toSeq == Seq((1L, "a b"), (1L, "b c"), (1L, "c d"), (2L, "x y")))
    val g3 = TextAnalysis.ngramRows(d, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(g3.toSeq == Seq((1L, "a b c"), (1L, "b c d")))
  }

  test("ngramRows is a narrow map: no Exchange, and distinct=true dedupes in-row") {
    val d = docs(1L -> "a b a b")
    val plan = TextAnalysis.ngramRows(d, "text", "doc_id", 2, distinct = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gram stream must not shuffle:\n$plan")
    val g = TextAnalysis.ngramRows(d, "text", "doc_id", 2, distinct = true)
      .collect().map(_.getString(1))
    assert(g.toSeq == Seq("a b", "b a"))
  }

  test("repetitionStats: top bigram coverage and duplicated trigram fraction") {
    // "x y x y z": bigrams x y (2), y x, y z -> top "x y", 2*3/9 chars;
    // trigrams all unique -> dup 0. "a b a b a b": top bigram "a b" (3),
    // trigrams "a b a" (2) and "b a b" (2) -> dupchars 4*5 over 11 chars.
    val d = docs(1L -> "x y x y z", 2L -> "a b a b a b")
    val r = TextAnalysis.repetitionStats(d, "text", "doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(r(0) == ((1L, "x y", 6.0 / 9, 0.0)))
    assert(r(1) == ((2L, "a b", 9.0 / 11, 20.0 / 11)))
    // in-row GramStats makes the whole operator shuffle-free
    val plan = TextAnalysis.repetitionStats(d, "text", "doc_id", "n_chars")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetition stats must be narrow:\n$plan")
  }

  test("repetitionStats: tie on count breaks to the smallest gram; tiny docs get 0.0") {
    val d = docs(1L -> "b a c a", 2L -> "one")
    val r = TextAnalysis.repetitionStats(d, "text", "doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    // all bigrams occur once -> lexicographically smallest "a c" wins
    assert(r(0) == ((1L, Some("a c"), 3.0 / 7, 0.0)))
    assert(r(1) == ((2L, None, 0.0, 0.0)))
  }

  test("boilerplateStats: grams crossing minDf flag their documents") {
    val common = "the quick brown" // shared trigram across 3 docs
    val d = docs(
      1L -> s"$common fox",
      2L -> s"$common dog",
      3L -> s"$common cat jumps",
      4L -> "entirely different words here")
    val r = TextAnalysis.boilerplateStats(d, "text", "doc_id", minDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // docs 1-2: grams {the quick brown, quick brown fox|dog} -> 1 of 2
    assert(r(0) == ((1L, 2L, 1L, 0.5)))
    assert(r(1) == ((2L, 2L, 1L, 0.5)))
    // doc 3 has 3 grams, 1 boilerplate
    assert(r(2)._1 == 3L && r(2)._3 == 1L)
    // doc 4: nothing shared
    assert(r(3) == ((4L, 2L, 0L, 0.0)))
  }

  test("stratifiedSample: per-stratum rates, deterministic and narrow") {
    import spark.implicits._
    val d = (0L until 300L).map(i => (i, if (i < 200) "en" else "de"))
      .toDF("doc_id", "lang")
    val s = Sampling.stratifiedSample(d, "doc_id", "lang",
      Map("en" -> 0, "de" -> 100), defaultPct = 50)
    val byLang = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("en") && byLang("de") == 100L)
    // re-run and repartition give the identical member set
    val a = s.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.stratifiedSample(d.repartition(7), "doc_id", "lang",
        Map("en" -> 0, "de" -> 100), defaultPct = 50)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
    assert(!s.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("samplePerGroup: exactly k per group, stable under repartitioning") {
    import spark.implicits._
    val d = (0L until 100L).map(i => (i, (i % 3).toString)).toDF("doc_id", "g")
    val s = Sampling.samplePerGroup(d, "doc_id", "g", k = 5)
    val counts = s.groupBy("g").count().collect().map(_.getLong(1))
    assert(counts.length == 3 && counts.forall(_ == 5L))
    val a = s.collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.samplePerGroup(d.repartition(11), "doc_id", "g", k = 5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("saltedJoin: identical result set to the plain join, key spread across salts") {
    import spark.implicits._
    // one hot key (0) holding 80% of the fact rows
    val facts = (0L until 500L).map(i => (if (i < 400) 0L else i % 7, i)).toDF("k", "fact_id")
    val dims = (0L until 7L).map(i => (i, s"dim$i")).toDF("k", "name")
    val plain = facts.join(dims, "k").select("k", "fact_id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val salted = Skew.saltedJoin(facts, dims, "k", "fact_id", salts = 8)
      .select("k", "fact_id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(salted == plain)
    // the hot key's fact rows really do carry more than one distinct salt
    val spread = facts.withColumn("__salt",
        pmod(xxhash64(col("fact_id")), lit(8L)))
      .filter(col("k") === 0L).select("__salt").distinct().count()
    assert(spread > 1, s"hot key must spread across salts, got $spread")
  }

  test("candidate-restricted Jaccard equals the exact all-pairs formulation") {
    // the LSH-candidate path (what q_ngram_jaccard now runs) must find the
    // same verified pair set as the exact prefix-filtered self-join it
    // replaced — on real documents, not just synthetic toys
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = Dedup.shingleTable(docs, "text", "doc_id", n = 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("da", "db", "inter", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(p => (p._1, p._2)).toSeq
    val exact = pairs(Reference.jaccardPairsFrom(sh, threshold = 0.8))
    val viaLsh = pairs(Dedup.minhashDupPairsFrom(sh, k = 64, bands = 16, threshold = 0.8))
    assert(exact.nonEmpty, "test corpus must contain near-duplicates")
    assert(viaLsh == exact)
  }

  test("winnow-fingerprint candidates recover the exact near-dup pair set") {
    // the shared-fingerprint retrieval path (what q_winnow_pairs runs):
    // candidates = docs sharing any MOSS fingerprint, then the SAME exact
    // verifier as the LSH path — on this corpus it must find exactly the
    // all-pairs exact-Jaccard near-dups (copies share long token runs, so
    // the winnow guarantee applies)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = Dedup.shingleTable(docs, "text", "doc_id", n = 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("da", "db", "inter", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(p => (p._1, p._2)).toSeq
    val exact = pairs(Reference.jaccardPairsFrom(sh, threshold = 0.8))
    val fps = TextAnalysis.winnowFingerprints(docs, "text", "doc_id", n = 3, w = 4)
    // the same ≥2-shared-fingerprints confidence filter the query runs
    val cand = fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select("da", "db")
    val viaWinnow = pairs(Dedup.jaccardVerifiedPairs(cand, sh, threshold = 0.8))
    assert(exact.nonEmpty, "test corpus must contain near-duplicates")
    assert(viaWinnow == exact)
  }

  test("simhashPairs: banded equi-join equals the naive quadratic Hamming join") {
    // pigeonhole exactness: at radius 3 with 4 bands of 15 bits, any pair
    // within the radius shares >=1 band slice — so the banded candidate
    // path must reproduce the all-pairs popcount join EXACTLY (unlike
    // MinHash banding, which trades recall). Real corpus, not toys.
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val sig = Dedup.simhashAgg(docs, "text", "doc_id")
    val naive = sig.as("a").join(sig.as("b"), col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("da"), col("b.doc").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    val banded = Dedup.simhashPairsFrom(
        Dedup.simhashAgg(docs, "text", "doc_id", bits = 60),
        maxHamming = 3, bits = 60, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(naive.nonEmpty, "test corpus must contain simhash near-dups")
    assert(banded == naive)
  }

  test("simhashPairs: radius >= bands is rejected (banding would lose pairs)") {
    val d = docs(1L -> "a b c", 2L -> "a b d")
    assertThrows[IllegalArgumentException] {
      Dedup.simhashPairsFrom(Dedup.simhashAgg(d, "text", "doc_id", bits = 60),
        maxHamming = 4, bits = 60, bands = 4)
    }
  }

  test("collocations: lifted pairs score above independent ones; degenerate corpora are empty") {
    // "x y" always adjacent (lift >> 1) vs tokens that co-occur at chance
    val lifted = docs(
      1L -> "x y a b c x y d e f",
      2L -> "x y g h i x y j k l",
      3L -> "m n x y o p x y q r")
    val out = TextAnalysis.collocations(lifted, "text", minCount = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("x y", 6L, out.head._3)) && out.head._3 > 1.0,
      s"only the planted collocation has count >= 5: ${out.toSeq}")
    // sub-bigram docs produce no bigrams: must return empty, not throw
    // (ANSI mode makes the naive ratio path divide by zero)
    val tiny = docs(1L -> "a", 2L -> "b")
    assert(TextAnalysis.collocations(tiny, "text", minCount = 1).count() == 0)
  }

  test("snapshotDiff: added, removed, changed, unchanged — full-outer digest join") {
    import spark.implicits._
    val v1 = Seq((1L, "same text", "en"), (2L, "old text", "en"),
      (3L, "going away", "de")).toDF("doc_id", "text", "lang")
    val v2 = Seq((1L, "same text", "en"), (2L, "new text", "en"),
      (4L, "brand new", "fr")).toDF("doc_id", "text", "lang")
    val diff = graft.operators.Diff.snapshotDiff(v1, v2, "doc_id", Seq("text", "lang"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(diff == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
  }

  test("snapshotDiff: a value moving between columns or across a separator reads as changed") {
    import spark.implicits._
    def status(a: (String, String), b: (String, String)): String =
      graft.operators.Diff.snapshotDiff(Seq((1L, a._1, a._2)).toDF("doc_id", "text", "lang"),
          Seq((1L, b._1, b._2)).toDF("doc_id", "text", "lang"), "doc_id", Seq("text", "lang"))
        .collect().head.getString(1)
    // nulls must not be skipped: ("a", null) and (null, "a") differ
    assert(status(("a", null), (null, "a")) == "changed")
    assert(status(("", "x"), (null, "x")) == "changed")
    // separator-bearing values must not re-split across columns
    assert(status(("a b", "c"), ("a", "b c")) == "changed")
    assert(status(("a\u0000b", "c"), ("a", "b\u0000c")) == "changed")
    assert(status(("a", null), ("a", null)) == "unchanged")
  }

  test("chunkTokens: overlapped windows, short final chunk, sub-size doc whole") {
    val d = docs(
      1L -> (1 to 10).map(i => s"t$i").mkString(" "), // 10 tokens
      2L -> "a b c",                                  // sub-size: one chunk
      3L -> (1 to 8).map(i => s"u$i").mkString(" "))  // exactly 2 steps
    val out = TextAnalysis.chunkTokens(d, "text", "doc_id", chunkSize = 6, overlap = 2)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byDoc = out.groupBy(_._1)
    // doc 1: starts 0, 4, 8 → chunks of 6, 6, 2 tokens; overlap = t5 t6 / t9 t10
    assert(byDoc(1L).map(_._3).toSeq == Seq(
      "t1 t2 t3 t4 t5 t6", "t5 t6 t7 t8 t9 t10", "t9 t10"))
    assert(byDoc(1L).map(_._4).toSeq == Seq(6L, 6L, 2L))
    // doc 2: single whole chunk
    assert(byDoc(2L).map(r => (r._3, r._4)).toSeq == Seq(("a b c", 3L)))
    // doc 3: 8 tokens → starts 0, 4 → 6-token + 4-token chunks
    assert(byDoc(3L).map(_._4).toSeq == Seq(6L, 4L))
    // every token of every doc is covered by at least one chunk
    assert(byDoc(1L).map(_._3).flatMap(_.split(" ")).distinct.size == 10)
  }

  test("bloom decontamination equals the exact broadcast path, even at absurd fpp") {
    val d = docs(
      1L -> "the secret benchmark question about databases",
      2L -> "another held out evaluation prompt entirely",
      10L -> "a corpus document repeating the secret benchmark question about databases",
      11L -> "clean corpus text with novel words only",
      12L -> "another held out evaluation prompt entirely copied verbatim",
      13L -> "short")
    val bench = d.filter(col("doc_id") < 10)
    val corpus = d.filter(col("doc_id") >= 10)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = asMap(Dedup.contaminatedDocs(corpus, bench, "text", "doc_id", n = 3))
    val viaBloom = asMap(
      Dedup.contaminatedDocsBloom(corpus, bench, "text", "doc_id", n = 3))
    assert(viaBloom == exact, s"bloom path drifted: $viaBloom vs $exact")
    // a deliberately terrible bitset (fpp 0.5) floods the prefilter with
    // false positives — the verify join must still produce exact results
    val sloppy = asMap(Dedup.contaminatedDocsBloom(
      corpus, bench, "text", "doc_id", n = 3, fpp = 0.5))
    assert(sloppy == exact, "verify join must erase bloom false positives")
  }

  test("quantize: int8 round-trip error bounded by half a step; zero vector safe") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.125f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = d.select(col("vec_id"),
        Quantize.int8Scale(col("embedding")).as("scale"),
        Quantize.int8Csv(col("embedding")).as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getString(2).split(",").map(_.toLong).toSeq))
      .sortBy(_._1)
    val (_, scale, q) = r(0)
    assert(scale == 127.0) // max|x| = 1.0
    assert(q == Seq(64L, -127L, 32L, 16L)) // floor(x*127 + 0.5)
    // dequantized error ≤ half a quantization step
    val orig = Seq(0.5, -1.0, 0.25, 0.125)
    q.map(_.toDouble / scale).zip(orig).foreach { case (deq, x) =>
      assert(math.abs(deq - x) <= 0.5 / scale + 1e-12)
    }
    assert(r(1) == ((2L, 0.0, Seq(0L, 0L, 0L, 0L))))
  }

  test("persisted int8 index: byte-packed parquet round-trips the dequantized vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val emb = (Seq.tabulate(40)(i =>
        (i.toLong, Seq.fill(64)(rnd.nextFloat() * 4 - 2))) :+
        (99L, Seq.fill(64)(0.0f))) // zero vector must round-trip to zeros
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("int8_idx").resolve("index").toString
    Quantize.writeIndex(emb, "vec_id", "embedding", idx)
    // the index really is byte-packed: binary column, d bytes per vector
    val stored = spark.read.parquet(idx)
    assert(stored.schema("bin").dataType == org.apache.spark.sql.types.BinaryType)
    assert(stored.collect().forall(_.getAs[Array[Byte]]("bin").length == 64))
    // the native read path reproduces the write side's round trip exactly
    val fromIndex = Quantize.readIndexVectors(spark, idx)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val inFlight = emb.select(col("vec_id"),
        Quantize.roundTrip(col("embedding")).as("dq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(fromIndex == inFlight)
    // and the read plan is a narrow codegen'd scan: no Exchange, native op
    val plan = Quantize.readIndexVectors(spark, idx)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && plan.contains("rm_int8_dequantize"),
      s"index read must be a narrow native scan:\n$plan")
  }

  test("redact: default chain masks email, ip, phone, digit runs in order") {
    import spark.implicits._
    val d = Seq(
      "write to bob.smith+x@corp.example.org or call +1 (555) 123-4567",
      "server 192.168.001.254 port 80, acct 123456",
      "no pii here 123").toDF("t")
    val out = d.select(Redact.scrub(col("t")).as("s"),
      Redact.matchCount(col("t"), Redact.email).as("ne"),
      Redact.matchCount(col("t"), Redact.ipv4).as("ni"),
      Redact.matchCount(col("t"), Redact.phone).as("np"),
      Redact.matchCount(col("t"), Redact.digitRun).as("nd"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out(0) == (("write to <EMAIL> or call <PHONE>", 1L, 0L, 1L, 1L)))
    assert(out(1) == (("server <IP> port 80, acct <ID>", 0L, 1L, 0L, 1L)))
    assert(out(2) == (("no pii here 123", 0L, 0L, 0L, 0L)))
  }

  test("redact: chain order means the ip wins over phone/digit rules") {
    import spark.implicits._
    val d = Seq("10.0.0.1").toDF("t")
    assert(d.select(Redact.scrub(col("t"))).as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().head == "<IP>")
  }
}
