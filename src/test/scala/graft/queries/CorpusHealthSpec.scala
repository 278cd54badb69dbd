package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-query consistency contracts for the corpus-health audits added
  * in round 13: the dedup threshold sweep, the IVF occupancy report, the
  * split-PSI table, and the tokenizer-fertility report. Each is checked
  * against an INDEPENDENT computation of the same fact — a sibling query
  * that is itself oracle-green, or a driver-side brute force — so a
  * wrong join/aggregate shape cannot agree by accident. */
class CorpusHealthSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("nbEval: equals the brute force over the classify result; un-predicted classes go NULL") {
    val cls = graft.operators.TextAnalysis.nbClassify(
        graft.Tables.documents(spark, dir), "text", "doc_id", "lang",
        isTrain = col("doc_id") % 10 < 8, buckets = 1024)
      .collect().map(r => (r.getString(1), r.getString(2), r.getBoolean(3)))
    val byTrue = cls.groupBy(_._1)
    val byPred = cls.groupBy(_._2).map { case (p, xs) => p -> xs.length }
    val got = QualityQueries.nbEval(spark, dir).collect()
    assert(got.map(_.getString(0)).toSeq == byTrue.keys.toSeq.sorted)
    got.foreach { r =>
      val label = r.getString(0)
      val xs = byTrue(label)
      val nTrue = xs.length.toLong
      val nCorrect = xs.count(_._3).toLong
      val nPred = byPred.getOrElse(label, 0).toLong
      assert(r.getLong(1) == nTrue && r.getLong(2) == nPred &&
        r.getLong(3) == nCorrect, s"counts for $label")
      if (nPred == 0) assert(r.isNullAt(4) && r.isNullAt(6), s"$label NULLs")
      else {
        val p = nCorrect.toDouble / nPred
        val rec = nCorrect.toDouble / nTrue
        assert(r.getDouble(4) == p && r.getDouble(5) == rec, s"$label p/r")
        if (p + rec > 0.0) assert(r.getDouble(6) == 2.0 * p * rec / (p + rec))
        else assert(r.isNullAt(6))
      }
    }
  }

  test("langIdConfusion: cells equal the brute force; zh is the designed marker-less failure row") {
    val raw = graft.Tables.documents(spark, dir).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val guesses = graft.Tables.documents(spark, dir)
      .select(col("lang"), graft.operators.TextAnalysis.langId(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val cells = guesses.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val totals = guesses.groupBy(_._1).map { case (l, xs) => l -> xs.length.toLong }
    val got = QualityQueries.langIdConfusion(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3),
        r.getBoolean(4))))
    assert(got.map(_._1).toSet == cells.keySet)
    got.foreach { case ((t, g), (n, frac, correct)) =>
      assert(n == cells((t, g)))
      assert(frac == n.toDouble / totals(t))
      assert(correct == (t == g))
    }
    // the designed failure mode is VISIBLE: zh rows exist and none are correct
    val zh = got.filter(_._1._1 == "zh")
    assert(zh.nonEmpty && zh.forall(!_._2._3), "zh must misroute (no marker list)")
    assert(raw.nonEmpty)
  }

  test("repetitionProfile: equals the driver-side brute force on sf0.001") {
    val got = QualityQueries.repetitionProfile(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to 9).map(r.getDouble).toSeq).toMap
    val raw = graft.Tables.documents(spark, dir)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def gramCounts(toks: Array[String], n: Int): Map[String, Int] =
      if (toks.length < n) Map.empty
      else toks.sliding(n).map(_.mkString(" ")).toSeq.groupBy(identity)
        .map { case (g, xs) => g -> xs.size }
    raw.foreach { case (id, text, chars) =>
      val toks = text.split(" ", -1)
      val expected =
        QualityQueries.RepetitionTopNs.map { n =>
          val cs = gramCounts(toks, n)
          if (chars == 0 || cs.isEmpty) 0.0
          else {
            val (g, c) = cs.toSeq.minBy { case (g, c) => (-c, g) }
            (c.toLong * g.length).toDouble / chars
          }
        } ++
        QualityQueries.RepetitionDupNs.map { n =>
          val cs = gramCounts(toks, n)
          if (chars == 0) 0.0
          else cs.collect { case (g, c) if c > 1 => c.toLong * g.length }
            .sum.toDouble / chars
        }
      assert(got(id) == expected, s"doc $id")
    }
    // the battery must fire somewhere on the fixture corpus
    assert(raw.exists(r => got(r._1).exists(_ > 0.0)))
  }

  test("dedupSweep: counts are monotone non-increasing in the threshold") {
    val rows = DedupQueries.dedupSweep(spark, dir).collect()
    assert(rows.map(_.getDouble(0)).toSeq == SharedArtifacts.SweepThresholds)
    val pairs = rows.map(_.getLong(1)).toSeq
    val docsN = rows.map(_.getLong(2)).toSeq
    assert(pairs == pairs.sorted.reverse, s"n_pairs not monotone: $pairs")
    assert(docsN == docsN.sorted.reverse, s"n_docs not monotone: $docsN")
  }

  test("dedupSweep at 0.8 agrees with the banded minhashDedup pair count") {
    // two independent candidate mechanisms (complete shared-shingle join
    // vs MinHash-LSH bands) verifying with the same exact Jaccard must
    // find the same >= 0.8 pair set on this corpus
    val sweep08 = DedupQueries.dedupSweep(spark, dir).collect()
      .find(_.getDouble(0) == 0.8).get.getLong(1)
    val banded = DedupQueries.minhashDedup(spark, dir).count()
    assert(sweep08 == banded, s"sweep says $sweep08 pairs, LSH says $banded")
  }

  test("ivfOccupancy: members sum to the corpus, shares to 1, load = share*nlist") {
    val rows = AnnQueries.ivfOccupancy(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total)
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares sum to $shareSum")
    rows.foreach { r =>
      assert(r.getDouble(3) == r.getDouble(2) * 10.0, s"load_factor off in $r")
    }
  }

  test("splitPsi equals the driver-side brute force from the split table") {
    // recompute PSI from trainSplit's own (oracle-green) assignment plus
    // a driver-side length bucketing, with the same quantized-log formula
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val split = SamplingQueries.trainSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    def bucketOf(text: String): String = {
      val n = text.split(" ", -1).length
      val floors = (1 to 13).map(p => 1L << p).filter(_ <= n)
      (if (floors.isEmpty) 1L else floors.max).toString
    }
    val feats = docs.flatMap { case (id, lang, text) =>
      val s = split(id)
      Seq(("lang", lang, s), ("length", bucketOf(text), s))
    }
    val expected = feats.groupBy(f => (f._1, f._2)).map { case ((feat, b), rows) =>
      val nTr = rows.count(_._3 == "train").toLong
      val nTe = rows.count(_._3 == "test").toLong
      (feat, b) -> (nTr, nTe)
    }
    val tots = expected.groupBy(_._1._1).map { case (feat, m) =>
      feat -> (m.values.map(_._1).sum, m.values.map(_._2).sum)
    }
    val got = SamplingQueries.splitPsi(spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val (nTr, nTe) = expected(key)
      val (totTr, totTe) = tots(key._1)
      assert(r.getLong(2) == nTr && r.getLong(3) == nTe, s"counts off for $key")
      val pTr = nTr.toDouble / totTr.toDouble
      val pTe = nTe.toDouble / totTe.toDouble
      assert(r.getDouble(4) == pTr && r.getDouble(5) == pTe, s"shares off for $key")
      if (nTr > 0 && nTe > 0) {
        val lnq = math.floor(math.log(pTr / pTe) * 1000000.0).toLong
        assert(r.getDouble(6) == (pTr - pTe) * (lnq / 1000000.0), s"psi off for $key")
      } else assert(r.isNullAt(6), s"psi_term must be NULL for one-sided $key")
    }
  }

  test("bpeFertility totals equal bpeEncode re-aggregated per language") {
    val perDoc = TokenQueries.bpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val langOf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = perDoc.groupBy { case (id, _) => langOf(id) }
      .map { case (lang, m) =>
        lang -> (m.size.toLong, m.values.map(_._1).sum, m.values.map(_._2).sum)
      }
    val got = TokenQueries.bpeFertility(spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (nDocs, nWords, nBpe) = expected(r.getString(0))
      assert(r.getLong(1) == nDocs && r.getLong(2) == nWords &&
        r.getLong(3) == nBpe, s"totals off for ${r.getString(0)}")
      assert(r.getDouble(5) == nBpe.toDouble / nWords.toDouble)
    }
  }
}
