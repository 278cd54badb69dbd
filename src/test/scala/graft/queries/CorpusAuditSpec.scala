package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TextAnalysis => TA}

/** Brute-force parity for the round-13 corpus-audit operators: n-gram
  * novelty, cross-source overlap, OOV-rate, and the event funnel. Each
  * distributed result is recomputed with plain Scala collections on the
  * driver from the SAME input rows, so a wrong shuffle/join shape cannot
  * agree by accident. */
class CorpusAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The q_gram_novelty composition over crafted docs: each document's
    * distinct 3-gram hashes (the shingle table), exploded into the
    * first-owner attribution. */
  private def gramNovelty(d: org.apache.spark.sql.DataFrame) =
    TA.gramNoveltyFrom(
      graft.operators.Dedup.shingleTable(d, "text", "doc_id", n = 3)
        .select(col("doc").as("doc_id"), explode(col("shh")).as("h")),
      "doc_id")

  test("gramNovelty: hand-checked attribution on crafted docs") {
    val d = docs(
      1L -> "a b c d",   // grams: "a b c", "b c d" — both novel (first doc)
      2L -> "a b c x",   // "a b c" seen (doc 1), "b c x" novel
      3L -> "a b c d",   // both grams seen
      4L -> "q r")       // < 3 tokens: absent
    val out = gramNovelty(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0)))
  }

  test("gramNovelty: within-doc repeats count once, conservation holds") {
    val d = docs(
      1L -> "a b c a b c a b c", // distinct grams: a b c / b c a / c a b
      2L -> "a b c z z z")       // "a b c" seen; "b c z", "c z z", "z z z" novel
    val out = gramNovelty(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 3L, 3L), (2L, 4L, 3L)))
    // conservation: every distinct gram in the corpus is novel exactly once
    val totalDistinct = d.select(explode(
        graft.functions.ShingleText.shingleText(col("text"), 3, distinct = true)))
      .distinct().count()
    assert(out.map(_._3).sum == totalDistinct)
  }

  test("q_gram_novelty equals the driver-side brute force on sf0.001") {
    val got = TokenQueries.gramNovelty(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val raw = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val grams = raw.map { case (id, t) =>
      val a = t.split(" ", -1)
      id -> a.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val firstOwner = grams.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val expected = grams.filter(_._2.nonEmpty).map { case (id, gs) =>
      val novel = gs.count(g => firstOwner(g) == id)
      (id, gs.size.toLong, novel.toLong, novel.toDouble / gs.size)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
  }

  test("q_source_overlap equals the driver-side brute force on sf0.001") {
    val got = AuditQueries.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val raw = graft.Tables.documents(spark, dir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = raw.groupBy(_._1).map { case (s, xs) =>
      s -> xs.flatMap { case (_, t) =>
        val a = t.split(" ", -1)
        a.sliding(5).filter(_.length == 5).map(_.mkString(" "))
      }.toSet
    }
    val srcs = bySrc.keys.toSeq.sorted
    val expected = for {
      a <- srcs; b <- srcs if a < b
      inter = (bySrc(a) & bySrc(b)).size if inter > 0
    } yield (a, b, inter.toLong, bySrc(a).size.toLong, bySrc(b).size.toLong,
      inter.toDouble / (bySrc(a).size + bySrc(b).size - inter))
    assert(got.toSeq.sortBy(t => (t._1, t._2)) ==
      expected.sortBy(t => (t._1, t._2)))
    got.foreach { t => assert(t._6 > 0.0 && t._6 <= 1.0) }
  }

  test("q_oov_rate equals the driver-side brute force on sf0.001") {
    val got = TokenQueries.oovRate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val raw = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val counts = raw.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(TokenQueries.OovVocabSize).map(_._1).toSet
    val expected = raw.map { case (id, toks) =>
      val oov = toks.count(!vocab(_))
      (id, toks.size.toLong, oov.toLong, oov.toDouble / toks.size)
    }.sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
  }

  test("q_event_funnel equals the driver-side brute force on sf0.001") {
    val got = Extensions.eventFunnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    def firstOf(xs: Array[(Long, String, Long)], t: String): Option[Long] = {
      val ts = xs.collect { case (_, `t`, s) => s }
      if (ts.isEmpty) None else Some(ts.min)
    }
    var n1 = 0L; var n2 = 0L; var n3 = 0L
    byUser.values.foreach { xs =>
      val v = firstOf(xs, "view"); val c = firstOf(xs, "click")
      val p = firstOf(xs, "purchase")
      if (v.isDefined) {
        n1 += 1
        if (c.isDefined && c.get >= v.get) {
          n2 += 1
          if (p.isDefined && p.get >= c.get) n3 += 1
        }
      }
    }
    assert(got.toSeq == Seq(
      (1L, "view", n1, 1.0, 1.0),
      (2L, "click", n2, n2.toDouble / n1, n2.toDouble / n1),
      (3L, "purchase", n3, n3.toDouble / n1, n3.toDouble / n2)))
    // funnel counts are monotone non-increasing by construction
    assert(n1 >= n2 && n2 >= n3 && n3 >= 0)
  }

  test("q_event_funnel_strict equals the brute force; stage counts ≥ first-touch") {
    val got = Extensions.eventFunnelStrict(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    var n1 = 0L; var n2 = 0L; var n3 = 0L
    ev.groupBy(_._1).values.foreach { xs =>
      val views = xs.collect { case (_, "view", s) => s }
      if (views.nonEmpty) {
        n1 += 1
        val t1 = views.min
        val clicks = xs.collect { case (_, "click", s) if s >= t1 => s }
        if (clicks.nonEmpty) {
          n2 += 1
          val t2 = clicks.min
          if (xs.exists { case (_, t, s) => t == "purchase" && s >= t2 }) n3 += 1
        }
      }
    }
    assert(got.toSeq == Seq(
      (1L, "view", n1, 1.0, 1.0),
      (2L, "click", n2, n2.toDouble / n1, n2.toDouble / n1),
      (3L, "purchase", n3, n3.toDouble / n1, n3.toDouble / n2)))
    // strict sequencing can only ADD users vs the first-touch ordering
    // (a first click before the first view no longer disqualifies), and
    // both funnels share stage-1
    val ft = Extensions.eventFunnel(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(n1 == ft(1L))
    assert(n2 >= ft(2L) && n3 >= ft(3L))
  }

  test("q_retention_cohorts equals the driver-side brute force on sf0.001") {
    val got = Extensions.retentionCohorts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400L))
    val userDays = ev.distinct
    val cohort = userDays.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val expected = userDays
      .map { case (u, d) => (cohort(u), (d - cohort(u)) / 7L, u) }
      .groupBy(t => (t._1, t._2))
      .map { case ((c, w), xs) => (c, w, xs.map(_._3).distinct.size.toLong) }
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got.toSeq == expected)
    // week 0 exists for every cohort and is its largest week
    expected.groupBy(_._1).foreach { case (_, rows) =>
      val byWeek = rows.map(r => r._2 -> r._3).toMap
      assert(byWeek.contains(0L))
      assert(byWeek.values.max == byWeek(0L))
    }
  }

  test("q_event_anomaly equals the driver-side brute force on sf0.001") {
    val got = Extensions.eventAnomaly(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600L))
    val expected = ev.groupBy(identity).map { case ((t, h), xs) => (t, h, xs.length.toLong) }
      .toSeq.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
        val sorted = rows.sortBy(_._2)
        sorted.zipWithIndex.map { case ((_, h, n), i) =>
          val frame = sorted.slice(math.max(0, i - 24), i).map(_._3)
          val c = frame.length.toLong
          if (c >= 2) {
            val s1 = frame.sum
            val s2 = frame.map(x => x * x).sum
            val mean = s1.toDouble / c
            val varr = (s2.toDouble - s1.toDouble * s1 / c) / (c - 1)
            val z = if (varr > 0) Some((n - mean) / math.sqrt(varr)) else None
            (t, h, n, c, Some(mean), z)
          } else (t, h, n, c, None, None)
        }
      }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == expected)
  }

  test("q_source_drift: equals the driver-side fixed-point brute force; zero iff one source") {
    val got = AuditQueries.sourceDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val sources = graft.Tables.documents(spark, dir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val raw = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => (sources(r.getLong(0)), r.getSeq[Float](1)))
    val dims = raw.head._2.length
    def fx(vs: Seq[Float]): Seq[Long] =
      vs.map(v => math.floor(v.toDouble * 1e6).toLong)
    val bySrc = raw.groupBy(_._1).map { case (s, xs) =>
      val sums = xs.map(x => fx(x._2)).toSeq.transpose.map(_.sum)
      (s, xs.length.toLong, sums)
    }
    val nG = raw.length.toLong
    val gSums = raw.map(x => fx(x._2)).toSeq.transpose.map(_.sum)
    val expected = bySrc.map { case (s, n, sums) =>
      val d2 = (0 until dims).map { d =>
        val diff = sums(d).toDouble / n / 1e6 - gSums(d).toDouble / nG / 1e6
        math.floor(diff * diff * 1e12).toLong
      }.sum
      (s, n, math.sqrt(d2.toDouble / 1e12))
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
    assert(got.length > 1 && got.exists(_._3 > 0.0),
      "fixture corpus must show measurable per-source drift")
  }

  test("q_label_centroids: fixed-point sums are exact and partitioning-invariant") {
    val got = AnnQueries.labelCentroids(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // brute force over the same rows with the same fixed-point quantization
    val raw = graft.Tables.embeddings(spark, dir)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val expected = raw.flatMap { case (l, vec) =>
      vec.zipWithIndex.map { case (v, d) => ((l, d.toLong), v) }
    }.groupBy(_._1).map { case ((l, d), xs) =>
      val s = xs.map(x => math.floor(x._2.toDouble * 1e6).toLong).sum
      (l, d, xs.length.toLong, s.toDouble / xs.length / 1e6)
    }.toSeq.sortBy(t => (t._1, t._2))
    // exact: the sums are integers and the two divisions run in the
    // identical IEEE order on both sides
    assert(got.toSeq == expected)
    // partitioning invariance: the integer sums make the result bit-equal
    // under a different physical layout
    val got2 = AnnQueries.labelCentroids(spark, dir)
    assert(got2.count() == 10 * 64)
    val reOrdered = graft.Tables.embeddings(spark, dir).repartition(7)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("v").cast("double") * lit(1e6)).cast("long")).as("s_fx"))
      .select(col("label"), col("dim").cast("long").as("dim"), col("n_vecs"),
        (col("s_fx").cast("double") / col("n_vecs") / lit(1e6)).as("centroid"))
      .orderBy("label", "dim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == reOrdered.toSeq, "bit-equal under repartitioning")
  }

  test("q_source_kl equals the driver-side brute force on sf0.001") {
    val got = AuditQueries.sourceKl(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val words = graft.Tables.documents(spark, dir)
      .select("source", "text").collect()
      .flatMap(r => Option(r.getString(1)).toSeq
        .flatMap(_.split(" ", -1)).map(r.getString(0) -> _))
    val cSw = words.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cW = words.groupBy(_._2).map { case (w, v) => w -> v.length.toLong }
    val nS = words.groupBy(_._1).map { case (s, v) => s -> v.length.toLong }
    val n = words.length.toLong
    val expected = cSw.groupBy(_._1._1).map { case (s, m) =>
      val fx = m.map { case ((_, w), c) =>
        math.floor(1e6 * (c.toDouble / nS(s)) *
          math.log((c.toDouble * n) / (nS(s).toDouble * cW(w)))).toLong
      }.sum
      (s, nS(s), m.size.toLong, fx.toDouble / 1e6)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
    // a floored-term KL can only undershoot the true (non-negative) KL by
    // < 1e-6 per vocab word — anything below that bound is a real bug
    got.foreach { case (s, _, vocab, kl) =>
      assert(kl >= -(vocab.toDouble / 1e6), s"source $s: kl $kl below floor bound")
    }
  }

  test("q_signal_corr equals the driver-side exact-moment Pearson on sf0.001") {
    val got = QualityQueries.signalCorr(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // collect the SAME integer signals the query computes, brute-force
    // the moments in BigInt, and apply the identical final expression
    val sigs = graft.Tables.documents(spark, dir)
      .select(col("doc_id") +: QualityQueries.ensembleSignals(col("text"), col("n_chars"))
        .map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = BigInt(sigs.length)
    def corr(xs: Array[Long], ys: Array[Long]): Double = {
      val (sx, sy) = (xs.map(BigInt(_)).sum, ys.map(BigInt(_)).sum)
      val sxx = xs.map(x => BigInt(x) * x).sum
      val syy = ys.map(y => BigInt(y) * y).sum
      val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * y }.sum
      ((n * sxy - sx * sy).toDouble
        / math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble))
    }
    val (t, r, m) = (sigs.map(_._1), sigs.map(_._2), sigs.map(_._3))
    assert(got(("s_tokens", "s_ttr"))._2 == corr(t, r))
    assert(got(("s_tokens", "s_mwl"))._2 == corr(t, m))
    assert(got(("s_ttr", "s_mwl"))._2 == corr(r, m))
    got.values.foreach { case (nd, c) =>
      assert(nd == sigs.length.toLong && math.abs(c) <= 1.0 + 1e-12)
    }
  }

  test("constraint report: crafted dirty frames produce exact violation counts") {
    import spark.implicits._
    // two null ids, one duplicated id, two n_chars mismatches (one via
    // null n_chars against non-null text)
    val dirtyDocs = Seq(
      (Some(1L), "abc", Some(3L)),
      (Some(1L), "abcd", Some(4L)),
      (None, "x", Some(1L)),
      (None, "xy", Some(99L)),
      (Some(2L), "ok", None))
      .toDF("doc_id", "text", "n_chars")
    val d = Extensions.docConstraints(dirtyDocs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(d("docs_doc_id_not_null") == ((5L, 2L, false)))
    // 5 rows, 2 distinct non-null ids ({1, 2}) → 3 uniqueness violations
    // (the duplicate AND both nulls, which countDistinct ignores)
    assert(d("docs_doc_id_unique") == ((5L, 3L, false)))
    assert(d("docs_n_chars_matches_text") == ((5L, 2L, false)))
    val dirtyLi = Seq((10L, 5.0), (11L, 0.0), (12L, 51.0), (10L, 50.0))
      .toDF("l_orderkey", "l_quantity")
    val ords = Seq(10L, 99L).toDF("o_orderkey")
    val l = Extensions.lineitemConstraints(dirtyLi, ords).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(l("lineitem_quantity_in_1_50") == ((4L, 2L, false)))
    assert(l("lineitem_orderkey_fk_orders") == ((4L, 2L, false)))
    // an EMPTY ingest is an explicit red not-empty row, never a
    // three-valued NULL pass the alerting would miss
    val empty = Extensions.docConstraints(
      Seq.empty[(Option[Long], String, Option[Long])]
        .toDF("doc_id", "text", "n_chars")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(empty("docs_not_empty") == ((0L, 1L, false)))
    assert(empty("docs_doc_id_not_null") == ((0L, 0L, true)))
    assert(empty("docs_n_chars_matches_text") == ((0L, 0L, true)))
    // and the shipped fixture is clean end to end
    val rep = Extensions.constraintReport(spark, dir).collect()
    assert(rep.length == 6 && rep.forall(_.getBoolean(3)))
  }

  test("q_rare_tokens equals the driver-side brute force on sf0.001") {
    val got = TokenQueries.rareTokens(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val docWords = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .flatMap(r => Option(r.getString(1)).toSeq
        .flatMap(_.split(" ", -1)).map(r.getLong(0) -> _))
    val cW = docWords.groupBy(_._2).map { case (w, v) => w -> v.length.toLong }
    val total = docWords.length.toLong
    val vocab = cW.size.toLong
    val expected = docWords.groupBy(_._1).map { case (id, ws) =>
      val counts = ws.map(w => cW(w._2))
      val rare = counts.count(c => BigInt(c) * vocab < total).toLong
      (id, ws.length.toLong, rare, counts.min,
        rare.toDouble / ws.length.toDouble)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
    // the below-uniform rarity test must visibly split the fixture
    assert(got.exists(_._3 > 0) && got.exists(_._3 == 0))
  }

  test("q_dataset_card equals the driver-side brute force on sf0.001") {
    val got = AuditQueries.datasetCard(spark, dir).collect().head
    val rows = graft.Tables.documents(spark, dir)
      .select("lang", "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val n = rows.length.toLong
    val toks = rows.flatMap(r => Option(r._3).map(_.split(" ", -1).length.toLong))
    // per-doc quality from the already-proven textStats column, so the
    // card's mean is checked against the SAME fixed-point quantization
    val qFx = QualityQueries.textStats(spark, dir).select("quality").collect()
      .map(r => math.floor(r.getDouble(0) * 1e6).toLong)
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == toks.sum)
    assert(got.getLong(2) == rows.map(_._1).distinct.length.toLong)
    assert(got.getLong(3) == rows.map(_._2).distinct.length.toLong)
    assert(got.getLong(4) ==
      rows.map(r => Option(r._3).getOrElse("<null>")).distinct.length.toLong)
    assert(got.getDouble(5) == (n - got.getLong(4)).toDouble / n)
    assert(got.getDouble(6) == toks.sum.toDouble / n)
    assert(got.getDouble(7) == qFx.sum.toDouble / n / 1e6)
  }

  test("q_cluster_best: survivor is the brute-force quality argmax per component") {
    val text = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val clus = DedupQueries.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def quality(t: String): Double = {
      val a = t.split(" ", -1)
      a.distinct.length.toDouble / a.length
    }
    val expected = clus.toSeq.groupBy(_._2).toSeq.flatMap { case (canon, ms) =>
      val mem = ms.map { case (id, _) => (id, quality(text(id))) }
      val best = mem.minBy { case (id, q) => (-q, id) }._1
      mem.map { case (id, q) => (id, canon, ms.length.toLong, q, id == best) }
    }.sortBy(_._1)
    val got = DedupQueries.clusterBest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(got.toSeq == expected)
    // exactly one survivor per cluster, and clusters have ≥ 2 members
    val byCanon = got.groupBy(_._2)
    assert(byCanon.nonEmpty)
    byCanon.foreach { case (c, ms) =>
      assert(ms.count(_._5) == 1, s"cluster $c must keep exactly one member")
      assert(ms.length >= 2, s"cluster $c: singletons never enter the pair graph")
    }
  }
}
