package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE tokenizer training ([[TextAnalysis.bpeTrain]]) and the native
  * encoder ([[graft.functions.BpeMerges]]): hand-derived merges on a
  * known corpus, early stop on an exhausted vocabulary, parity with an
  * independently-written scalar reference on real documents, encoder
  * replay of training segmentations (plus graceful unseen-word
  * degradation), and determinism under repartitioning. */
class BpeTrainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The learned merge table as a [[graft.functions.BpeMerges]] encoder. */
  private def mergesModel(d: org.apache.spark.sql.DataFrame, numMerges: Int,
      maxWords: Int): graft.functions.BpeMerges =
    new graft.functions.BpeMerges(TextAnalysis.bpeLearn(
      TextAnalysis.bpeWordCounts(d, "text", maxWords), numMerges)
      .map(t => (t._1, t._2)))

  test("hand corpus learns the expected merges with deterministic tie-breaks") {
    // words: low ×3, lower ×1. pair counts: (l,o)=4, (o,w)=4, (w,e)=1,
    // (e,r)=1 → tie at 4 breaks lexicographically to (l,o); then
    // (lo,w)=4; then (e,r)=1 beats (low,e)=1 lexicographically; then
    // (low,er)=1; vocabulary exhausts at 4 merges though 10 were asked
    val d = docs(1L -> "low low low", 2L -> "lower")
    val out = TextAnalysis.bpeTrain(d, "text", numMerges = 10, maxWords = 100)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "l", "o", 4L), (2L, "lo", "w", 4L),
      (3L, "e", "r", 1L), (4L, "low", "er", 1L)))
  }

  /** Clean-room scalar reference (structured differently from the
    * operator: recounts via a Map fold, merges via split-rejoin). */
  private def reference(words: Seq[(String, Long)],
      k: Int): Seq[(String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    var out = Vector.empty[(String, String, Long)]
    for (_ <- 1 to k if vocab.exists(_._1.size > 1)) {
      val counts = vocab.flatMap { case (s, c) =>
        s.sliding(2).filter(_.size == 2).map(p => (p(0), p(1)) -> c) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      if (counts.nonEmpty) {
        val ((l, r), pc) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        out :+= ((l, r, pc))
        vocab = vocab.map { case (s, c) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < s.size) {
            if (i < s.size - 1 && s(i) == l && s(i + 1) == r) {
              b += l + r; i += 2
            } else { b += s(i); i += 1 }
          }
          (b.result(), c)
        }
      }
    }
    out
  }

  test("operator merges match the scalar reference on real documents") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val words = TextAnalysis.bpeWordCounts(d, "text", maxWords = 4096).toSeq
    val exp = reference(words, 25)
    val got = TextAnalysis.bpeTrain(d, "text", numMerges = 25, maxWords = 4096)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == exp)
  }

  test("encoder replays training segmentations and degrades on unseen words") {
    val d = docs(1L -> "low low low", 2L -> "lower")
    val m = mergesModel(d, numMerges = 10, maxWords = 100)
    assert(m.segment("low").toSeq == Seq("low"))
    assert(m.segment("lower").toSeq == Seq("lower"))
    // unseen word: (l,o) then (lo,w) apply, the rest stay characters
    assert(m.segment("slow").toSeq == Seq("s", "low"))
    assert(m.segment("xyz").toSeq == Seq("x", "y", "z"))
    assert(m.segment("").toSeq == Seq(""))
    // native column form sums per-word segment counts: 1 + 1 + 2 = 4
    val n = docs(9L -> "low lower slow")
      .select(graft.functions.BpeEncodeCount.count(col("text"), m))
      .head().getLong(0)
    assert(n == 4L)
  }

  test("vocabulary is the weighted symbol counts of the final segmentations") {
    val d = docs(1L -> "low low low", 2L -> "lower")
    // after all 4 merges: low ×3 → [low], lower → [lower]
    val full = TextAnalysis.bpeVocab(d, "text", numMerges = 10, maxWords = 100)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(full.toSeq == Seq(("low", 3L), ("lower", 1L)))
    // after only 2 merges: low ×3 → [low], lower → [low, e, r]
    val partial = TextAnalysis.bpeVocab(d, "text", numMerges = 2, maxWords = 100)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(partial.toSeq == Seq(("e", 1L), ("low", 4L), ("r", 1L)))
  }

  test("greedy encoder reproduces every trained word's final segmentation") {
    // the q_bpe_encode oracle reads token counts off the training chain's
    // final states — valid only if greedy lowest-rank-first encoding equals
    // the trainer's sequential segmentation for every trained word
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val words = TextAnalysis.bpeWordCounts(d, "text", maxWords = 4096)
    val (merges, vocab) = TextAnalysis.bpeLearnFull(words, 40)
    val m = new graft.functions.BpeMerges(merges.map(t => (t._1, t._2)))
    for (((syms, _), (w, _)) <- vocab.zip(words))
      assert(m.segment(w).toSeq == syms.toSeq,
        s"greedy encode of '$w' diverged from the training segmentation")
  }

  test("astral-plane characters train and segment as single code points") {
    val clef = new String(Character.toChars(0x1D11E)) // 𝄞, two UTF-16 units
    val d = docs(1L -> s"ab ${clef}b ab")
    // pair counts: (a,b)=2, ($clef,b)=1 → the one merge is (a,b)
    val m = mergesModel(d, numMerges = 1, maxWords = 10)
    assert(m.segment(clef + "b").toSeq == Seq(clef, "b"),
      "surrogate pair split into UTF-16 halves")
    assert(m.segment("ab").toSeq == Seq("ab"))
  }

  test("model artifact round-trips bit-exactly; a markerless artifact reads as missing") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 25, maxWords = 4096)
    // the in-memory reference model comes off the already-trained table —
    // no second training run
    val m0 = new graft.functions.BpeMerges(
      merges.orderBy("rank").select("lhs", "rhs")
        .collect().map(r => (r.getString(0), r.getString(1))))
    val path = java.nio.file.Files.createTempDirectory("bpe-model")
      .toFile.getAbsolutePath + "/model"
    assert(!TextAnalysis.bpeModelExists(spark, path))
    TextAnalysis.writeBpeModel(merges, path)
    assert(TextAnalysis.bpeModelExists(spark, path))
    val m1 = TextAnalysis.readBpeModel(spark, path)
    assert(m1 == m0, "re-read merge table must equal the trained one")
    for ((w, _) <- TextAnalysis.bpeWordCounts(d, "text", 4096))
      assert(m1.segment(w).toSeq == m0.segment(w).toSeq,
        s"persisted model segments '$w' differently")
    // deleting the job-success marker must flip the artifact to missing
    val marker = new org.apache.hadoop.fs.Path(s"$path/merges/_SUCCESS")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    assert(!TextAnalysis.bpeModelExists(spark, path),
      "a markerless (half-written) artifact must read as missing")
  }

  test("sharedBpeModel trains once per dataset, persists, and re-reads bit-identically") {
    val dir = "/root/testdata/sf0.001"
    // point the artifact root at a fresh temp dir so this test owns the
    // artifact lifecycle (same pattern as IvfSpec's index-root test)
    val root = java.nio.file.Files.createTempDirectory("bpe-root")
      .toFile.getAbsolutePath
    spark.conf.set("spark.graft.index.root", root)
    try {
      val shared = graft.queries.SharedArtifacts.sharedBpeModel(spark, dir)
      // exactly one artifact written under the root, marker-certified
      val modelDirs = new java.io.File(s"$root/graft_bpe_model").listFiles()
      assert(modelDirs != null && modelDirs.length == 1,
        "first call must persist exactly one model artifact")
      val path = modelDirs.head.getAbsolutePath
      assert(TextAnalysis.bpeModelExists(spark, path))
      // the persisted bytes decode to the same merge table a fresh train
      // produces — the artifact-read path of curationPipeline/bpeEncode
      // is bit-identical to the train path
      val reread = TextAnalysis.readBpeModel(spark, path)
      val fresh = mergesModel(graft.Tables.documents(spark, dir),
        numMerges = 40, maxWords = 4096)
      assert(shared.pairs.toSeq == fresh.pairs.toSeq,
        "shared model must equal a fresh train")
      assert(reread.pairs.toSeq == fresh.pairs.toSeq,
        "persisted artifact must decode to the fresh train's merge table")
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("training is invariant under repartitioning") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = TextAnalysis.bpeTrain(d, "text", 15, 4096).collect().toSeq
    val b = TextAnalysis.bpeTrain(d.repartition(7), "text", 15, 4096)
      .collect().toSeq
    assert(a == b)
  }
}
