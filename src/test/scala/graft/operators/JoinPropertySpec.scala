package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Randomized equivalence contracts for the two specialized joins: on
  * seeded random data the banded range join must equal the naive theta
  * join exactly, and the union-window as-of join must equal the
  * declarative "latest at-or-before" pick — for every seed, including
  * adversarial tie pileups (small time domains force many equal
  * timestamps). */
class JoinPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def randRows(seed: Long, n: Int, keys: Int, tMax: Int) = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n)(i =>
      (rnd.nextInt(keys).toLong, (1000 + i).toLong, rnd.nextInt(tMax).toLong,
        rnd.nextDouble()))
  }

  test("range join equals the theta join on random data (ties included)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      // tMax = 40 with delta = 7: dense collisions, many boundary pairs
      val left = randRows(seed, 120, keys = 4, tMax = 40)
        .toDF("k", "lid", "t", "v")
      val right = randRows(seed + 100, 120, keys = 4, tMax = 40)
        .toDF("k", "rid", "t", "v")
      val banded = RangeJoin.withinDelta(left, right, "k", "t", "t", delta = 7L)
        .select(col("lid"), col("r_rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val naive = left.as("l").join(right.as("r"),
          col("l.k") === col("r.k") && abs(col("l.t") - col("r.t")) <= 7)
        .select(col("l.lid"), col("r.rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(banded == naive, s"seed $seed: banded != theta")
      assert(banded.size == banded.distinct.size, s"seed $seed: dup pairs")
    }
  }

  test("as-of join equals the declarative latest-at-or-before pick") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val left = randRows(seed, 100, keys = 3, tMax = 30)
        .toDF("k", "lid", "t", "v").drop("v")
      val right = randRows(seed + 100, 100, keys = 3, tMax = 30)
        .toDF("k", "rid", "t", "v")
      val asof = AsofJoin.asofJoin(left, right, "k", "t", "rid", Seq("rid", "v"))
        .select(col("lid"), col("asof_rid"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .toMap
      // declarative truth: per left row, max (t, rid) among rights at or
      // before — computed with a window over the plain theta join
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l.lid"))
        .orderBy(col("r.t").desc, col("r.rid").desc)
      val truth = left.as("l").join(right.as("r"),
          col("l.k") === col("r.k") && col("r.t") <= col("l.t"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l.lid"), col("r.rid"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .toMap
      left.collect().map(_.getAs[Long]("lid")).foreach { lid =>
        assert(asof.getOrElse(lid, None) == truth.getOrElse(lid, None),
          s"seed $seed lid $lid: asof ${asof.get(lid)} != truth ${truth.get(lid)}")
      }
    }
  }

  test("simhash banded pairs equal the naive Hamming join on random corpora") {
    import spark.implicits._
    // pigeonhole says radius 3 < 4 bands loses NOTHING, for any corpus —
    // seeded random docs over a tiny vocabulary force dense near-dup
    // structure (many docs share most tokens), the adversarial case for
    // a candidate-generation scheme
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      val docs = Seq.tabulate(80) { i =>
        val n = 3 + rnd.nextInt(10)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val sig = Dedup.simhashAgg(docs, "text", "doc_id")
      val naive = sig.as("a").join(sig.as("b"), col("a.doc") < col("b.doc"))
        .select(col("a.doc"), col("b.doc"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
        .filter(col("h") <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val banded = Dedup.simhashPairsFrom(sig, maxHamming = 3, bits = 60,
          bands = 4)
        .select("da", "db")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(banded == naive, s"seed $seed: banded != naive Hamming join")
      assert(banded.size == banded.distinct.size, s"seed $seed: dup pairs")
    }
  }
}
