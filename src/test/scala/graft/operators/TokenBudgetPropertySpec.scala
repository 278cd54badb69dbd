package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Property drive for [[Sampling.tokenBudgetSelect]]'s distributed prefix
  * sum — the most intricate plan shape in the sampling family (range
  * repartition + localCheckpoint + per-partition subtotal offsets). Seeded
  * random frames compare it against the obviously-correct single-stream
  * cumulative sum while varying the knobs that stress partition edges:
  * shuffle-partition counts 1..8 (so partitions outnumber rows, match
  * them, and undercut them), heavy score ties that straddle range
  * boundaries, zero-token rows (cum stays flat across them), and budgets
  * probing the exactly-at-a-prefix-sum and beyond-total edges. */
class TokenBudgetPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("distributed prefix sum equals the naive cumulative sum across partitionings, ties, and budget edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (trial <- 1 to 10) {
        val n = 1 + rnd.nextInt(60)
        val rows = (0 until n).map { i =>
          // 1-in-5 zero-token rows; scores from a 4-value set so tie runs
          // regularly span range-partition boundaries
          val tokens = if (rnd.nextInt(5) == 0) 0L else (1L + rnd.nextInt(20))
          (i.toLong, tokens, rnd.nextInt(4).toDouble)
        }
        // the obviously-correct reference: one sorted stream, running
        // total, keep while the inclusive total stays within budget
        val sorted = rows.sortBy { case (id, _, s) => (-s, id) }
        val cums = sorted.scanLeft(0L)(_ + _._2).tail
        val total = cums.last
        val budgets =
          Seq(0L, total, total + 5L, cums(rnd.nextInt(cums.length)))
        val parts = 1 + rnd.nextInt(8)
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val df = rows.toDF("doc_id", "n_tokens", "score")
          .repartition(1 + rnd.nextInt(4))
        for (b <- budgets) {
          val expected = sorted.zip(cums).collect {
            case ((id, _, _), c) if c <= b => (id, c)
          }.toSet
          val got = Sampling
            .tokenBudgetSelect(df, "doc_id", "n_tokens", "score", b)
            .select("doc_id", "cum_tokens").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(got == expected,
            s"trial $trial: parts=$parts budget=$b n=$n — " +
              s"distributed selection diverged from the naive prefix sum")
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
