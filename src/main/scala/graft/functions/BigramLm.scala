package graft.functions

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compact, broadcastable bigram language model — the deployment form of
  * [[graft.operators.TextAnalysis.lmScore]]'s corpus-exact computation
  * (the CCNet-family perplexity filter: score text by how expected its
  * bigrams are under a trained model; gate on a threshold).
  *
  * Counts key on xxhash64(seed 42) of the token / space-joined bigram —
  * the [[ShingleHashes]] hash-parity family, so the model trains with
  * plain `xxhash64(...)` Column code and probes with the same bytes at
  * score time. Keys live in sorted arrays probed by binary search:
  * value-comparable (content equality, cheap plan canonicalization),
  * compactly serialized inside the expression (the
  * [[BloomMightContain]] plan-literal treatment — no broadcast-variable
  * lifecycle), and a top-K prune bounds the arrays at any corpus size.
  * Unseen histories and grams fall back to the add-one floor
  * p = (0+1)/(0+V) = 1/V — exactly the probability the full model
  * assigns a never-seen continuation.
  *
  * Scoring mirrors the batch operator digit for digit: per-bigram
  * p = (c2+1)/(c1+V), each p floor-quantized at 1e-15 fixed point, the
  * LONG sum divided once — so an UNPRUNED model's scores equal
  * [[graft.operators.TextAnalysis.lmScore]]'s exactly (hash collisions
  * aside, ~2⁻⁶⁴ per gram pair), the property the spec asserts. */
final class BigramLmModel(
    val c2Keys: Array[Long], val c2Counts: Array[Long],
    val c1Keys: Array[Long], val c1Counts: Array[Long],
    val v: Long) extends Serializable {

  require(c2Keys.length == c2Counts.length && c1Keys.length == c1Counts.length,
    "key/count arrays must align")

  private def lookup(keys: Array[Long], counts: Array[Long], h: Long): Long = {
    val i = java.util.Arrays.binarySearch(keys, h)
    if (i >= 0) counts(i) else 0L
  }

  /** Mean smoothed bigram probability of `text`, 1e-15 fixed point —
    * [[graft.operators.TextAnalysis.lmScore]]'s exact arithmetic. Fewer
    * than 2 tokens ⇒ 0.0. Called from interpreted eval AND generated
    * code. */
  def score(text: UTF8String): Double = {
    // limit -1 keeps trailing empty tokens — Spark's split(), not String.split
    val toks = text.toString.split(" ", -1)
    if (toks.length < 2) return 0.0
    val n = toks.length - 1
    var sum = 0L
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      val h1 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(toks(i)), StringType, 42L)
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      val h2 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(sb.toString), StringType, 42L)
      val p = (lookup(c2Keys, c2Counts, h2) + 1).toDouble /
        (lookup(c1Keys, c1Counts, h1) + v).toDouble
      sum += math.floor(p * 1e15).toLong
      i += 1
    }
    sum.toDouble / (n.toDouble * 1e15)
  }

  override def equals(other: Any): Boolean = other match {
    case o: BigramLmModel =>
      v == o.v &&
        java.util.Arrays.equals(c2Keys, o.c2Keys) &&
        java.util.Arrays.equals(c2Counts, o.c2Counts) &&
        java.util.Arrays.equals(c1Keys, o.c1Keys) &&
        java.util.Arrays.equals(c1Counts, o.c1Counts)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.hashCode(c2Keys) * 31 + java.util.Arrays.hashCode(c1Keys)
}

/** Native probe of a [[BigramLmModel]] over a text column: one
  * tokenize-hash-lookup loop per row, inside whole-stage codegen, the
  * model riding in the plan as a reference object. Stateless and
  * shuffle-free. */
case class BigramLmScore(child: Expression, model: BigramLmModel)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got $t")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "rm_bigram_lm_score"

  override protected def nullSafeEval(input: Any): Any =
    model.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmModel", model,
      classOf[BigramLmModel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.score($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BigramLmScore =
    copy(child = newChild)
}

object BigramLmScore {

  /** Column form: the model's quality score of a text column. */
  def score(text: Column, model: BigramLmModel): Column =
    Bridge.column(BigramLmScore(Bridge.expression(text), model))

  /** Train a [[BigramLmModel]] from a batch corpus: corpus-wide bigram
    * and history counts over ONE gram scan, pruned to the `topK`
    * highest-count entries per table (count-desc, key-asc tie-break —
    * deterministic), V = the UNPRUNED history-vocabulary size so the
    * smoothing denominator matches the full model's. The pruned tables
    * are the standard LM-filter deployment: frequent grams keep exact
    * counts (they dominate every score), rare grams fall back to the
    * 1/V floor the full model gives unseen ones anyway. `topK` bounds
    * driver/plan memory at ~16 bytes per entry. */
  def train(docs: DataFrame, textCol: String, topK: Int): BigramLmModel = {
    val arr = docs.select(split(col(textCol), " ").as("a"))
      .filter(size(col("a")) >= 2)
    val grams = arr.select(explode(expr(
        "transform(sequence(0, size(a)-2), i -> struct(" +
          "xxhash64(a[i]) AS h1, " +
          "xxhash64(concat(a[i], ' ', a[i+1])) AS h2))")).as("g"))
      .select(col("g.h1").as("h1"), col("g.h2").as("h2"))
    // held for the vocabulary count and both top-k tables
    Materialize.during(grams) { g =>
      val v = g.agg(count_distinct(col("h1"))).collect()(0).getLong(0)
      def top(keyCol: String): (Array[Long], Array[Long]) = {
        val rows = g.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("k").asc).limit(topK)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1) // binary-search order
        (rows.map(_._1), rows.map(_._2))
      }
      val (c2k, c2c) = top("h2")
      val (c1k, c1c) = top("h1")
      new BigramLmModel(c2k, c2c, c1k, c1c, math.max(v, 1L))
    }
  }
}
