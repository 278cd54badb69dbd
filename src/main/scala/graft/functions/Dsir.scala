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

/** Compact, broadcastable DSIR importance model — the deployment form of
  * [[graft.operators.TextAnalysis.dsirScores]] (Xie et al. 2023, hashed
  * n-gram importance resampling): a dense `buckets`-sized array of
  * fixed-point log importance ratios, indexed by the md5 bucket of each
  * bigram. Buckets never seen in the training corpus carry the
  * smoothing default lr((0,0)) = ln((N_raw+B)/(N_target+B)) — exactly
  * what the batch formula assigns a zero-count bucket — so
  * off-distribution grams on a stream degrade gracefully instead of
  * scoring 0.
  *
  * The bucket hash replicates the engine's md5 primitive byte for byte:
  * `conv(substring(md5(gram), 1, 15), 16, 10) % buckets` — 15 hex
  * nibbles (60 bits, never negative) of the UTF-8 md5, folded the same
  * way `Sampling.hashBucket` computes it — so a model trained batch-side
  * scores stream rows onto the identical buckets, and every per-bucket
  * value (default included) is computed BY Spark's own expression
  * ([[graft.operators.TextAnalysis.dsirLrFx]]) at train time, making
  * gate scores bit-equal to the batch operator's (SurvivorLmSpec
  * doctrine). */
final class DsirModel(val lrFx: Array[Long], val buckets: Int)
    extends Serializable {

  require(lrFx.length == buckets, "model array must cover every bucket")

  /** Fixed-point (1e-6) DSIR score of `text` — the exact integer the
    * batch operator sums before its single final division. Fewer than
    * 2 tokens ⇒ 0. Called from interpreted eval AND generated code. */
  def scoreFx(text: UTF8String): Long = {
    // limit -1 keeps trailing empty tokens — Spark's split(), not String.split
    val toks = text.toString.split(" ", -1)
    if (toks.length < 2) return 0L
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var sum = 0L
    var i = 0
    while (i < toks.length - 1) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      sum += lrFx(DsirModel.bucketOf(md, sb.toString, buckets).toInt)
      i += 1
    }
    sum
  }

  override def equals(other: Any): Boolean = other match {
    case o: DsirModel =>
      buckets == o.buckets && java.util.Arrays.equals(lrFx, o.lrFx)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.hashCode(lrFx) * 31 + buckets
}

object DsirModel {
  /** `conv(substring(md5(gram), 1, 15), 16, 10) % buckets` in JVM bytes:
    * fold the first 15 hex nibbles of the UTF-8 md5 into a 60-bit long.
    * `md` is reset by `digest`; reused across grams of one row. */
  def bucketOf(md: java.security.MessageDigest, gram: String,
      buckets: Int): Long = {
    val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 15) {
      val b = d(i / 2)
      val nib = if (i % 2 == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nib.toLong
      i += 1
    }
    v % buckets
  }
}

/** Native probe of a [[DsirModel]] over a text column: one
  * tokenize-hash-lookup loop per row, inside whole-stage codegen, the
  * model riding in the plan as a reference object. Stateless and
  * shuffle-free — the streaming-gate shape. Emits the FIXED-POINT long;
  * callers divide once for the double score. */
case class DsirScoreFx(child: Expression, model: DsirModel)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "rm_dsir_score_fx"

  override protected def nullSafeEval(input: Any): Any =
    model.scoreFx(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dsirModel", model,
      classOf[DsirModel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.scoreFx($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): DsirScoreFx =
    copy(child = newChild)
}

object DsirScoreFx {

  /** Column form: the model's fixed-point score of a text column. */
  def scoreFx(text: Column, model: DsirModel): Column =
    Bridge.column(DsirScoreFx(Bridge.expression(text), model))

  /** Column form of the double score — one final division, matching the
    * batch operator's `dsir_score`. */
  def score(text: Column, model: DsirModel): Column =
    scoreFx(text, model).cast(DoubleType) / lit(1e6)

  /** Train a [[DsirModel]] from a batch corpus: the batch operator's own
    * gram/bucket/count pipeline ([[graft.operators.TextAnalysis]]), the
    * per-bucket ratios AND the unseen-bucket default all evaluated by
    * the SAME Spark expression the batch table uses, collected into the
    * dense `buckets`-long array (8 bytes/bucket — B=4096 is 32 KB in
    * the plan). */
  def train(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int): DsirModel = {
    import graft.operators.TextAnalysis
    Materialize.during(
        TextAnalysis.dsirGrams(docs, textCol, idCol, isTarget, buckets)) { grams =>
      val counts = Materialize.pin(TextAnalysis.dsirBucketCounts(grams))
      val (nrTot, ntTot) = TextAnalysis.dsirTotals(counts)
      val spark = docs.sparkSession
      val default = spark.range(1)
        .select(TextAnalysis.dsirLrFx(lit(0L), lit(0L), nrTot, ntTot, buckets))
        .head().getLong(0)
      val arr = Array.fill(buckets)(default)
      TextAnalysis.dsirLrTable(counts, buckets).collect().foreach { r =>
        arr(r.getLong(0).toInt) = r.getLong(1)
      }
      new DsirModel(arr, buckets)
    }
  }
}
