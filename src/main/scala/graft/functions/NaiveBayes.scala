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

/** Compact, broadcastable multinomial Naive-Bayes model — the deployment
  * form of [[graft.operators.TextAnalysis.nbClassify]] (the
  * classifier-based data-selection family): per class, a dense
  * `buckets`-long array of fixed-point log-likelihoods plus a
  * fixed-point log-prior, indexed by the md5 bucket of each unigram
  * token (the [[DsirModel]] bucket primitive, byte-for-byte). `labels`
  * is SORTED ascending and the argmax keeps the first strictly-greater
  * class, so prediction ties break (score DESC, label ASC) — exactly
  * the batch operator's window tie-break. Every per-cell value
  * (smoothing defaults included, which exist as real cells in the dense
  * model) is computed BY Spark's own expressions at train time
  * ([[graft.operators.TextAnalysis.nbModelTable]]), making stream
  * predictions bit-equal to the batch operator's (the SurvivorLmSpec
  * doctrine). Size: classes × buckets longs — 5 × 1024 is 40 KB in the
  * plan. */
final class NbModel(val labels: Array[String], val priorFx: Array[Long],
    val lpFx: Array[Array[Long]], val buckets: Int) extends Serializable {

  require(labels.length == priorFx.length && labels.length == lpFx.length,
    "labels, priors and likelihood tables must align")
  require(lpFx.forall(_.length == buckets),
    "every class table must cover every bucket")
  require(labels.sameElements(labels.sorted),
    "labels must be sorted so first-strictly-greater argmax = label-ASC tie-break")

  /** Index of the winning class of `text` — exact integer arithmetic
    * over the fixed-point tables. Called from interpreted eval AND
    * generated code. */
  def predictIdx(text: UTF8String): Int = {
    // limit -1 keeps trailing empty tokens — Spark's split(), not String.split
    val toks = text.toString.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val bs = new Array[Int](toks.length)
    var i = 0
    while (i < toks.length) {
      bs(i) = DsirModel.bucketOf(md, toks(i), buckets).toInt
      i += 1
    }
    var best = 0
    var bestScore = Long.MinValue
    var c = 0
    while (c < labels.length) {
      var s = priorFx(c)
      val lp = lpFx(c)
      var j = 0
      while (j < bs.length) { s += lp(bs(j)); j += 1 }
      if (s > bestScore) { best = c; bestScore = s }
      c += 1
    }
    best
  }

  def predict(text: UTF8String): UTF8String =
    UTF8String.fromString(labels(predictIdx(text)))

  /** The winning class's fixed-point score — the exact integer the
    * batch operator divides once for `nb_score`. */
  def scoreFx(text: UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val bs = new Array[Int](toks.length)
    var i = 0
    while (i < toks.length) {
      bs(i) = DsirModel.bucketOf(md, toks(i), buckets).toInt
      i += 1
    }
    var bestScore = Long.MinValue
    var c = 0
    while (c < labels.length) {
      var s = priorFx(c)
      val lp = lpFx(c)
      var j = 0
      while (j < bs.length) { s += lp(bs(j)); j += 1 }
      if (s > bestScore) bestScore = s
      c += 1
    }
    bestScore
  }

  override def equals(other: Any): Boolean = other match {
    case o: NbModel =>
      buckets == o.buckets && labels.sameElements(o.labels) &&
        priorFx.sameElements(o.priorFx) &&
        lpFx.indices.forall(i => lpFx(i).sameElements(o.lpFx(i)))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.hashCode(priorFx) * 31 + buckets
}

/** Native probe of an [[NbModel]] over a text column: one
  * tokenize-hash-argmax loop per row inside whole-stage codegen, the
  * model riding in the plan as a reference object. Stateless and
  * shuffle-free — the streaming-gate shape. Emits the predicted label. */
case class NbPredict(child: Expression, model: NbModel)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got $t")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "rm_nb_predict"

  override protected def nullSafeEval(input: Any): Any =
    model.predict(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nbModel", model, classOf[NbModel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.predict($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NbPredict =
    copy(child = newChild)
}

/** The winning class's fixed-point score — the long the batch operator
  * emits as `nb_score` × 1e6. */
case class NbScoreFx(child: Expression, model: NbModel)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "rm_nb_score_fx"

  override protected def nullSafeEval(input: Any): Any =
    model.scoreFx(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nbModel", model, classOf[NbModel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.scoreFx($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NbScoreFx =
    copy(child = newChild)
}

object NbPredict {

  /** Column form: predicted label of a text column. */
  def predict(text: Column, model: NbModel): Column =
    Bridge.column(NbPredict(Bridge.expression(text), model))

  /** Column form of the winning score as a double — one final division,
    * matching the batch operator's `nb_score`. */
  def score(text: Column, model: NbModel): Column =
    Bridge.column(NbScoreFx(Bridge.expression(text), model))
      .cast(DoubleType) / lit(1e6)

  /** Train an [[NbModel]] from a labeled batch slice: the batch
    * operator's own count/prior/dense-model pipeline
    * ([[graft.operators.TextAnalysis.nbModelTable]]), every cell value
    * evaluated by the SAME Spark expressions the batch query uses, then
    * collected into class-major dense arrays. Collect bound: classes ×
    * buckets longs (+ one C-row prior frame) — 8 bytes/cell, 40 KB at
    * 5 × 1024 — the [[DsirScoreFx.train]] treatment. */
  def train(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, isTrain: Column, buckets: Int): NbModel = {
    import graft.operators.{TextAnalysis => TA}
    Materialize.during(
        TA.nbTokenStream(docs, textCol, idCol, labelCol, isTrain, buckets)) { tk =>
      val cb = Materialize.pin(TA.nbCounts(tk))
      val priors = Materialize.pin(TA.nbPriors(docs, labelCol, isTrain))
      val priorRows = priors.collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val labels = priorRows.map(_._1)
      val idx = labels.zipWithIndex.toMap
      val lp = Array.ofDim[Long](labels.length, buckets)
      TA.nbModelTable(cb, priors, buckets).collect().foreach { r =>
        lp(idx(r.getString(0)))(r.getLong(1).toInt) = r.getLong(2)
      }
      new NbModel(labels, priorRows.map(_._2), lp, buckets)
    }
  }
}
