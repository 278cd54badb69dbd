package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._

/** Compact, broadcastable percent-rank table for ONE integer-valued
  * quality signal — the deployment form of
  * [[graft.queries.QualityQueries.rankBySignal]]'s histogram ranking: the
  * batch corpus's sorted distinct signal values with inclusive
  * cumulative counts. A stream row's rank is
  * count(batch values strictly below v) / (N−1) — exactly the batch
  * percent_rank definition, which also generalizes to values the batch
  * histogram never saw (they rank between their neighbors, the natural
  * reading of "where would this doc have ranked in the profile").
  * Size: two longs per DISTINCT signal value — the signals are 1e-6
  * fixed-point ratios and token counts, so cardinality is bounded by
  * quantization (≤ ~1e6 cells ≈ 16 MB worst case, corpus-size
  * independent; real profiles are far smaller). N ≤ 1 degenerates to
  * rank 0.0 — the batch guard. */
final class RankTable(val values: Array[Long], val cumLE: Array[Long])
    extends Serializable {

  require(values.length == cumLE.length, "histogram arrays must align")
  require(values.length > 0, "empty profile cannot rank")

  /** Total batch rows — the last inclusive cumulative count. */
  val total: Long = cumLE(cumLE.length - 1)

  /** Exact percent_rank of `v` against the batch profile. Called from
    * interpreted eval AND generated code. */
  def rank(v: Long): Double = {
    if (total <= 1L) return 0.0
    // rightmost stored value < v; cumLE of it = count strictly below
    var lo = 0
    var hi = values.length - 1
    var below = 0L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (values(mid) < v) { below = cumLE(mid); lo = mid + 1 }
      else hi = mid - 1
    }
    // a value above the whole profile has `total` rows below it; clamp
    // to the batch maximum's rank so the range stays [0, 1]
    if (below > total - 1L) below = total - 1L
    below.toDouble / (total - 1L).toDouble
  }

  override def equals(other: Any): Boolean = other match {
    case o: RankTable =>
      values.sameElements(o.values) && cumLE.sameElements(o.cumLE)
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(values)
}

/** Native probe of a [[RankTable]] over a long signal column: one binary
  * search per row inside whole-stage codegen, the table riding in the
  * plan as a reference object. Stateless and shuffle-free — the
  * streaming-gate shape. */
case class RankLookup(child: Expression, table: RankTable)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint input, got $t")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "rm_rank_lookup"

  override protected def nullSafeEval(input: Any): Any =
    table.rank(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rankTable", table, classOf[RankTable].getName)
    defineCodeGen(ctx, ev, c => s"$ref.rank($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): RankLookup =
    copy(child = newChild)
}

object RankLookup {

  /** Column form: the batch-profile percent_rank of a long signal. */
  def rank(signal: Column, table: RankTable): Column =
    Bridge.column(RankLookup(Bridge.expression(signal), table))

  /** Train a [[RankTable]] for `signalCol` of a signals frame: the
    * batch ranking's own histogram aggregation, collected sorted with
    * inclusive cumulative counts. Collect bound: the signal's DISTINCT
    * value count (quantization-bounded, never corpus-sized). */
  def train(sigs: DataFrame, signalCol: String): RankTable = {
    val hist = sigs.groupBy(col(signalCol)).agg(count(lit(1)).as("cnt"))
      .orderBy(signalCol)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val values = hist.map(_._1)
    val cumLE = new Array[Long](hist.length)
    var acc = 0L
    var i = 0
    while (i < hist.length) { acc += hist(i)._2; cumLE(i) = acc; i += 1 }
    new RankTable(values, cumLE)
  }

  /** One [[RankTable]] PER GROUP of a string key column — the
    * deployment artifact of
    * [[graft.queries.QualityQueries.qualityCalibrated]]'s per-source
    * histograms. One aggregation collects every group's histogram
    * together (collect bound: Σ per-group distinct values — the same
    * quantization bound as [[train]], summed over groups). */
  def trainPerGroup(sigs: DataFrame, groupCol: String,
      signalCol: String): Map[String, RankTable] = {
    val hist = sigs.groupBy(col(groupCol), col(signalCol))
      .agg(count(lit(1)).as("cnt"))
      .collect().map { r =>
        // fail loudly at the operator boundary (the packNextFit rule): a
        // null group would become an unmatchable Map key the gate's CASE
        // chain silently drops, a null signal an opaque getLong NPE
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"trainPerGroup: null $groupCol or $signalCol in the profile — " +
            "group keys and signal values must be non-null")
        (r.getString(0), r.getLong(1), r.getLong(2))
      }
    hist.groupBy(_._1).map { case (g, rows) =>
      val sorted = rows.sortBy(_._2)
      val values = sorted.map(_._2)
      val cumLE = new Array[Long](values.length)
      var acc = 0L
      var i = 0
      while (i < values.length) { acc += sorted(i)._3; cumLE(i) = acc; i += 1 }
      g -> new RankTable(values, cumLE)
    }
  }
}
