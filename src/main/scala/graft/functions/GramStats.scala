package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document word-n-gram repetition statistics in ONE in-row pass:
  * `struct(top_gram, top_cnt, dup_chars)` where top_gram is the most
  * frequent n-gram (ties: lexicographically smallest), top_cnt its
  * occurrence count, and dup_chars = Σ cnt·len(gram) over grams occurring
  * more than once.
  *
  * The signals are per-document, so no corpus aggregation is needed at
  * all — this expression turns the Gopher repetition quality gate
  * (TextAnalysis.repetitionStats) into a completely narrow, shuffle-free
  * projection.
  *
  * Selection by (count desc, gram asc) is order-independent, so the
  * in-row hash-map iteration order cannot affect the result — values are
  * bit-identical to the exploded groupBy formulation and the DuckDB
  * restatement. Fewer than n tokens ⇒ (null, 0, 0).
  */
case class GramStats(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, "gram size must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input, got $t")
  }

  override def dataType: DataType = GramStats.schema
  override def prettyName: String = "rm_gram_stats"

  override protected def nullSafeEval(input: Any): Any =
    GramStats.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.GramStats$$.MODULE$$.compute($c, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GramStats =
    copy(child = newChild)
}

object GramStats {

  val schema: StructType = StructType(Seq(
    StructField("top_gram", StringType, nullable = true),
    StructField("top_cnt", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))

  /** One pass: split on single spaces, slide the n-window, count grams,
    * then scan the counts for the (cnt desc, gram asc) max and the
    * duplicated-gram character sum. Called from interpreted eval and
    * generated code. */
  def compute(text: UTF8String, n: Int): InternalRow = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n)
      return new GenericInternalRow(Array[Any](null, 0L, 0L))
    val count = toks.length - n + 1
    val counts = new java.util.HashMap[String, Int](count * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      sb.append(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      counts.merge(sb.toString, 1, Integer.sum _)
      i += 1
    }
    var topGram: String = null
    var topUtf8: UTF8String = null
    var topCnt = 0
    var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getKey; val c = e.getValue
      if (c > topCnt) {
        topGram = g; topUtf8 = null; topCnt = c
      } else if (c == topCnt) {
        // Ties break toward the UTF-8-binary-smallest gram, matching both
        // Spark's string ordering and the DuckDB oracle. Java
        // String.compareTo orders by UTF-16 code unit, which disagrees for
        // supplementary-plane characters (surrogates 0xD800+ sort between
        // BMP chars, while their UTF-8 bytes 0xF0+ sort after everything).
        if (topUtf8 == null) topUtf8 = UTF8String.fromString(topGram)
        val gu = UTF8String.fromString(g)
        if (gu.compareTo(topUtf8) < 0) { topGram = g; topUtf8 = gu }
      }
      // Character count = code points: Spark length(), DuckDB LENGTH, and
      // the oracle's n_chars all count code points, while Java
      // String.length counts UTF-16 units (2 per non-BMP char).
      if (c > 1) dupChars += c.toLong * g.codePointCount(0, g.length)
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(topGram), topCnt.toLong, dupChars))
  }

  /** Column form. */
  def gramStats(text: Column, n: Int): Column =
    Bridge.column(GramStats(Bridge.expression(text), n))
}
