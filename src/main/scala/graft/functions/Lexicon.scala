package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern substring matcher (Aho–Corasick 1975) — the lexicon
  * primitive a C4-style badword filter or topic tagger needs at corpus
  * scale: ONE pass over each document counts every occurrence of every
  * term, independent of lexicon size, where the naive form is one scan
  * per term (k regex passes) or an un-pushable UDF.
  *
  * The automaton is built once on the driver from the term list and
  * rides into the plan as a broadcast reference object; the trie +
  * failure/output links are rebuilt lazily after deserialization on
  * each executor (only `terms` is serialized). Matching is the classic
  * goto/fail walk — amortized O(chars) per document plus O(matches) for
  * the output-link chain — entirely inside whole-stage codegen via
  * [[LexiconCounts]] / [[LexiconHits]].
  *
  * Counting semantics: EVERY end position of every term counts, so
  * occurrences of distinct terms (and of one term inside another, e.g.
  * "low" inside "slow") are all counted, exactly like counting each
  * term independently as an overlapping substring. Oracle-parity note:
  * DuckDB restates a per-term count as
  * `(LENGTH(text) − LENGTH(REPLACE(text, term, ''))) // LENGTH(term)`,
  * which counts LEFT-TO-RIGHT NON-OVERLAPPING occurrences — identical
  * to the automaton's count whenever the term has no proper border
  * (no prefix that is also a suffix), because border-free terms cannot
  * self-overlap. Every shipped lexicon keeps that precondition.
  */
final class LexiconAutomaton(val terms: Array[String]) extends Serializable {
  require(terms.nonEmpty, "lexicon must have at least one term")
  require(terms.forall(_.nonEmpty), "lexicon terms must be non-empty")
  require(terms.distinct.length == terms.length, "lexicon terms must be distinct")

  /** goto/fail/output arrays, rebuilt per JVM. node 0 is the root. */
  @transient private lazy val trie: LexiconAutomaton.Trie =
    LexiconAutomaton.buildTrie(terms)

  /** Per-term occurrence counts over `text` in one pass; index i is
    * `terms(i)`. */
  def counts(text: UTF8String): Array[Long] = {
    val t = trie
    val out = new Array[Long](terms.length)
    val s = text.toString
    var state = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      var nxt = t.children(state).get(ch)
      while (nxt == null && state != 0) {
        state = t.fail(state)
        nxt = t.children(state).get(ch)
      }
      state = if (nxt == null) 0 else nxt.intValue()
      // count the state itself if it ends a term, then the dict-suffix chain
      var node = if (t.termEnd(state) >= 0) state else t.dict(state)
      while (node != -1) {
        out(t.termEnd(node)) += 1
        node = t.dict(node)
      }
      i += 1
    }
    out
  }

  /** Total hits across all terms — the scalar a badword filter tests. */
  def totalHits(text: UTF8String): Long = {
    val c = counts(text)
    var n = 0L
    var i = 0
    while (i < c.length) { n += c(i); i += 1 }
    n
  }

  override def equals(other: Any): Boolean = other match {
    case o: LexiconAutomaton => terms.sameElements(o.terms)
    case _ => false
  }
  override def hashCode(): Int =
    scala.util.hashing.MurmurHash3.arrayHash(terms)
}

object LexiconAutomaton {

  private[functions] final class Trie(
      val children: Array[java.util.HashMap[Character, Integer]],
      val fail: Array[Int],
      val termEnd: Array[Int], // term id ending exactly at this node, or -1
      val dict: Array[Int]) // nearest proper-suffix state ending a term, or -1

  private[functions] def buildTrie(terms: Array[String]): Trie = {
    val children = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val termEnd = scala.collection.mutable.ArrayBuffer(-1)
    var tid = 0
    while (tid < terms.length) {
      var node = 0
      val w = terms(tid)
      var i = 0
      while (i < w.length) {
        val ch = w.charAt(i)
        val c = children(node).get(ch)
        if (c == null) {
          children += new java.util.HashMap[Character, Integer]()
          termEnd += -1
          children(node).put(ch, children.length - 1)
          node = children.length - 1
        } else node = c.intValue()
        i += 1
      }
      termEnd(node) = tid
      tid += 1
    }
    val n = children.length
    val fail = new Array[Int](n)
    val dict = Array.fill(n)(-1)
    // BFS: children of the root fail to the root
    val queue = new java.util.ArrayDeque[Integer]()
    children(0).forEach((_, v) => queue.add(v))
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      dict(u) =
        if (termEnd(fail(u)) >= 0) fail(u)
        else dict(fail(u))
      children(u).forEach { (ch, v) =>
        var f = fail(u)
        var nxt = children(f).get(ch)
        while (nxt == null && f != 0) {
          f = fail(f)
          nxt = children(f).get(ch)
        }
        fail(v) = if (nxt == null) 0 else nxt.intValue()
        queue.add(v)
      }
    }
    new Trie(children.toArray, fail, termEnd.toArray, dict)
  }
}

/** Per-term lexicon occurrence counts of a text column — index i of the
  * result is `lexicon.terms(i)`. One automaton pass per row inside
  * whole-stage codegen. */
case class LexiconCounts(child: Expression, lexicon: LexiconAutomaton)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rm_lexicon_counts"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      lexicon.counts(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lexicon", lexicon,
      classOf[LexiconAutomaton].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($ref.counts($c));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LexiconCounts =
    copy(child = newChild)
}

object LexiconCounts {
  def counts(text: Column, lexicon: LexiconAutomaton): Column =
    Bridge.column(LexiconCounts(Bridge.expression(text), lexicon))
}

/** Total lexicon hits of a text column — the stateless scalar a badword
  * filter tests. */
case class LexiconHits(child: Expression, lexicon: LexiconAutomaton)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "rm_lexicon_hits"

  override protected def nullSafeEval(input: Any): Any =
    lexicon.totalHits(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lexicon", lexicon,
      classOf[LexiconAutomaton].getName)
    defineCodeGen(ctx, ev, c => s"$ref.totalHits($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LexiconHits =
    copy(child = newChild)
}

object LexiconHits {
  def total(text: Column, lexicon: LexiconAutomaton): Column =
    Bridge.column(LexiconHits(Bridge.expression(text), lexicon))
}
