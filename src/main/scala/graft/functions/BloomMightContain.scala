package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst probe of a pre-built Bloom filter over a LONG column.
  *
  * The serialized bitset travels inside the expression (a plan literal,
  * as an InSet carries its values), so every executor probes a local,
  * cache-resident bitset: no broadcast variable lifecycle, no per-row
  * hash-relation lookup, no UDF. Codegen emits a direct
  * `mightContainLong` call via a plan reference, keeping the probe
  * inside whole-stage codegen.
  *
  * Semantics: MAY return true for an absent value (false-positive rate
  * set at build time), NEVER false for a present one — callers must pair
  * it with an exact verification join when exact results are required
  * (see [[graft.operators.Dedup.contaminatedDocsBloom]]). */
case class BloomMightContain(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint input (the 8-byte gram hash), got $t")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "rm_bloom_might_contain"

  // deserialized once per JVM that evaluates the expression; the case
  // class itself only carries the compact serialized form
  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  override protected def nullSafeEval(h: Any): Any =
    bloom.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)

  // content-based equality: the case-class default compares the byte
  // array by identity, so two probes built from the same filter would
  // never canonicalize equal — defeating sameResult plan matching,
  // common-subexpression elimination, and cache reuse
  override def equals(other: Any): Boolean = other match {
    case o: BloomMightContain =>
      child == o.child && java.util.Arrays.equals(filterBytes, o.filterBytes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(filterBytes)
}

object BloomMightContain {

  /** Column form: true when `hash` might be in `bloom`. */
  def mightContain(hash: Column, bloom: BloomFilter): Column = {
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    Bridge.column(BloomMightContain(Bridge.expression(hash), bytes))
  }
}
