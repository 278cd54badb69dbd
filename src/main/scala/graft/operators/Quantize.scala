package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Int8Quantize

/** Symmetric int8 vector quantization — the standard embedding-index
  * compression (FAISS SQ8 shape): per-vector scale = 127 / max|x|, each
  * component floor(x·scale + 0.5) ∈ [-127, 127]. 4× smaller than float32
  * with ~0.1% cosine error on unit-norm embeddings; at corpus scale the
  * win is I/O — a 100 TB float index becomes 25 TB.
  *
  * floor(x + 0.5) is used instead of round() because its semantics are
  * identical in every engine (round() half-away vs half-even differs
  * between Java, C, and SQL dialects); with scale = 127/max|x| the
  * extremes land exactly on ±127, so no clamp is needed.
  *
  * The hot loop is the native [[graft.functions.Int8Quantize]] expression
  * (O(d) per row, codegen'd); `scale` and `q` are fields of its single
  * struct, so Catalyst's subexpression elimination computes the vector
  * once even when a projection selects both. The previous Column-HOF
  * formulation (a spec's parity reference now) re-evaluated the max-abs
  * sub-expression per element — O(d²) per row, interpreted.
  * Everything stays narrow: no shuffle anywhere in this file.
  */
object Quantize {

  private def asDouble(c: Column): Column = c.cast(ArrayType(DoubleType))

  private def quant(vec: Column): Column =
    Int8Quantize.int8Quantize(asDouble(vec))

  /** 127 / max|x| (0.0 for the zero vector). */
  def int8Scale(vec: Column): Column = quant(vec).getField("scale")

  /** Comma-joined string form (array columns do not survive the driver's
    * hash comparator; the CSV string is bit-stable). A struct field of the
    * same native expression — an `array_join(transform(...))` wrapper
    * would be a higher-order function and drop the projection out of
    * whole-stage codegen. */
  def int8Csv(vec: Column): Column = quant(vec).getField("csv")

  /** quantize→dequantize round trip of a vector in the native pass —
    * the approximate vectors a quantized-index search scores against. */
  def roundTrip(vec: Column): Column = quant(vec).getField("dq")

  /** Byte-packed components (one signed byte each) — the persisted-index
    * form: a parquet `binary` column really is ¼ the bytes of the float
    * vector, where an `array<long>` of the same values is not. */
  def int8Bytes(vec: Column): Column = quant(vec).getField("bin")

  /** Persist the int8 index as parquet: (id, scale, bin) — one narrow
    * quantization scan of the corpus, byte-packed on disk. This is the
    * table a 100 TB retrieval deployment actually scans; the raw float
    * vectors are touched only to rerank shortlist members. */
  def writeIndex(emb: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, path: String): Unit =
    emb.select(col(idCol).as("id"),
        int8Scale(col(vecCol)).as("scale"),
        int8Bytes(col(vecCol)).as("bin"))
      .write.mode("overwrite").parquet(path)

  /** (id, dq) from a persisted [[writeIndex]] index — the native
    * [[graft.functions.Int8Dequantize]] read path, one O(d) codegen'd
    * pass per row, bit-identical to the write side's [[roundTrip]]. */
  def readIndexVectors(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    graft.Tables.readCachedSchema(spark, path).select(col("id"),
      graft.functions.Int8Dequantize.int8Dequantize(col("bin"), col("scale")).as("dq"))
}
