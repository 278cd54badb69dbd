package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the native expressions — the
  * `SparkSessionExtensions` registration that makes every scalar
  * `rm_*` function callable from `spark.sql(...)`, SQL notebooks, and
  * JDBC/Thrift clients, not just the Scala Column API:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions …
  *   // or: .withExtensions(new GraftExtensions) on a SparkSession builder
  *   spark.sql("SELECT rm_simhash(text, 60) FROM docs")
  * }}}
  *
  * Only functions whose extra parameters are SQL-expressible scalars are
  * registered; expressions carrying Scala-side state (a centroid matrix,
  * a Bloom bitset) stay Column-API-only — a SQL literal can't transport
  * them. Int/bool parameters must be foldable literals (`rm_shingle_
  * hashes(text, 3)`), evaluated once at resolution time, exactly like
  * Spark's own parameterized builtins. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    registrations.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def litInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable, s"$fn: $arg must be a literal integer")
    e.eval() match {
      case i: Int => i
      case l: Long => math.toIntExact(l)
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal integer, got $other")
    }
  }

  private def litBool(e: Expression, fn: String, arg: String): Boolean = {
    require(e.foldable, s"$fn: $arg must be a literal boolean")
    e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal boolean, got $other")
    }
  }

  private def arity(fn: String, exprs: Seq[Expression], ns: Int*): Unit =
    require(ns.contains(exprs.length),
      s"$fn expects ${ns.mkString(" or ")} arguments, got ${exprs.length}")

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  /** (identifier, info, builder) triples in `injectFunction` shape. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo,
      FunctionRegistry.FunctionBuilder)] = Seq(
    reg("rm_cosine_similarity",
      "_FUNC_(a, b) - cosine similarity of two array<double> vectors") { es =>
      arity("rm_cosine_similarity", es, 2); CosineSimilarity(es(0), es(1))
    },
    reg("rm_l2_normalize",
      "_FUNC_(v) - v / sqrt(sum(v_i^2)) for an array<double> vector") { es =>
      arity("rm_l2_normalize", es, 1); L2Normalize(es(0))
    },
    reg("rm_hyperplane_buckets",
      "_FUNC_(v, planes, tables) - LSH bucket key per table") { es =>
      arity("rm_hyperplane_buckets", es, 3)
      HyperplaneBuckets(es(0),
        litInt(es(1), "rm_hyperplane_buckets", "planes"),
        litInt(es(2), "rm_hyperplane_buckets", "tables"))
    },
    reg("rm_shingle_hashes",
      "_FUNC_(text, n) - distinct xxhash64 hashes of the n-token shingles") { es =>
      arity("rm_shingle_hashes", es, 2)
      ShingleHashes(es(0), litInt(es(1), "rm_shingle_hashes", "n"))
    },
    reg("rm_shingle_text",
      "_FUNC_(text, n[, distinct]) - the n-token shingle strings in order") { es =>
      arity("rm_shingle_text", es, 2, 3)
      ShingleText(es(0), litInt(es(1), "rm_shingle_text", "n"),
        if (es.length > 2) litBool(es(2), "rm_shingle_text", "distinct")
        else false)
    },
    reg("rm_minhash_signature",
      "_FUNC_(hashes, k) - k-permutation MinHash signature of a hash set") { es =>
      arity("rm_minhash_signature", es, 2)
      MinHashSignature(es(0), litInt(es(1), "rm_minhash_signature", "k"))
    },
    reg("rm_minhash_band_keys",
      "_FUNC_(sig, bands, rows) - LSH band keys of a MinHash signature") { es =>
      arity("rm_minhash_band_keys", es, 3)
      MinHashBandKeys(es(0), litInt(es(1), "rm_minhash_band_keys", "bands"),
        litInt(es(2), "rm_minhash_band_keys", "rows"))
    },
    reg("rm_simhash",
      "_FUNC_(text, bits) - md5-based SimHash signature (<= 63 bits)") { es =>
      arity("rm_simhash", es, 2)
      Md5SimHash(es(0), litInt(es(1), "rm_simhash", "bits"))
    },
    reg("rm_gram_stats",
      "_FUNC_(text, n) - struct(top_gram, top_cnt, dup_chars) repetition stats") { es =>
      arity("rm_gram_stats", es, 2)
      GramStats(es(0), litInt(es(1), "rm_gram_stats", "n"))
    },
    reg("rm_winnow_fingerprints",
      "_FUNC_(text, n, w) - winnowing (MOSS) fingerprint set") { es =>
      arity("rm_winnow_fingerprints", es, 3)
      WinnowFingerprints(es(0), litInt(es(1), "rm_winnow_fingerprints", "n"),
        litInt(es(2), "rm_winnow_fingerprints", "w"))
    },
    reg("rm_int8_quantize",
      "_FUNC_(v) - struct(scale, q array<tinyint>) symmetric int8 quantization") { es =>
      arity("rm_int8_quantize", es, 1); Int8Quantize(es(0))
    },
    reg("rm_int8_dequantize",
      "_FUNC_(bin, scale) - reconstruct array<double> from byte-packed int8") { es =>
      arity("rm_int8_dequantize", es, 2); Int8Dequantize(es(0), es(1))
    },
    reg("rm_distinct_by_key",
      "_FUNC_(entries, keys) - first occurrence per key, null keys kept") { es =>
      arity("rm_distinct_by_key", es, 2); DistinctByKey(es(0), es(1))
    },
    reg("rm_char_entropy_fx",
      "_FUNC_(text) - fixed-point (1e6) Shannon entropy sum of the code-point histogram") { es =>
      arity("rm_char_entropy_fx", es, 1); CharEntropyFx(es(0))
    },
    reg("rm_self_dedup_chunks",
      "_FUNC_(text, w) - text with repeated w-word chunks removed (keep first)") { es =>
      arity("rm_self_dedup_chunks", es, 2)
      SelfDedupChunks(es(0), litInt(es(1), "rm_self_dedup_chunks", "w"))
    },
    reg("rm_normalize_text",
      "_FUNC_(text) - NFC + ROOT-lowercase + whitespace-collapsed text") { es =>
      arity("rm_normalize_text", es, 1); NormalizeText(es(0))
    })

  private def reg(name: String, usage: String)
      (builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name), info(name, usage),
      (es: Seq[Expression]) => builder(es))
}
