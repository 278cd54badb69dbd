package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity of each native expression against the Column-combinator
  * formulation it replaced — the end-to-end oracle proves the queries, this
  * pins the expressions themselves so a refactor can't drift the hash
  * family or accumulation order. */
class NativeExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("ShingleHashes equals the split+window+distinct+xxhash64 combinator form") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b a b a b a b", // duplicate shingles exercise the dedupe
      "one two",         // fewer than n tokens: empty
      "x  y   z q",      // consecutive spaces produce empty tokens
      "")
    val df = texts.toDF("text")
    val n = 3
    val toks = split(col("text"), " ")
    val combinator =
      when(size(toks) < n, array().cast(ArrayType(StringType)))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))))
    val rows = df.select(
      ShingleHashes.shingleHashes(col("text"), n).as("native"),
      transform(combinator, s => xxhash64(s)).as("legacy")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"shingle hash mismatch: $r")
    }
  }

  test("L2Normalize equals the aggregate-norm + transform-divide form") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(20)(Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    val df = vecs.toDF("v")
    val nrm = sqrt(aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x))
    val rows = df.select(
      VectorOps.l2Normalize(col("v")).as("native"),
      transform(col("v"), x => x / nrm).as("legacy")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1), s"normalize drift: $r")
    }
  }

  test("NearestClusters equals the struct-array sort combinator form") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = Seq.fill(30)(Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val cents = Seq.fill(7)(Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val df = vecs.toDF("v")
    def distTo(c: Seq[Double]) =
      aggregate(zip_with(col("v"), typedLit(c), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val structs = array(cents.zipWithIndex.map { case (c, i) =>
      struct(distTo(c).as("dist"), lit(i.toLong).as("cl"))
    }: _*)
    val legacy = slice(transform(array_sort(structs), s => s.getField("cl")), 1, 3)
    val rows = df.select(
      VectorOps.nearestClusters(col("v"), cents, 3).as("native"),
      legacy.as("legacy")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"argmin drift: $r")
    }
  }

  test("NearestClusterDist equals the fold-form min distance, bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val vecs = Seq.fill(30)(Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val cents = Seq.fill(7)(Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val df = vecs.toDF("v")
    def distTo(c: Seq[Double]) =
      aggregate(zip_with(col("v"), typedLit(c), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val legacy = least(cents.map(distTo): _*)
    val rows = df.select(
      VectorOps.nearestClusterDist(col("v"), cents).as("native"),
      legacy.as("legacy")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"distance drift: $r")
    }
    // and it is the distance of the centroid NearestClusters assigns
    val agree = df.select(
      VectorOps.nearestClusterDist(col("v"), cents).as("dist"),
      VectorOps.nearestClusters(col("v"), cents, 1).getItem(0).as("cl"),
      col("v")).collect()
    agree.foreach { r =>
      val byCl = cents(r.getLong(1).toInt)
      val v = r.getSeq[Double](2)
      var s = 0.0
      v.indices.foreach { d => val df0 = v(d) - byCl(d); s += df0 * df0 }
      assert(java.lang.Double.doubleToLongBits(s)
        == java.lang.Double.doubleToLongBits(r.getDouble(0)))
    }
  }

  test("CosineSimilarity equals the sequential aggregate/zip_with fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(20)(Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    val df = vecs.zip(vecs.reverse).toDF("a", "b")
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val legacy = dot(col("a"), col("b")) /
      (sqrt(dot(col("a"), col("a"))) * sqrt(dot(col("b"), col("b"))))
    val rows = df.select(
      VectorOps.cosineSimilarity(col("a"), col("b")).as("native"),
      legacy.as("legacy")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), s"cosine drift: $r"))
  }

  test("HyperplaneBuckets equals the per-table projection combinator form") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(10)(Seq.fill(64)(rnd.nextDouble() * 2 - 1)).toDF("vec")
    val planes = 4; val tables = 8; val dims = 64
    val legacy = array((0 until tables).map(t =>
      graft.operators.Reference.hyperplaneBucket(col("vec"), planes, t, dims)): _*)
    val rows = df.select(
      VectorOps.hyperplaneBuckets(col("vec"), planes, tables).as("native"),
      legacy.as("legacy")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"bucket drift: $r"))
  }

  test("Md5SimHash equals the exploded md5 bit-sum aggregate") {
    import spark.implicits._
    val bits = 60
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "completely different words here"),
      (3L, "the cat sat on the mat today")).toDF("doc", "text")
    val hashed = df
      .select(col("doc"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType).as("th"))
    val bitSums = (0 until bits).map(b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$b"))
    val sig = (0 until bits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val legacy = hashed.groupBy(col("doc")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc"), sig.as("simhash"))
    val native = df.select(col("doc"), Md5SimHash.simhash(col("text"), bits).as("simhash"))
    val l = legacy.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nv = native.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nv == l, s"simhash drift: native=$nv legacy=$l")
  }

  test("DistinctByKey keeps first occurrences and all null-keyed elements") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq("aa", "ab", "ba", "bb", "aa"))).toDF("xs")
    val keys = transform(col("xs"), x => substring(x, 1, 1)) // key = first char
    val kept = df.select(DistinctByKey.distinctBy(col("xs"), keys).as("r"))
      .collect()(0).getSeq[String](0)
    assert(kept == Seq("aa", "ba")) // first per key, original order
    val nullKeys = df.select(DistinctByKey.distinctBy(col("xs"),
      transform(col("xs"), _ => lit(null).cast(StringType))).as("r"))
      .collect()(0).getSeq[String](0)
    assert(nullKeys == Seq("aa", "ab", "ba", "bb", "aa")) // null keys never collapse
  }

  test("Int8Quantize equals the HOF lambda form on scale and components") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vecs = Seq.fill(25)(Seq.fill(64)(rnd.nextDouble() * 4 - 2)) :+
      Seq.fill(64)(0.0) // zero vector must be safe in both forms
    val df = vecs.toDF("v")
    val legacyScale = {
      val ma = array_max(transform(col("v"), x => abs(x)))
      when(ma === 0.0, lit(0.0)).otherwise(lit(127.0) / ma)
    }
    val rows = df.select(
      graft.operators.Quantize.int8Scale(col("v")).as("ns"),
      legacyScale.as("ls"),
      Int8Quantize.int8Quantize(col("v")).getField("q").as("nq"),
      graft.operators.Reference.int8Lambda(col("v")).as("lq"),
      graft.operators.Quantize.roundTrip(col("v")).as("ndq"),
      // ANSI mode throws on x/0.0, so the legacy restatement guards the
      // zero vector the same way the native pass defines it: dq = 0.0
      transform(graft.operators.Reference.int8Lambda(col("v")),
        q => when(legacyScale === 0.0, lit(0.0))
          .otherwise(q.cast(org.apache.spark.sql.types.DoubleType) / legacyScale))
        .as("ldq")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"scale drift: $r")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), s"component drift: $r")
      assert(r.getSeq[Double](4) == r.getSeq[Double](5),
        s"dequantize drift: ${r.getSeq[Double](4)} vs ${r.getSeq[Double](5)}")
    }
  }

  test("Int8Quantize property: per-element round-trip error within half a step") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // 100 random vectors across magnitudes (1e-3 .. 1e3)
    val vecs = Seq.fill(100) {
      val mag = math.pow(10, rnd.nextInt(7) - 3)
      Seq.fill(48)((rnd.nextDouble() * 2 - 1) * mag)
    }
    val rows = vecs.toDF("v").select(
      col("v"),
      graft.operators.Quantize.int8Scale(col("v")).as("s"),
      graft.operators.Quantize.roundTrip(col("v")).as("dq")).collect()
    rows.foreach { r =>
      val (v, s, dq) = (r.getSeq[Double](0), r.getDouble(1), r.getSeq[Double](2))
      assert(s > 0)
      v.zip(dq).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 0.5 / s + 1e-12,
          s"error ${math.abs(x - y)} exceeds half-step ${0.5 / s}")
      }
    }
  }

  test("GramStats counts code points and breaks ties in UTF-8 binary order") {
    import spark.implicits._
    // U+1F600 (😀) is 2 UTF-16 units / 1 code point / 4 UTF-8 bytes;
    // U+FFFD is 1 unit / 1 code point / 3 UTF-8 bytes.
    val smile = "😀"
    val rep = "�"
    // dup_chars must count CODE POINTS: "😀 x" appears twice -> 2 grams x
    // 3 code points = 6, not 2 x 4 UTF-16 units = 8.
    val dup = Seq(s"$smile x $smile x").toDF("t")
      .select(GramStats.gramStats(col("t"), 2).as("g")).collect()(0).getStruct(0)
    assert(dup.getString(0) == s"$smile x" && dup.getLong(1) == 2L)
    assert(dup.getLong(2) == 6L, s"dup_chars must count code points, got ${dup.getLong(2)}")
    // tie at count 1 between unigrams 😀 and U+FFFD: UTF-16 order picks 😀
    // (surrogates 0xD83D < 0xFFFD) but UTF-8 binary order — what Spark's
    // string comparison and the DuckDB oracle use — picks U+FFFD
    // (0xEF... < 0xF0...).
    val tie = Seq(s"$smile $rep").toDF("t")
      .select(GramStats.gramStats(col("t"), 1).as("g")).collect()(0).getStruct(0)
    assert(tie.getString(0) == rep,
      s"tie must break in UTF-8 binary order, got '${tie.getString(0)}'")
  }

  test("WinnowFingerprints equals the posexplode + window-min restatement") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and more words here"),
      (2L, "a b a b a b a b"), // repeated grams collapse in the distinct set
      (3L, "just three tokens"), // one gram -> one full-cover window
      (4L, "two words"),         // fewer than n tokens -> empty
      (5L, "u v w x y z")        // 4 grams -> exactly one window
    ).toDF("doc", "t")
    val native = docs.select(col("doc"),
        explode(WinnowFingerprints.winnowFingerprints(col("t"), 3, 4)).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // restatement: gram rows with positions, md5-60 hash, windowed min,
    // one full-cover window for docs with < w grams
    val grams = docs.select(col("doc"),
        posexplode(ShingleText.shingleText(col("t"), 3, distinct = false))
          .as(Seq("pos", "g")))
      .withColumn("th",
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long"))
      .withColumn("n_g", count(lit(1)).over(Window.partitionBy("doc")))
    val wMin = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, 3)
    val legacy = grams
      .withColumn("fp", min(col("th")).over(wMin))
      .filter(col("pos") <= greatest(col("n_g") - 4, lit(0)))
      .select("doc", "fp").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(native == legacy)
    // doc 4 fingerprints nothing; every other doc has at least one
    assert(!native.exists(_._1 == 4L))
    assert(Seq(1L, 2L, 3L, 5L).forall(d => native.exists(_._1 == d)))
    // doc 5 (exactly w grams) has exactly one window -> one fingerprint
    assert(native.count(_._1 == 5L) == 1)
  }

  test("BloomMightContain: no false negatives; codegen and interpreted agree") {
    import spark.implicits._
    val present = (0L until 1000L).map(_ * 2654435761L)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(present.size.toLong, 0.01)
    present.foreach(bloom.putLong)
    val absent = (0L until 10000L).map(h => h * 0x9E3779B97F4A7C15L + 17L)
      .filterNot(present.toSet)
    val df = (present ++ absent).toDF("h")
      .select(col("h"), BloomMightContain.mightContain(col("h"), bloom).as("m"))
    val byHash = df.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the hard guarantee: every inserted value probes true
    assert(present.forall(byHash(_)), "false negative in bloom probe")
    // the soft guarantee: the absent set's positive rate is near fpp —
    // generous bound so the test can never flake on sketch randomness
    val fpr = absent.count(byHash(_)).toDouble / absent.size
    assert(fpr < 0.05, s"false-positive rate $fpr implausible for fpp=0.01")
    // interpreted eval (no codegen) must agree bit-for-bit
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = (present ++ absent).toDF("h")
        .select(col("h"), BloomMightContain.mightContain(col("h"), bloom).as("m"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(interp == byHash, "codegen vs interpreted divergence")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("MinHashSignature is deterministic and order-invariant over the hash set") {
    import spark.implicits._
    val df = Seq(
      (Seq(5L, 1L, 9L, 3L), Seq(3L, 9L, 1L, 5L)), // same set, different order
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
    val rows = df.select(
      MinHashSignature.signature(col("a"), 16).as("sa"),
      MinHashSignature.signature(col("b"), 16).as("sb")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    assert(rows(1).getSeq[Long](0).forall(_ == Long.MaxValue)) // empty set sentinel
  }

  test("SelfDedupChunks keeps first occurrences, handles partial/empty chunks") {
    import org.apache.spark.unsafe.types.UTF8String
    def run(s: String, w: Int): String =
      SelfDedupChunks.compute(UTF8String.fromString(s), w).toString
    assert(run("a b a b c d", 2) == "a b c d")      // exact repeat drops
    assert(run("a b b a", 2) == "a b b a")           // different content stays
    assert(run("a b c a b c a", 3) == "a b c a")     // partial tail differs from full chunk
    assert(run("a a a a a", 1) == "a")               // width-1 = word dedup
    assert(run("", 2) == "")                          // empty text round-trips
    assert(run("x", 4) == "x")                        // single short chunk
    assert(run("a b c d a b", 2) == "a b c d")       // repeat at the end
  }

  test("NormalizeText: NFC composition, casefold, whitespace collapse, idempotence") {
    import org.apache.spark.unsafe.types.UTF8String
    def run(s: String): String =
      NormalizeText.compute(UTF8String.fromString(s)).toString
    // decomposed e + COMBINING ACUTE composes to the same bytes as é
    assert(run("café") == run("café"))
    assert(run("CAFÉ") == "café")
    // whitespace runs of every ASCII class collapse; edges trim away
    assert(run("  a\t\tb \n c\r\n") == "a b c")
    assert(run("\t\n ") == "")
    assert(run("") == "")
    assert(run("already clean") == "already clean")
    // idempotence: a normalized string is its own normal form
    val crafted = Seq("café  X\tY", "A  B", "Ångström\n",
      "MiXeD   CaSe", " x ")
    for (t <- crafted) assert(run(run(t)) == run(t), s"not idempotent on '$t'")
    // astral code points survive (surrogate pairs are not whitespace/case)
    val clef = new String(Character.toChars(0x1D11E))
    assert(run(s"$clef  $clef") == s"$clef $clef")
  }

  test("NormalizeText properties on seeded random strings: idempotent, collapsed, reference-equal") {
    import org.apache.spark.unsafe.types.UTF8String
    def run(s: String): String =
      NormalizeText.compute(UTF8String.fromString(s)).toString
    // independent scalar reference: NFC → ROOT lowercase → regex collapse
    def reference(s: String): String = {
      val lower = java.text.Normalizer
        .normalize(s, java.text.Normalizer.Form.NFC)
        .toLowerCase(java.util.Locale.ROOT)
      lower.replaceAll("[\t\n\\x0B\f\r ]+", " ")
        .replaceAll("^ | $", "")
    }
    val rnd = new scala.util.Random(1313)
    val alphabet = "aBcD \t\n\r\f\u000B" + "é" + "é" + "Ångü" + "字"
    for (_ <- 1 to 300) {
      val n = rnd.nextInt(40)
      val s = (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val out = run(s)
      assert(out == reference(s), s"reference mismatch on ${s.take(30).toList}")
      assert(run(out) == out, s"not idempotent on ${s.take(30).toList}")
      assert(!out.contains("  ") && !out.startsWith(" ") && !out.endsWith(" "),
        s"collapse violated on ${s.take(30).toList}")
      assert(out == out.toLowerCase(java.util.Locale.ROOT))
    }
  }

  test("CharEntropyFx equals the scalar fixed-point definition, code-point-wise") {
    import org.apache.spark.unsafe.types.UTF8String
    def reference(s: String): Long = {
      val cps = s.codePoints().toArray
      if (cps.isEmpty) 0L
      else {
        val n = cps.length
        -cps.groupBy(identity).values.map { g =>
          val c = g.length.toLong
          c * math.floor(math.log(c.toDouble / n) * 1e6).toLong
        }.sum
      }
    }
    val clef = new String(Character.toChars(0x1D11E))
    val crafted = Seq("", "a", "aaaa", "abab", "the quick brown fox",
      clef + clef + "a", // astral chars must count as ONE code point each
      "x" * 1000)
    for (t <- crafted)
      assert(CharEntropyFx.compute(UTF8String.fromString(t)) == reference(t),
        s"mismatch on '${t.take(20)}'")
    // uniform two-symbol text: entropy must be ln 2 (up to the 1e-6 floor)
    val fx = CharEntropyFx.compute(UTF8String.fromString("abab"))
    val nats = fx.toDouble / 1e6 / 4
    assert(math.abs(nats - math.log(2)) < 1e-5, s"uniform entropy $nats != ln2")
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 200) {
      val t = Seq.fill(rnd.nextInt(80))("ab x".charAt(rnd.nextInt(4))).mkString
      assert(CharEntropyFx.compute(UTF8String.fromString(t)) == reference(t),
        s"random mismatch on '$t'")
    }
  }
}
