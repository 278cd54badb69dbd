package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.YamlParser

/** Structured Streaming drive: the same rule plan and windowed aggregation
  * run as a real streaming query against a file source (memory sink,
  * processAllAvailable = synchronous local smoke). */
class StreamOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  test("rule transform runs on a stream; finalize is rejected (reference NDJSON-mode rule)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-src").toFile.getAbsolutePath
    Seq((1L, 5.0), (2L, 50.0), (3L, 500.0)).toDF("id", "amount")
      .write.mode("overwrite").parquet(dir)

    val rule = YamlParser.parse(
      """version: 2
        |record_when: { gte: ["@input.amount", 10] }
        |mappings:
        |  - target: id
        |    source: id
        |  - target: doubled
        |    expr: ["@input.amount", multiply: [2]]
        |""".stripMargin)

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    assert(stream.isStreaming)

    val q = StreamOps.ruleStream(rule, stream)
      .writeStream.format("memory").queryName("rule_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("rule_out").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(100.0, 1000.0))

    // finalize must be rejected in stream mode, like the reference
    val withFinalize = YamlParser.parse(
      """version: 2
        |mappings:
        |  - target: id
        |    source: id
        |finalize: { limit: 1 }
        |""".stripMargin)
    assertThrows[IllegalArgumentException](StreamOps.ruleStream(withFinalize, stream))
  }

  test("stream-stream interval join pairs events within the window, drops outside") {
    import spark.implicits._
    val ldir = Files.createTempDirectory("ss-left").toFile.getAbsolutePath
    val rdir = Files.createTempDirectory("ss-right").toFile.getAbsolutePath
    Seq((1L, "2024-01-01 10:00:00", "click"))
      .toDF("uid", "ts_s", "kind")
      .select(col("uid"), to_timestamp(col("ts_s")).as("ts"), col("kind"))
      .write.mode("overwrite").parquet(ldir)
    Seq(
      (1L, "2024-01-01 10:00:30", "page_a"),  // within +1 minute
      (1L, "2024-01-01 10:05:00", "page_b"),  // outside
      (2L, "2024-01-01 10:00:10", "page_c"))  // wrong key
      .toDF("uid", "ts_s", "page")
      .select(col("uid"), to_timestamp(col("ts_s")).as("ts"), col("page"))
      .write.mode("overwrite").parquet(rdir)

    val lschema = spark.read.parquet(ldir).schema
    val rschema = spark.read.parquet(rdir).schema
    val joined = StreamOps.intervalJoin(
      spark.readStream.schema(lschema).parquet(ldir),
      spark.readStream.schema(rschema).parquet(rdir),
      "uid", "ts", watermark = "10 minutes", before = "0 seconds", after = "1 minute")
    val q = joined.select(col("l.uid"), col("kind"), col("page"))
      .writeStream.format("memory").queryName("ssjoin_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("ssjoin_out").collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(2) == "page_a")
  }

  test("streaming near-dedup collapses simhash-identical docs; quality gate filters") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-docs").toFile.getAbsolutePath
    // doc 2 is a word-order shuffle of doc 1 (same bag of words -> same
    // simhash); doc 3 is distinct; doc 4 is low-quality (one token)
    Seq(
      (1L, "2024-01-01 10:00:01", "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "2024-01-01 10:00:02", "again and again the lazy dog jumps over the quick brown fox"),
      (3L, "2024-01-01 10:00:03", "a completely different document about spark and the engine design"),
      (4L, "2024-01-01 10:00:04", "x"))
      .toDF("doc_id", "ts_s", "text")
      .select(col("doc_id"), to_timestamp(col("ts_s")).as("ts"), col("text"))
      .write.mode("overwrite").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)

    val deduped = StreamOps.streamingNearDedup(stream, "text", "ts", "10 minutes")
    val gated = StreamOps.qualityGate(deduped, "text", minQuality = 0.4)
    val q = gated.select("doc_id", "quality", "lang_guess")
      .writeStream.format("memory").queryName("ingest_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("ingest_out").orderBy("doc_id").collect()
    val ids = rows.map(_.getLong(0)).toSeq
    // 2 collapsed into 1 (same simhash); 4 dropped by the quality gate
    assert(ids == Seq(1L, 3L) || ids == Seq(2L, 3L), s"got $ids")
    assert(rows.forall(_.getDouble(1) >= 0.4))
  }

  test("rule stream carries per-item warnings as a column (reference stream mode)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-warn").toFile.getAbsolutePath
    Seq((1L, "10"), (2L, "abc"), (3L, "3"))
      .toDF("id", "n").write.mode("overwrite").parquet(dir)
    val rule = YamlParser.parse(
      """version: 1
        |input: { format: json }
        |mappings:
        |  - target: "id"
        |    source: "id"
        |  - target: "flag"
        |    value: "big"
        |    when:
        |      op: ">"
        |      args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
        |""".stripMargin)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.ruleStreamWithWarnings(rule, stream)
      .writeStream.format("memory").queryName("warn_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("warn_out").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.forall(_.getBoolean(rows(0).fieldIndex("_kept"))))
    val warnsOf = rows.map(r =>
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("_warnings"))
        .map(w => (w.getString(0), w.getString(1))))
    assert(warnsOf(0).isEmpty && warnsOf(2).isEmpty)
    assert(warnsOf(1) == Seq(("TypeCastFailed", "mappings[1].when.args[0]")))
    // the erroring when skipped the mapping: flag null for record 2
    assert(rows(1).isNullAt(rows(1).fieldIndex("flag")))
    assert(rows(0).getString(rows(0).fieldIndex("flag")) == "big")
  }

  test("streaming near-dedup runs on the RocksDB state store provider") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-rocks").toFile.getAbsolutePath
    Seq(
      (1L, "2024-01-01 10:00:01", "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "2024-01-01 10:00:02", "again and again the lazy dog jumps over the quick brown fox"),
      (3L, "2024-01-01 10:00:03", "a completely different document about spark and the engine design"))
      .toDF("doc_id", "ts_s", "text")
      .select(col("doc_id"), to_timestamp(col("ts_s")).as("ts"), col("text"))
      .write.mode("overwrite").parquet(dir)

    val before = StreamOps.rocksDbStateConf.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    StreamOps.useRocksDbState(spark)
    try {
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema).parquet(dir)
      val ckpt = Files.createTempDirectory("rocks-ckpt").toFile.getAbsolutePath
      val q = StreamOps.streamingNearDedup(stream, "text", "ts", "10 minutes")
        .select("doc_id")
        .writeStream.format("memory").queryName("rocks_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val ids = spark.table("rocks_out").orderBy("doc_id").collect()
        .map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 3L) || ids == Seq(2L, 3L), s"got $ids")
      // the dedup state actually lived in RocksDB: the checkpoint carries
      // RocksDB SST/changelog files, not the HDFS-backed .delta layout
      val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state"))
        .iterator().asScala.map(_.getFileName.toString).toSeq
      assert(stateFiles.exists(n => n.endsWith(".changelog") || n.endsWith(".zip")),
        s"no RocksDB changelog/snapshot files under $ckpt/state: $stateFiles")
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("watermarked windowed counts over a stream match the batch plan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-ev").toFile.getAbsolutePath
    Seq(
      ("2024-01-01 00:05:00", "click", 1.0),
      ("2024-01-01 00:20:00", "click", 2.0),
      ("2024-01-01 01:10:00", "view", 3.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.windowedCounts(stream, "ts", "event_type", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("win_out").orderBy("window_start", "event_type").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n") == 2L) // two clicks in hour 0
    assert(rows(1).getAs[Long]("n") == 1L)
  }

  test("repetitionGate filters repetitive documents on a real stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
    val q = StreamOps.repetitionGate(docs, "text",
        maxTopBigramFrac = 0.5, maxDupTrigramFrac = 0.5)
      .writeStream.format("memory").queryName("rep_gate").outputMode("append").start()
    input.addData(
      (1L, "a healthy document with varied words throughout"),
      (2L, "spam spam spam spam spam spam")) // top bigram covers ~everything
    q.processAllAvailable(); q.stop()
    val kept = spark.table("rep_gate").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L), s"kept: $kept")
  }

  test("boilerplate + decontamination gates filter a stream against batch-built sets") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // batch side: build the boilerplate gram set (trigram "subscribe and
    // like" appears in 3 corpus docs) and the benchmark hash set
    val corpus = Seq(
      (1L, "subscribe and like for more content today"),
      (2L, "subscribe and like this channel now"),
      (3L, "subscribe and like the video please"),
      (4L, "a normal document about distributed query engines")).toDF("doc_id", "text")
    val boiler = graft.operators.TextAnalysis
      .boilerplateGrams(corpus, "text", "doc_id", n = 3, minDf = 3)
      .select("gram").collect().map(_.getString(0)).toSeq
    assert(boiler.contains("subscribe and like"))
    val bench = Seq((100L, "the secret benchmark question answer")).toDF("doc_id", "text")
    val benchHashes = graft.operators.Dedup
      .benchmarkHashes(bench, "text", "doc_id", n = 3)
      .collect().map(_.getLong(0)).toSeq

    // stream side: gate two micro-batches through both filters
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
    val gated = StreamOps.decontaminationGate(
      StreamOps.boilerplateGate(docs, "text", boiler, n = 3, maxBoilerFrac = 0.4),
      "text", benchHashes, n = 3)
    val q = gated.select("doc_id", "boiler_frac")
      .writeStream.format("memory").queryName("gate_out").outputMode("append").start()
    input.addData(
      (10L, "subscribe and like now"), // 1 of 2 grams boilerplate = 0.5 > 0.4
      (11L, "an original essay on watermark semantics in streams"))
    q.processAllAvailable()
    input.addData(
      (12L, "contains the secret benchmark question answer verbatim here"), // contaminated
      (13L, "another clean document with novel words entirely"))
    q.processAllAvailable(); q.stop()

    val kept = spark.table("gate_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(11L, 13L), s"kept: $kept")
    // the gates are stateless narrow filters: no streaming state at all
    assert(q.lastProgress.stateOperators.isEmpty)
  }

  test("span-dup gate drops stream docs dominated by batch-built duplicated spans") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // batch side: "one two three four five" occurs in two corpus docs
    val corpus = Seq(
      (1L, "one two three four five alpha beta"),
      (2L, "one two three four five gamma delta"),
      (3L, "an unrelated document about columnar storage")).toDF("doc_id", "text")
    val dupHashes = graft.operators.Dedup
      .dupSpanHashes(corpus, "text", "doc_id", n = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(dupHashes.size == 1, s"one duplicated span expected: $dupHashes")

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
    val gated = StreamOps.spanDupGate(docs, "text", dupHashes,
      n = 5, maxDupFrac = 0.5)
    val q = gated.select("doc_id", "n_spans", "n_dup_spans", "dup_frac")
      .writeStream.format("memory").queryName("span_gate_out")
      .outputMode("append").start()
    input.addData(
      (10L, "one two three four five"),               // 1/1 dup = 1.0 > 0.5
      (11L, "zero one two three four five six"),      // 1/3 dup ≤ 0.5
      (12L, "a wholly novel stream document arrives"),// 0/1 dup
      (13L, "tiny"))                                  // no spans: passes
    q.processAllAvailable(); q.stop()

    val kept = spark.table("span_gate_out")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(kept.keySet == Set(11L, 12L, 13L), s"kept: $kept")
    assert(kept(13L) == 0.0, "sub-n docs pass with dup_frac 0")
    assert(q.lastProgress.stateOperators.isEmpty, "stateless narrow gate")
  }

  test("chunkTokens runs unchanged on a stream: narrow stateless explode, batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the context-window chunker is a pure narrow explode, so the SAME
    // operator body runs on an unbounded stream with no state, no
    // watermark, and append-mode semantics — one plan, both modes
    val docsSeq = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"))
    val batchOut = graft.operators.TextAnalysis.chunkTokens(
        docsSeq.toDF("doc_id", "text"), "text", "doc_id", chunkSize = 6, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.chunkTokens(
        input.toDF.toDF("doc_id", "text"), "text", "doc_id", chunkSize = 6, overlap = 2)
      .writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    input.addData(docsSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamOut = spark.table("chunk_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamOut == batchOut, s"stream $streamOut != batch $batchOut")
    assert(q.lastProgress.stateOperators.isEmpty, "chunking must be stateless")
  }

  test("bloom decontamination gate: contaminated always dropped; stream equals batch filter") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bench = Seq(
      (1L, "the held out benchmark question about storage engines"),
      (2L, "a second evaluation prompt nobody may train on")).toDF("doc_id", "text")
    val bloom = graft.operators.Dedup.benchmarkBloom(bench, "text", "doc_id", n = 3)
    val streamDocs = Seq(
      (10L, "leaks the held out benchmark question about storage engines verbatim"),
      (11L, "wholly unrelated prose concerning gardening techniques"),
      (12L, "a second evaluation prompt nobody may train on plus suffix"),
      (13L, "short"))
    // the contract is batch/stream parity on the IDENTICAL expression —
    // compute the batch gate's kept set first, then require the stream
    // to reproduce it exactly (bloom false positives, if any, and all)
    val batchKept = StreamOps.bloomDecontaminationGate(
        streamDocs.toDF("doc_id", "text"), "text", bloom, n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!batchKept.contains(10L) && !batchKept.contains(12L),
      "no false negatives: contaminated docs can never pass the bitset")
    assert(batchKept.contains(13L), "sub-n docs have no grams and pass")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.bloomDecontaminationGate(
        input.toDF.toDF("doc_id", "text"), "text", bloom, n = 3)
      .select("doc_id")
      .writeStream.format("memory").queryName("bloom_gate_out")
      .outputMode("append").start()
    input.addData(streamDocs: _*)
    q.processAllAvailable(); q.stop()
    val streamKept = spark.table("bloom_gate_out")
      .collect().map(_.getLong(0)).toSet
    assert(streamKept == batchKept, s"stream $streamKept != batch $batchKept")
    assert(q.lastProgress.stateOperators.isEmpty, "stateless narrow gate")
  }

  test("incrementalIngest: micro-batches dedup against the persisted index via foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idxPath = Files.createTempDirectory("ingest_idx").resolve("index").toString

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
    val q = StreamOps.incrementalIngest(docs, "text", "doc_id", idxPath,
      n = 3, k = 64, bands = 16, threshold = 0.8).start()

    // batch 1 bootstraps the index; doc 10 is a within-batch dup of doc 1
    input.addData((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"),
      (10L, "alpha beta gamma delta epsilon"))
    q.processAllAvailable()
    val after1 = spark.read.parquet(idxPath).select("doc")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after1 == Seq(1L, 2L), s"bootstrap batch: $after1")

    // batch 2: doc 3 duplicates indexed doc 1 (dropped), doc 4 is new
    input.addData((3L, "alpha beta gamma delta epsilon"),
      (4L, "six seven eight nine ten"))
    q.processAllAvailable()
    q.stop()
    val after2 = spark.read.parquet(idxPath).select("doc")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after2 == Seq(1L, 2L, 4L), s"post-ingest index: $after2")
  }

  test("embeddingIngest: micro-batches ANN-dedup against the persisted int8 index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idxPath = Files.createTempDirectory("emb_idx").resolve("index").toString

    // deterministic base vectors far apart; near-dups = tiny perturbations
    def mix(z0: Long): Float = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      ((z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0).toFloat
    }
    def base(seed: Long) = Seq.tabulate(32)(d => mix(seed * 131 + d))
    def nearDup(v: Seq[Float], seed: Long) =
      v.zipWithIndex.map { case (x, d) => x + 0.01f * mix(seed * 977 + d) }

    val a = base(1); val b = base(2); val c = base(3)
    val input = MemoryStream[(Long, Seq[Float])]
    val emb = input.toDF.toDF("vec_id", "embedding")
    val q = StreamOps.embeddingIngest(emb, "vec_id", "embedding", idxPath,
      threshold = 0.95, planes = 4, tables = 16).start()

    // batch 1 bootstraps; id 10 is a within-batch near-dup of id 1
    input.addData((1L, a), (2L, b), (10L, nearDup(a, 7)))
    q.processAllAvailable()
    val after1 = spark.read.parquet(idxPath).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after1 == Seq(1L, 2L), s"bootstrap batch: $after1")

    // batch 2: id 3 near-dups indexed id 2 (dropped); id 4 is new
    input.addData((3L, nearDup(b, 9)), (4L, c))
    q.processAllAvailable()
    q.stop()
    val after2 = spark.read.parquet(idxPath).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after2 == Seq(1L, 2L, 4L), s"post-ingest index: $after2")
    // the index is the byte-packed persisted form (¼ the float bytes)
    val schema = spark.read.parquet(idxPath).schema
    assert(schema("bin").dataType == org.apache.spark.sql.types.BinaryType)
  }

  test("ingestBatch: replaying a batchId leaves the index unchanged (exactly-once)") {
    import spark.implicits._
    val idx = Files.createTempDirectory("replay_idx").resolve("index").toString
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val b2 = Seq((3L, "alpha beta gamma delta epsilon"), // dup of indexed 1
      (4L, "six seven eight nine ten")).toDF("doc_id", "text")
    def ingest(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamOps.ingestBatch(b, id, "text", "doc_id", idx,
        n = 3, k = 64, bands = 16, threshold = 0.8)
    ingest(b1, 0L); ingest(b2, 1L)
    def state() = spark.read.parquet(idx).select("doc")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(state() == Seq(1L, 2L, 4L))
    // a failure-recovery replay of batch 1 must overwrite its own
    // partition, not append duplicate survivor rows
    ingest(b2, 1L)
    assert(state() == Seq(1L, 2L, 4L), "replay must be idempotent")
    assert(spark.read.parquet(idx).count() == 3, "no duplicate index rows")
  }

  test("ingestBatch: migrates a pre-batch_id (append-mode) index in place") {
    import spark.implicits._
    val idx = Files.createTempDirectory("legacy_idx").resolve("index").toString
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    // a legacy index: plain signature rows, no batch_id partition column
    graft.operators.Dedup.signatureIndex(b1, "text", "doc_id", 3, 64, 16)
      .write.parquet(idx)
    val b2 = Seq((3L, "alpha beta gamma delta epsilon"), // dup of legacy 1
      (4L, "six seven eight nine ten")).toDF("doc_id", "text")
    StreamOps.ingestBatch(b2, 0L, "text", "doc_id", idx,
      n = 3, k = 64, bands = 16, threshold = 0.8)
    val rows = spark.read.parquet(idx)
    assert(rows.columns.contains("batch_id"),
      "legacy rows must land in the partitioned layout")
    assert(rows.select("doc").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 2L, 4L),
      "the batch must dedup against the legacy rows, then append survivors")
  }

  test("ingestBatch: a husk index dir (crashed first write) bootstraps instead of failing") {
    import spark.implicits._
    val idx = Files.createTempDirectory("husk_idx").resolve("index").toString
    // a first batch that died mid-write leaves only job debris: the
    // directory exists but holds no committed data files or partitions
    Files.createDirectories(java.nio.file.Paths.get(idx, "_temporary", "0"))
    val b = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    // bare fs.exists would route this into spark.read.parquet on the husk
    // and throw on every replay; the committed-data probe bootstraps
    StreamOps.ingestBatch(b, 0L, "text", "doc_id", idx,
      n = 3, k = 64, bands = 16, threshold = 0.8)
    val docs = spark.read.parquet(idx).select("doc")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(docs == Seq(1L, 2L), s"healed bootstrap: $docs")
  }

  test("streaming shard publication: assignShards + partitioned file sink, batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the shard assignment is a pure narrow projection, so the SAME
    // operator runs on a stream; the partitioned parquet file sink's own
    // commit log (_spark_metadata) makes the shard dirs exactly-once
    // without any batch_id machinery — this is the continuous "publish"
    // path of the Sharding layout
    val out = Files.createTempDirectory("stream_shards").toString
    val ckpt = Files.createTempDirectory("stream_shards_ckpt").toString
    val docsSeq = (1L to 20L).map(i => (i, s"doc $i text"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Sharding.assignShards(
        input.toDF.toDF("doc_id", "text"), "doc_id", nShards = 4)
      .writeStream.format("parquet").partitionBy("shard")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    input.addData(docsSeq.take(12): _*)
    q.processAllAvailable()
    input.addData(docsSeq.drop(12): _*)
    q.processAllAvailable(); q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 20, "all docs must land")
    // stream shard assignment equals the batch operator's, doc for doc
    val batchAssign = graft.operators.Sharding.assignShards(
        docsSeq.toDF("doc_id", "text"), "doc_id", 4)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // directory-name partition inference types `shard` as int — cast back
    val streamAssign = back.select(col("doc_id"), col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamAssign == batchAssign)
    // the layout is the partitioned shard dirs a loader lists
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(d => d.stripPrefix("shard=").toInt < 4))
  }

  test("simhashIngestBatch: 8-byte-per-doc index dedups batches; replay idempotent") {
    import spark.implicits._
    val idx = Files.createTempDirectory("simhash_idx").resolve("index").toString
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val b2 = Seq((3L, "alpha beta gamma delta epsilon"), // radius-0 dup of indexed 1
      (4L, "six seven eight nine ten")).toDF("doc_id", "text")
    def ingest(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamOps.simhashIngestBatch(b, id, "text", "doc_id", idx,
        maxHamming = 3, bits = 60, bands = 4)
    ingest(b1, 0L); ingest(b2, 1L)
    def state() = spark.read.parquet(idx).select("doc")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(state() == Seq(1L, 2L, 4L))
    // the whole index is (doc, simhash, batch_id) — no shingle sets, no
    // band keys: 8 bytes of signature per document
    assert(spark.read.parquet(idx).columns.sorted.toSeq
      == Seq("batch_id", "doc", "simhash"))
    // a failure-recovery replay must overwrite its own partition
    ingest(b2, 1L)
    assert(state() == Seq(1L, 2L, 4L), "replay must be idempotent")
    assert(spark.read.parquet(idx).count() == 3, "no duplicate index rows")
  }

  test("streaming mixture gate: batch-derived rates filter a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Sampling
    val docsSeq = (1L to 60L).map(i =>
      (i, if (i % 3 == 0) "srcA" else "srcB"))
    val batch = docsSeq.toDF("doc_id", "source")
    val weights = Map("srcA" -> 1.0, "srcB" -> 1.0)
    // the batch profile (a dataset card / yesterday's manifest)
    val mass = batch.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBatch = Sampling.resampleByMass(batch, "doc_id", "source",
        mass, weights).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String)]
    val q = Sampling.resampleByMass(input.toDF.toDF("doc_id", "source"),
        "doc_id", "source", mass, weights)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode("append").start()
    input.addData(docsSeq.take(30): _*)
    q.processAllAvailable()
    input.addData(docsSeq.drop(30): _*)
    q.processAllAvailable(); q.stop()
    val keptStream = spark.table("mix_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptStream == keptBatch, "stream must keep exactly the batch's set")
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming DSIR gate: batch-trained model filters a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsSeq = (1L to 50L).map { i =>
      val lang = if (i % 2 == 0) "en" else "fr"
      val text =
        if (lang == "en") "the quick brown fox jumps over the lazy dog " + (i % 4)
        else "le renard brun rapide saute par dessus " + (i % 6)
      (i, lang, text)
    }
    val batch = docsSeq.toDF("doc_id", "lang", "text")
    val model = graft.functions.DsirScoreFx.train(batch, "text", "doc_id",
      col("lang") === "en", buckets = 512)
    // threshold at 0: keep docs more target-like than the raw average
    val keptBatch = StreamOps.dsirGate(batch, "text", model, minScore = 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBatch.nonEmpty && keptBatch.size < docsSeq.size,
      "the gate must visibly split the corpus")

    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.dsirGate(input.toDF.toDF("doc_id", "lang", "text"),
        "text", model, minScore = 0.0)
      .select("doc_id", "dsir_score")
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    input.addData(docsSeq.take(25): _*)
    q.processAllAvailable()
    input.addData(docsSeq.drop(25): _*)
    q.processAllAvailable(); q.stop()
    val keptStream = spark.table("dsir_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptStream == keptBatch, "stream must keep exactly the batch's set")
    // and the scores themselves are the batch operator's, bit for bit
    val streamScores = spark.table("dsir_out")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val opScores = graft.operators.TextAnalysis.dsirScores(
        batch, "text", "doc_id", col("lang") === "en", buckets = 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    streamScores.foreach { case (id, s) =>
      assert(s == opScores(id), s"doc $id: stream $s != batch op ${opScores(id)}")
    }
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming gopher gate: the per-row audit projection filters a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batchKept = graft.operators.TextAnalysis.gopherRules(
        rows.toSeq.toDF("doc_id", "text"), "text", "doc_id")
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batchKept.nonEmpty && batchKept.size < rows.length,
      "the rules must visibly split the corpus")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.gopherGate(input.toDF.toDF("doc_id", "text"),
        "text", "doc_id")
      .select("doc_id")
      .writeStream.format("memory").queryName("gopher_out")
      .outputMode("append").start()
    input.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable(); q.stop()
    val streamKept = spark.table("gopher_out")
      .collect().map(_.getLong(0)).toSet
    assert(streamKept == batchKept, "stream must keep exactly the batch's set")
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming lexicon gate: the automaton filters a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val lex = new graft.functions.LexiconAutomaton(Array("dup", "slow merge"))
    val maxHits = 1L
    val batchDf = rows.toSeq.toDF("doc_id", "text")
    val batchKept = StreamOps.lexiconGate(batchDf, "text", lex, maxHits)
      .select("doc_id", "lex_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batchKept.nonEmpty && batchKept.size < rows.length,
      "the gate must visibly split the corpus")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.lexiconGate(input.toDF.toDF("doc_id", "text"),
        "text", lex, maxHits)
      .select("doc_id", "lex_hits")
      .writeStream.format("memory").queryName("lexicon_out")
      .outputMode("append").start()
    input.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable(); q.stop()
    val streamKept = spark.table("lexicon_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamKept == batchKept,
      "stream must keep exactly the batch's rows with identical counts")
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming BPE budget gate: the batch-trained merge table counts a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val model = graft.operators.TextAnalysis
      .bpeMergesModel(docs, "text", numMerges = 20, maxWords = 4096)
    // budget = the corpus median count, derived at test time
    val counts = StreamOps.bpeGate(
        rows.toSeq.toDF("doc_id", "text"), "text", model, Long.MaxValue)
      .select("n_bpe").collect().map(_.getLong(0)).sorted
    val budget = counts(counts.length / 2)
    val batchKept = StreamOps.bpeGate(
        rows.toSeq.toDF("doc_id", "text"), "text", model, budget)
      .select("doc_id", "n_bpe").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batchKept.nonEmpty && batchKept.size < rows.length,
      "the budget must visibly split the corpus")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.bpeGate(input.toDF.toDF("doc_id", "text"),
        "text", model, budget)
      .select("doc_id", "n_bpe")
      .writeStream.format("memory").queryName("bpe_out")
      .outputMode("append").start()
    input.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable(); q.stop()
    val streamKept = spark.table("bpe_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamKept == batchKept,
      "stream must keep exactly the batch's rows with identical counts")
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming entropy gate: the native histogram pass filters a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // derive the threshold from the corpus median at test time so the
    // visibly-splits property survives a driver testdata regeneration
    val allEnts = StreamOps.entropyGate(
        rows.toSeq.toDF("doc_id", "text"), "text", 0.0)
      .select("entropy").collect().map(_.getDouble(0)).sorted
    val minEnt = allEnts(allEnts.length / 2)
    val batchKept = StreamOps.entropyGate(
        rows.toSeq.toDF("doc_id", "text"), "text", minEnt)
      .select("doc_id", "entropy").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(batchKept.nonEmpty && batchKept.size < rows.length,
      s"threshold $minEnt must visibly split the corpus " +
        s"(kept ${batchKept.size}/${rows.length})")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.entropyGate(input.toDF.toDF("doc_id", "text"),
        "text", minEnt)
      .select("doc_id", "entropy")
      .writeStream.format("memory").queryName("entropy_out")
      .outputMode("append").start()
    input.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable(); q.stop()
    val streamKept = spark.table("entropy_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(streamKept == batchKept,
      "stream must keep exactly the batch's rows with identical entropies")
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming projection gate: batch-trained PCA model filters a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val model = graft.operators.Pca.fit(emb, "vec_id", "embedding",
      dims = 64, iters = 3)
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // 1σ along the dominant axis splits any non-degenerate corpus
    val batchKept = StreamOps.projectionGate(
        rows.toSeq.toDF("vec_id", "embedding"), "embedding", model, sigmas = 1.0)
      .select("vec_id", "t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(batchKept.nonEmpty && batchKept.size < rows.length,
      s"1-sigma gate must visibly split (kept ${batchKept.size}/${rows.length})")
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.projectionGate(
        input.toDF.toDF("vec_id", "embedding"), "embedding", model, sigmas = 1.0)
      .select("vec_id", "t")
      .writeStream.format("memory").queryName("proj_out")
      .outputMode("append").start()
    input.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable(); q.stop()
    val streamKept = spark.table("proj_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(streamKept == batchKept,
      "stream must keep exactly the batch's rows with identical projections")
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming projection gate parity on the SHARED persisted PCA artifact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the fleet contract the other gates carry, for the drift gate: the
    // model a STREAM serves is the same _SUCCESS-certified artifact the
    // batch audits (q_pca_power / q_pca_outliers / q_pca_residual) read,
    // so one corpus gets identical survivors however it is driven
    val dir = "/root/testdata/sf0.001"
    val model = graft.queries.SharedArtifacts.sharedPcaModel(spark, dir)
    // the shared model IS the certified on-disk artifact (local testdata
    // always fingerprints, so the persist path is active), and the
    // artifact round-trips to the exact model the gate scores with
    val path = graft.operators.Artifacts.path(spark,
      graft.queries.SharedArtifacts.liveArtifactKeys, "graft_pca_model", dir, "embeddings")
    assert(graft.operators.Pca.modelExists(spark, path),
      s"shared PCA artifact must be certified on disk at $path")
    val reread = graft.operators.Pca.readModel(spark, path, model.dims)
    assert(reread.means.toSeq == model.means.toSeq &&
      reread.loading.toSeq == model.loading.toSeq &&
      reread.eigval == model.eigval,
      "artifact must round-trip bit-identically to the served model")
    val rows = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val batchKept = StreamOps.projectionGate(
        rows.toSeq.toDF("vec_id", "embedding"), "embedding", model, sigmas = 1.0)
      .select("vec_id", "t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(batchKept.nonEmpty && batchKept.size < rows.length)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.projectionGate(
        input.toDF.toDF("vec_id", "embedding"), "embedding", model, sigmas = 1.0)
      .select("vec_id", "t")
      .writeStream.format("memory").queryName("proj_shared_out")
      .outputMode("append").start()
    input.addData(rows.toSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamKept = spark.table("proj_shared_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(streamKept == batchKept,
      "stream survivors on the shared artifact must equal the batch's")
  }

  test("streaming ensemble gate: batch-trained rank tables score a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "n_chars")
    // batch side: the query's own signal frame + histogram ranks
    val sigs = docs.select(col("doc_id") +:
      graft.queries.QualityQueries.ensembleSignals(col("text"), col("n_chars"))
        .map { case (n, c) => c.as(n) }: _*)
    val tables = Seq("s_tokens", "s_ttr", "s_mwl")
      .map(n => n -> graft.functions.RankLookup.train(sigs, n)).toMap
    val batchEns = sigs
      .join(graft.queries.QualityQueries.rankBySignal(sigs, "s_tokens", "r_tokens"),
        Seq("s_tokens"))
      .join(graft.queries.QualityQueries.rankBySignal(sigs, "s_ttr", "r_ttr"),
        Seq("s_ttr"))
      .join(graft.queries.QualityQueries.rankBySignal(sigs, "s_mwl", "r_mwl"),
        Seq("s_mwl"))
      .withColumn("ens",
        (col("r_tokens") + col("r_ttr") + col("r_mwl")) / lit(3.0))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ens"))
      .toMap

    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val input = MemoryStream[(Long, String, Long)]
    val q = StreamOps.ensembleGate(
        input.toDF.toDF("doc_id", "text", "n_chars"),
        "text", "n_chars", tables, minEnsemble = 0.5)
      .select("doc_id", "ens")
      .writeStream.format("memory").queryName("ens_out")
      .outputMode("append").start()
    input.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable(); q.stop()
    val streamEns = spark.table("ens_out")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expectedKept = batchEns.filter(_._2 >= 0.5)
    assert(streamEns.keySet == expectedKept.keySet,
      "stream must keep exactly the batch's ens >= 0.5 set")
    assert(expectedKept.nonEmpty && expectedKept.size < rows.length,
      "the gate must visibly split the corpus")
    streamEns.foreach { case (id, e) =>
      assert(e == batchEns(id), s"doc $id: stream $e != batch ${batchEns(id)}")
    }
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming repetition gate: the nine doc-local fractions filter a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.queries.QualityQueries.repetitionProfile(spark, dir)
      .collect().map(r => r.getLong(0) -> (1 to 9).map(r.getDouble).toSeq).toMap
    val limits = StreamOps.RepetitionLimits
    val names = graft.queries.QualityQueries
      .repetitionSignals(col("text"), col("n_chars")).map(_._1)
    val expectedKept = batch.filter { case (_, fr) =>
      names.zip(fr).forall { case (n, v) => v <= limits(n) }
    }

    val rows = graft.Tables.documents(spark, dir)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val input = MemoryStream[(Long, String, Long)]
    val q = StreamOps.repetitionGate(
        input.toDF.toDF("doc_id", "text", "n_chars"), "text", "n_chars")
      .select(col("doc_id") +: names.map(col): _*)
      .writeStream.format("memory").queryName("rep_out")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("rep_out").collect()
      .map(r => r.getLong(0) -> (1 to 9).map(r.getDouble).toSeq).toMap
    assert(streamed.keySet == expectedKept.keySet,
      "stream must keep exactly the batch's within-limits set")
    assert(expectedKept.nonEmpty, "some fixture docs must survive")
    streamed.foreach { case (id, fr) =>
      assert(fr == batch(id), s"doc $id fractions diverge")
    }
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
    // an unknown threshold key must fail loudly, not silently no-op
    val e = intercept[IllegalArgumentException] {
      StreamOps.repetitionGate(
        spark.range(1).toDF("doc_id")
          .withColumn("text", lit("a")).withColumn("n_chars", lit(1L)),
        "text", "n_chars", Map("nonsense" -> 0.5))
    }
    assert(e.getMessage.contains("repetition signals"))
  }

  test("streaming calibrated gate: per-source rank tables score a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text")
    val sigs = docs.select(col("doc_id"), col("source"),
      floor(graft.operators.TextAnalysis.qualityScore(col("text"))
        * lit(1000000.0)).cast("long").as("q_fx"))
    val tables = graft.functions.RankLookup.trainPerGroup(sigs, "source", "q_fx")
    assert(tables.size > 1, "fixture corpus must have several sources")
    // batch side: the declared query's own ranks
    val batchRank = graft.queries.QualityQueries.qualityCalibrated(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("q_rank"))
      .toMap

    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.calibratedGate(
        input.toDF.toDF("doc_id", "source", "text"),
        "text", "source", tables, minRank = 0.5)
      .select("doc_id", "q_rank")
      .writeStream.format("memory").queryName("calib_out")
      .outputMode("append").start()
    input.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable(); q.stop()
    val streamRank = spark.table("calib_out")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expectedKept = batchRank.filter(_._2 >= 0.5)
    assert(streamRank.keySet == expectedKept.keySet,
      "stream must keep exactly the batch's q_rank >= 0.5 set")
    assert(expectedKept.nonEmpty && expectedKept.size < rows.length,
      "the gate must visibly split the corpus")
    streamRank.foreach { case (id, r) =>
      assert(r == batchRank(id), s"doc $id: stream $r != batch ${batchRank(id)}")
    }
    // an unknown source must drop, not throw or rank against another profile
    val input2 = MemoryStream[(Long, String, String)]
    val q2 = StreamOps.calibratedGate(
        input2.toDF.toDF("doc_id", "source", "text"),
        "text", "source", tables, minRank = 0.0)
      .writeStream.format("memory").queryName("calib_unknown")
      .outputMode("append").start()
    input2.addData((999L, "never-seen-source", "some text here"))
    q2.processAllAvailable(); q2.stop()
    assert(spark.table("calib_unknown").isEmpty,
      "unknown sources must be rejected")
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming NB gate: batch-trained classifier predicts a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // train slice doc_id < 30, holdout streams in; two visibly distinct
    // vocabularies so the classifier has signal
    val docsSeq = (1L to 50L).map { i =>
      val lang = if (i % 2 == 0) "en" else "fr"
      val text =
        if (lang == "en") "the quick brown fox " + ("dog " * (i % 3).toInt).trim
        else "le renard brun rapide " + ("chien " * (i % 4).toInt).trim
      (i, lang, text)
    }
    val batch = docsSeq.toDF("doc_id", "lang", "text")
    val isTrain = col("doc_id") < 30
    val model = graft.functions.NbPredict.train(batch, "text", "doc_id",
      "lang", isTrain, buckets = 256)
    // batch operator's holdout predictions — the parity target
    val batchPred = graft.operators.TextAnalysis.nbClassify(
        batch, "text", "doc_id", "lang", isTrain, buckets = 256)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getDouble(4)))
      .toMap
    val holdout = docsSeq.filter(_._1 >= 30)

    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.nbGate(input.toDF.toDF("doc_id", "lang", "text"),
        "text", model, keep = Set("en"))
      .select("doc_id", "nb_label", "nb_score")
      .writeStream.format("memory").queryName("nb_out")
      .outputMode("append").start()
    input.addData(holdout.take(10): _*)
    q.processAllAvailable()
    input.addData(holdout.drop(10): _*)
    q.processAllAvailable(); q.stop()
    val streamRows = spark.table("nb_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // the kept set is exactly the batch's predicted-"en" holdout docs
    val batchEn = batchPred.collect { case (id, ("en", _)) => id }.toSet
    assert(streamRows.map(_._1).toSet == batchEn,
      "stream must keep exactly the docs the batch operator labels en")
    assert(batchEn.nonEmpty && batchEn.size < holdout.size,
      "the gate must visibly split the holdout")
    // labels AND scores are the batch operator's, bit for bit
    streamRows.foreach { case (id, label, score) =>
      val (bLabel, bScore) = batchPred(id)
      assert(label == bLabel && score == bScore,
        s"doc $id: stream ($label, $score) != batch ($bLabel, $bScore)")
    }
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
  }

  test("streaming perplexity buckets: batch-derived thresholds bucket a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two languages with visibly different fluency mixes, plus one doc in
    // a language the batch profile never saw
    val docsSeq = (1L to 40L).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      val text =
        if (i % 5 == 0) s"zx$i qq$i vv$i kk$i jj$i" // token soup → tail-ish
        else "the quick brown fox jumps over the lazy dog " + (i % 3)
      (i, lang, text)
    } :+ ((41L, "xx", "the quick brown fox jumps over the lazy dog"))
    val batch = docsSeq.toDF("doc_id", "lang", "text")

    // the batch profile: an UNPRUNED model (scores are lmScore-exact) and
    // per-language quartiles of the batch scores — QualityQueries.perplexityBuckets'
    // threshold recipe, excluding the unknown language
    val model = graft.functions.BigramLmScore.train(batch, "text", topK = 1 << 20)
    val scored = batch.withColumn("lm_score",
      graft.functions.BigramLmScore.score(col("text"), model))
    val thresholds = scored.filter(col("lang") =!= "xx").groupBy("lang").agg(
        percentile(col("lm_score"), lit(0.25)).as("q25"),
        percentile(col("lm_score"), lit(0.75)).as("q75"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    val keyOf = (r: org.apache.spark.sql.Row) => r.getLong(0) -> r.getString(1)
    val batchBuckets = StreamOps.lmBucket(batch, "text", "lang", model, thresholds)
      .select(col("doc_id"), col("bucket")).collect().map(keyOf).toMap

    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.lmBucket(input.toDF.toDF("doc_id", "lang", "text"),
        "text", "lang", model, thresholds)
      .select("doc_id", "bucket")
      .writeStream.format("memory").queryName("ppl_out")
      .outputMode("append").start()
    input.addData(docsSeq.take(20): _*)
    q.processAllAvailable()
    input.addData(docsSeq.drop(20): _*)
    q.processAllAvailable(); q.stop()
    val streamBuckets = spark.table("ppl_out").collect().map(keyOf).toMap

    assert(streamBuckets == batchBuckets,
      "stream must bucket exactly like the batch assignment")
    assert(batchBuckets.values.toSet == Set("head", "middle", "tail"),
      s"the corpus must populate all three buckets: ${batchBuckets.values.toSet}")
    // off-profile language routes conservatively to tail
    assert(streamBuckets(41L) == "tail", "unknown language must fall to tail")
    // the gate is stateless: nothing to replay, append-mode-safe
    assert(q.lastProgress.stateOperators.isEmpty, "bucketing must be stateless")
  }

  test("compactIngestIndex: batch partitions collapse to one; dedup behavior unchanged") {
    import spark.implicits._
    val src = Files.createTempDirectory("compact_src").resolve("index").toString
    val dst = Files.createTempDirectory("compact_dst").resolve("index").toString
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val b2 = Seq((4L, "six seven eight nine ten")).toDF("doc_id", "text")
    StreamOps.simhashIngestBatch(b1, 0L, "text", "doc_id", src, 3, 60, 4)
    StreamOps.simhashIngestBatch(b2, 1L, "text", "doc_id", src, 3, 60, 4)
    val n = StreamOps.compactIngestIndex(spark, src, dst)
    assert(n == 3, "compaction must conserve rows")
    val dirs = new java.io.File(dst).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName)
    assert(dirs.toSeq == Seq("batch_id=-1"), s"one compacted partition: ${dirs.toSeq}")
    // the compacted index serves the NEXT batch exactly like the original
    val b3 = Seq((5L, "alpha beta gamma delta epsilon"), // dup of indexed 1
      (6L, "fresh new document body here")).toDF("doc_id", "text")
    StreamOps.simhashIngestBatch(b3, 2L, "text", "doc_id", dst, 3, 60, 4)
    val docs = spark.read.parquet(dst).select("doc")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(docs == Seq(1L, 2L, 4L, 6L), s"post-compaction ingest: $docs")
    // compacting a husk refuses instead of writing an empty 'complete' index
    val husk = Files.createTempDirectory("compact_husk").resolve("index").toString
    Files.createDirectories(java.nio.file.Paths.get(husk, "_temporary"))
    assertThrows[IllegalArgumentException] {
      StreamOps.compactIngestIndex(spark, husk, dst + "2")
    }
  }

  test("noveltyGate: corpus-bloom admission filter, stream equals batch, exact counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "a b c d e"),
      (2L, "f g h i j")).toDF("doc_id", "text")
    // tiny fpp: on this gram count the bitset is collision-free, so the
    // measured novelty is EXACT and the assertions are deterministic
    val bloom = graft.operators.Dedup.benchmarkBloom(
      corpus, "text", "doc_id", n = 3, fpp = 1e-4)

    val streamDocs = Seq(
      (10L, "a b c d"),     // grams {abc,bcd} both indexed → novelty 0
      (11L, "a b c x y"),   // {abc seen, bcx, cxy novel} → 2/3
      (12L, "z z z z"),     // one distinct gram, novel → 1.0
      (13L, "ti ny"))       // < 3 tokens: no grams → novelty 0, drops
    val input = MemoryStream[(Long, String)]
    val gated = StreamOps.noveltyGate(
      input.toDF.toDF("doc_id", "text"), "text", bloom, n = 3, minNovelty = 0.5)
    val q = gated.select("doc_id", "n_grams", "n_novel", "novelty")
      .writeStream.format("memory").queryName("novelty_gate_out")
      .outputMode("append").start()
    input.addData(streamDocs: _*)
    q.processAllAvailable(); q.stop()

    val kept = spark.table("novelty_gate_out").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(kept.keySet == Set(11L, 12L), s"kept: $kept")
    assert(kept(11L) == ((3L, 2L, 2.0 / 3.0)))
    assert(kept(12L) == ((1L, 1L, 1.0)))
    assert(q.lastProgress.stateOperators.isEmpty, "stateless narrow gate")

    // batch parity: the same expression on the same rows keeps the same set
    val batchKept = StreamOps.noveltyGate(
        streamDocs.toDF("doc_id", "text"), "text", bloom, n = 3, minNovelty = 0.5)
      .select("doc_id", "n_grams", "n_novel", "novelty").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(batchKept == kept, "stream kept set == batch kept set, value-exact")
  }

  test("spanDupGate: an empty dup-span set (clean corpus) gates everything through") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a clean corpus NORMALLY yields zero duplicated spans — the batch→
    // stream composition must pass every document, not throw
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
    val gated = StreamOps.spanDupGate(docs, "text", Seq.empty,
      n = 5, maxDupFrac = 0.5)
    val q = gated.select("doc_id", "n_dup_spans", "dup_frac")
      .writeStream.format("memory").queryName("span_gate_empty")
      .outputMode("append").start()
    input.addData(
      (10L, "one two three four five six seven"),
      (11L, "tiny"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("span_gate_empty")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSet == Set(10L, 11L), s"all kept: ${rows.toSeq}")
    assert(rows.forall(r => r._2 == 0L && r._3 == 0.0), "zero dup counts")
  }

  test("embeddingIngestBatch: replaying a batchId leaves the int8 index unchanged") {
    import spark.implicits._
    def mix(z0: Long): Float = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      ((z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0).toFloat
    }
    def base(seed: Long) = Seq.tabulate(32)(d => mix(seed * 131 + d))
    def nearDup(v: Seq[Float], seed: Long) =
      v.zipWithIndex.map { case (x, d) => x + 0.01f * mix(seed * 977 + d) }
    val idx = Files.createTempDirectory("replay_emb").resolve("index").toString
    val a = base(21); val b = base(22)
    def ingest(rows: Seq[(Long, Seq[Float])], id: Long): Unit =
      StreamOps.embeddingIngestBatch(rows.toDF("vec_id", "embedding"), id,
        "vec_id", "embedding", idx, threshold = 0.95, planes = 4, tables = 16)
    ingest(Seq(1L -> a, 2L -> b), 0L)
    val batch1 = Seq(3L -> nearDup(a, 5), 4L -> base(23)) // 3 dups indexed 1
    ingest(batch1, 1L)
    def ids() = spark.read.parquet(idx).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() == Seq(1L, 2L, 4L))
    ingest(batch1, 1L) // replay
    assert(ids() == Seq(1L, 2L, 4L), "replay must be idempotent")
    assert(spark.read.parquet(idx).count() == 3, "no duplicate index rows")
  }

  test("embeddingIngestBatch: migrates a pre-batch_id (append-mode) index") {
    import spark.implicits._
    def mix(z0: Long): Float = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      ((z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0).toFloat
    }
    def base(seed: Long) = Seq.tabulate(32)(d => mix(seed * 131 + d))
    def nearDup(v: Seq[Float], seed: Long) =
      v.zipWithIndex.map { case (x, d) => x + 0.01f * mix(seed * 977 + d) }
    def ingest(rows: Seq[(Long, Seq[Float])], id: Long, idx: String): Unit =
      StreamOps.embeddingIngestBatch(rows.toDF("vec_id", "embedding"), id,
        "vec_id", "embedding", idx, threshold = 0.95, planes = 4, tables = 16)
    val a = base(31); val b = base(32)
    // build a modern index, then strip it back to the legacy append-mode
    // layout (same columns, no batch_id partition directories)
    val tmp = Files.createTempDirectory("legacy_emb_src").resolve("index").toString
    ingest(Seq(1L -> a, 2L -> b), 0L, tmp)
    val idx = Files.createTempDirectory("legacy_emb").resolve("index").toString
    spark.read.parquet(tmp).select("id", "scale", "bin", "buckets")
      .write.parquet(idx)
    ingest(Seq(3L -> nearDup(a, 7), 4L -> base(33)), 0L, idx) // 3 dups legacy 1
    val rows = spark.read.parquet(idx)
    assert(rows.columns.contains("batch_id"),
      "legacy rows must land in the partitioned layout")
    assert(rows.select("id").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 2L, 4L),
      "the batch must dedup against the legacy rows, then append survivors")
  }

  test("embeddingIngest: split-stream replay equals the single-batch ingest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def mix(z0: Long): Float = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      ((z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0).toFloat
    }
    def base(seed: Long) = Seq.tabulate(32)(d => mix(seed * 131 + d))
    def nearDup(v: Seq[Float], seed: Long) =
      v.zipWithIndex.map { case (x, d) => x + 0.01f * mix(seed * 977 + d) }
    // 6 vectors, near-dups planted across the future batch boundary
    val vs: Seq[(Long, Seq[Float])] = Seq(
      1L -> base(11), 2L -> base(12), 3L -> nearDup(base(11), 5),
      4L -> base(13), 5L -> nearDup(base(12), 6), 6L -> nearDup(base(13), 8))

    def ingest(batches: Seq[Seq[(Long, Seq[Float])]]): Seq[Long] = {
      val idx = Files.createTempDirectory("emb_eq").resolve("index").toString
      val in = MemoryStream[(Long, Seq[Float])]
      val q = StreamOps.embeddingIngest(in.toDF.toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx, threshold = 0.95).start()
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.read.parquet(idx).select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
    val oneBatch = ingest(Seq(vs))
    val twoBatches = ingest(Seq(vs.take(3), vs.drop(3)))
    assert(oneBatch == Seq(1L, 2L, 4L), s"single batch kept $oneBatch")
    assert(twoBatches == oneBatch,
      s"replay must equal the batch dedup: $twoBatches vs $oneBatch")
  }

  test("inactivity-gap sessionization via flatMapGroupsWithState custom state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // timestamps sit well above epoch 0: the initial watermark IS epoch 0
    // and stateful ops drop events at-or-before it as late
    def ts(sec: Long) = new java.sql.Timestamp((1000 + sec) * 1000L)

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF.toDF("user", "ts")
    val q = StreamOps.sessionize(events, "ts", "user", gapMs = 30000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()

    // one session forming per user
    input.addData((1L, ts(0)), (1L, ts(10)), (2L, ts(5)))
    q.processAllAvailable()
    // ten minutes later: watermark passes user 1's gap horizon (session
    // closes by timeout); user 2's silence closes its first session inline
    // and opens a second
    input.addData((2L, ts(600)))
    q.processAllAvailable()
    // advance the watermark again so user 2's second session times out too
    input.addData((3L, ts(1200)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sess_out").orderBy("key", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000 - 1000,
        r.getTimestamp(2).getTime / 1000 - 1000, r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, 0L, 10L, 2L),    // two events chained, closed by timeout
      (2L, 5L, 5L, 1L),     // closed inline by the long silence
      (2L, 600L, 600L, 1L)) // closed by the second watermark advance
    ) // user 3's session is still open — correctly unemitted
  }

  test("streaming curation gate: the composed per-document stages filter a stream to batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val P = graft.queries.QualityQueries
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    // the SAME model artifacts the batch pipeline uses: its persisted
    // shared BPE model and its lexicon
    val model = graft.queries.SharedArtifacts.sharedBpeModel(spark, dir)
    val lex = new graft.functions.LexiconAutomaton(P.CurationLex)
    val rows = docs.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def gate(d: org.apache.spark.sql.DataFrame) =
      StreamOps.curationGate(d, "text", lex, P.CurationMinEntropy,
        P.SelfDedupW, model)
    val batchDf = gate(rows.toSeq.toDF("doc_id", "lang", "text"))
    val batchKept = batchDf
      .select("doc_id", "text_clean", "n_words_clean", "n_bpe").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(batchKept.nonEmpty, "the gate must keep some documents")
    val input = MemoryStream[(Long, String, String)]
    val q = gate(input.toDF.toDF("doc_id", "lang", "text"))
      .select("doc_id", "text_clean", "n_words_clean", "n_bpe")
      .writeStream.format("memory").queryName("curation_out")
      .outputMode("append").start()
    input.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable(); q.stop()
    val streamKept = spark.table("curation_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamKept == batchKept,
      "stream survivors must equal batch survivors doc-for-doc")
    assert(q.lastProgress.stateOperators.isEmpty, "the gate must be stateless")
    // end-to-end contract: gate survivors + the streaming-dedup-shaped
    // keep-first on text_clean's digest reproduce the batch
    // curationPipeline's rows exactly
    val composed = graft.operators.Dedup.keepFirst(
        batchDf.withColumn("digest", md5(col("text_clean"))),
        Seq("digest"), Seq(col("doc_id").asc))
      .select("doc_id", "lang", "n_words_clean", "n_bpe").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val pipeline = P.curationPipeline(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(composed == pipeline,
      "gate + keep-first must reproduce the batch curation pipeline")
  }
}
