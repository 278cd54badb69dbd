package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Materialize
import graft.rules.Model.RuleFile
import graft.rules.Engine

/** One closed activity session per key: events within the gap of each
  * other chain into a session; a longer silence closes it. Top-level so
  * the Product encoders codegen cleanly. */
case class Session(key: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long)

/** flatMapGroupsWithState per-key state: the open session's bounds. */
case class SessionState(startMs: Long, lastMs: Long, n: Long)

/** Structured Streaming surface (SURVEY §2.9). The reference's streaming is
  * record-at-a-time NDJSON with `finalize` forbidden (transform.rs:168-173);
  * here the SAME compiled rule plan runs on a streaming DataFrame —
  * readStream → rule transforms → writeStream — plus the event-time
  * extensions (watermarked tumbling windows, streaming dedup) a scale
  * pipeline needs. Batch and streaming share one plan definition.
  */
object StreamOps {

  /** Session conf that moves streaming keyed state into RocksDB with
    * changelog checkpointing — the production backend for the ingest
    * path: the default HDFSBackedStateStore keeps every state key
    * ON-HEAP per executor, which caps [[streamingNearDedup]] /
    * [[sessionize]] at toy state sizes and invites GC stalls at 100 TB
    * watermark horizons. RocksDB spills to local disk (state size
    * bounded by disk, not heap) and changelog checkpointing uploads
    * per-batch deltas instead of full snapshots. Must be set BEFORE the
    * query starts (provider is fixed at query start). */
  val rocksDbStateConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Apply [[rocksDbStateConf]] to a session (runtime conf — applies to
    * queries started afterwards). */
  def useRocksDbState(spark: org.apache.spark.sql.SparkSession): Unit =
    rocksDbStateConf.foreach { case (k, v) => spark.conf.set(k, v) }

  /** Apply a rule to a streaming DataFrame. Enforces the reference's
    * restriction: finalize (a global sort/limit) is meaningless on an
    * unbounded stream and is rejected, exactly like the reference's NDJSON
    * mode. */
  def ruleStream(rule: RuleFile, stream: DataFrame): DataFrame = {
    require(rule.finalizeSpec.isEmpty,
      "finalize is not supported in stream mode (matches reference NDJSON mode)")
    Engine.transform(rule, stream)
  }

  /** [[ruleStream]] with the reference streaming mode's per-item warnings
    * (transform_stream yields (output, warnings) per record): output
    * columns plus `_kept` and `_warnings`, rows emitted when kept or
    * warned — the side channel as a column, the only shape an unbounded
    * sink can carry. */
  def ruleStreamWithWarnings(rule: RuleFile, stream: DataFrame): DataFrame = {
    require(rule.finalizeSpec.isEmpty,
      "finalize is not supported in stream mode (matches reference NDJSON mode)")
    Engine.transformWithWarningsColumn(rule, stream)
  }

  /** Watermarked tumbling-window aggregation over an event-time column:
    * the scalable form of "group by time bucket". Late data beyond the
    * watermark is dropped; state is bounded. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("total_value"))

  /** Streaming near-dedup for a document stream: the SimHash signature
    * (native one-pass expression) keys the built-in streaming dedup, so
    * bag-of-words-identical / near-identical documents collapse to their
    * first arrival within the watermark horizon. A narrow projection plus
    * Spark's keyed dedup state. dropDuplicatesWithinWatermark is the
    * state-bounded form: plain dropDuplicates on a non-event-time key
    * would keep one state entry per distinct signature FOREVER on an
    * unbounded stream; the within-watermark variant expires entries once
    * the watermark passes them. The batch MinHash/LSH family stays the
    * high-recall path; this is the cheap in-flight ingest filter. */
  def streamingNearDedup(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String): DataFrame =
    docs
      .withColumn("simhash", graft.functions.Md5SimHash.simhash(col(textCol), 60))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("simhash")

  /** Streaming ingest gate: per-document quality metrics (narrow, codegen)
    * + threshold filter — the first stage of a streaming training-data
    * pipeline. Composes with [[streamingNearDedup]] and [[ruleStream]]. */
  def qualityGate(docs: DataFrame, textCol: String, minQuality: Double,
      lang: Option[String] = None): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val enriched = docs
      .withColumn("quality", TA.qualityScore(col(textCol)))
      .withColumn("lang_guess", TA.langId(col(textCol)))
      .withColumn("n_tokens", TA.tokenCount(col(textCol)))
    val gated = enriched.filter(col("quality") >= minQuality)
    lang.fold(gated)(l => gated.filter(col("lang_guess") === l))
  }

  /** Streaming repetition gate: drop documents whose Gopher repetition
    * signals (top-bigram / duplicated-trigram character fractions,
    * computed IN-ROW by the native [[graft.functions.GramStats]]) exceed
    * the thresholds. A narrow stateless filter — composes with
    * [[qualityGate]] and [[streamingNearDedup]] in one ingest pipeline. */
  def repetitionGate(docs: DataFrame, textCol: String,
      maxTopBigramFrac: Double, maxDupTrigramFrac: Double): DataFrame = {
    import graft.functions.GramStats.gramStats
    val chars = length(col(textCol)).cast("double")
    val s2 = gramStats(col(textCol), 2)
    val s3 = gramStats(col(textCol), 3)
    docs
      .withColumn("top_bigram_frac",
        when(chars === 0 || s2.getField("top_cnt") === 0, lit(0.0))
          .otherwise((s2.getField("top_cnt") * length(s2.getField("top_gram")))
            .cast("double") / chars))
      .withColumn("dup_trigram_frac",
        when(chars === 0, lit(0.0))
          .otherwise(s3.getField("dup_chars").cast("double") / chars))
      .filter(col("top_bigram_frac") <= maxTopBigramFrac &&
        col("dup_trigram_frac") <= maxDupTrigramFrac)
  }

  /** Streaming boilerplate gate — the stream side of
    * [[graft.operators.TextAnalysis.boilerplateStats]]: drop documents
    * whose distinct n-gram set overlaps a batch-built boilerplate gram
    * set above `maxBoilerFrac`. The set (grams in ≥ minDf docs, from
    * [[graft.operators.TextAnalysis.boilerplateGrams]]) is baked into the
    * plan; the membership test inside the array `filter` compiles to an
    * In/InSet — one hash probe per gram against a set built once, not a
    * per-row set rebuild. Stateless narrow filter: no shuffle, no
    * streaming state, composes in append mode with [[qualityGate]] /
    * [[repetitionGate]] / [[streamingNearDedup]]. The set is small by
    * construction (corpus-frequent grams); a set too large to bake as
    * literals would instead stream-static broadcast-join. Emits
    * `n_grams` / `n_boiler` / `boiler_frac` alongside the kept rows. */
  def boilerplateGate(docs: DataFrame, textCol: String,
      boilerGrams: Seq[String], n: Int, maxBoilerFrac: Double): DataFrame = {
    require(boilerGrams.nonEmpty, "empty boilerplate set: nothing to gate")
    val grams = graft.functions.ShingleText.shingleText(col(textCol), n, distinct = true)
    val hits = size(filter(grams, g => g.isInCollection(boilerGrams)))
    docs
      .withColumn("n_grams", size(grams).cast("long"))
      .withColumn("n_boiler", hits.cast("long"))
      .withColumn("boiler_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_boiler").cast("double") / col("n_grams")))
      .filter(col("boiler_frac") <= maxBoilerFrac)
  }

  /** Streaming duplicated-span gate — the stream side of
    * [[graft.operators.Dedup.spanDupStats]]: drop documents whose
    * fraction of `n`-token span instances matching a batch-built
    * duplicated-span hash set ([[graft.operators.Dedup.dupSpanHashes]])
    * exceeds `maxDupFrac`. The 8-byte hashes bake into the plan as an
    * InSet probe per span — stateless narrow filter, no shuffle, no
    * streaming state, append-mode-safe like [[boilerplateGate]]. Emits
    * `n_spans` / `n_dup_spans` / `dup_frac` alongside the kept rows;
    * sub-`n`-token docs have no spans and always pass (dup_frac 0).
    * An EMPTY dup-hash set is the normal [[graft.operators.Dedup.dupSpanHashes]]
    * result on a clean corpus (unlike the benchmark/boilerplate sets,
    * which are non-empty by construction), so it gates every document
    * through with zero counts instead of rejecting the composition. */
  def spanDupGate(docs: DataFrame, textCol: String, dupHashes: Seq[Long],
      n: Int, maxDupFrac: Double): DataFrame = {
    val hashes = transform(
      graft.functions.ShingleText.shingleText(col(textCol), n),
      s => xxhash64(s))
    // isInCollection on an empty seq is malformed — short-circuit to 0 hits
    val hits =
      if (dupHashes.isEmpty) lit(0)
      else size(filter(hashes, h => h.isInCollection(dupHashes)))
    docs
      .withColumn("n_spans", size(hashes).cast("long"))
      .withColumn("n_dup_spans", hits.cast("long"))
      .withColumn("dup_frac",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_dup_spans").cast("double") / col("n_spans")))
      .filter(col("dup_frac") <= maxDupFrac)
  }

  /** Streaming benchmark decontamination — the stream side of
    * [[graft.operators.Dedup.contaminatedDocs]]: drop documents sharing
    * any n-gram with the benchmark set. The benchmark's distinct shingle
    * hashes (8-byte longs, tiny by construction — a few hundred eval
    * documents) bake into the plan as an InSet probe per gram; stateless,
    * shuffle-free, append-mode-safe like [[boilerplateGate]]. */
  def decontaminationGate(docs: DataFrame, textCol: String,
      benchHashes: Seq[Long], n: Int): DataFrame = {
    require(benchHashes.nonEmpty, "empty benchmark set: nothing to gate")
    val hits = size(filter(
      graft.functions.ShingleHashes.shingleHashes(col(textCol), n),
      h => h.isInCollection(benchHashes)))
    docs.withColumn("__hits", hits)
      .filter(col("__hits") === 0)
      .drop("__hits")
  }

  /** [[decontaminationGate]] for benchmark suites too large to bake as
    * InSet literals: the per-gram probe tests the compact Bloom bitset
    * built batch-side by [[graft.operators.Dedup.benchmarkBloom]] — a
    * few cache-resident MB at any benchmark size, carried in the plan
    * like the InSet sets. Still a stateless, shuffle-free narrow filter.
    * Semantics are CONSERVATIVE: a contaminated document is ALWAYS
    * dropped (Bloom filters have no false negatives), and ~fpp of the
    * clean documents whose grams collide with the bitset drop too — the
    * right trade for a hygiene gate, where a lost clean document is
    * cheap and a leaked benchmark document is not. Batch and stream
    * evaluate the identical expression, so the stream's kept set equals
    * the batch filter's kept set row for row. */
  def bloomDecontaminationGate(docs: DataFrame, textCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter, n: Int): DataFrame = {
    val hits = size(filter(
      graft.functions.ShingleHashes.shingleHashes(col(textCol), n),
      h => graft.functions.BloomMightContain.mightContain(h, bloom)))
    docs.withColumn("__hits", hits)
      .filter(col("__hits") === 0)
      .drop("__hits")
  }

  /** Streaming n-gram novelty gate — the ingest deployment of
    * [[graft.operators.TextAnalysis.gramNovelty]]: admit a document
    * only when at least `minNovelty` of its DISTINCT n-grams are NOT
    * already in the indexed corpus, "the corpus" being the compact
    * Bloom bitset built batch-side over its gram hashes
    * ([[graft.operators.Dedup.benchmarkBloom]] pointed at the corpus —
    * a few cache-resident MB at any corpus size, carried in the plan
    * like the other gates' sets). Per row: one native shingle-hash
    * pass, an in-row distinct, one bitset probe per gram — stateless,
    * shuffle-free, append-mode-safe. Semantics are CONSERVATIVE toward
    * rejection: a Bloom false positive makes a genuinely new gram read
    * as seen, so measured novelty UNDER-estimates by ~fpp and a
    * borderline document may drop — the right trade for an admission
    * gate (an admitted duplicate costs training mass; a lost borderline
    * doc is cheap). Documents with fewer than n tokens carry no grams
    * and drop at any positive threshold (novelty 0 — nothing new by
    * construction). Emits `n_grams` / `n_novel` / `novelty` alongside
    * the kept rows; batch and stream evaluate the identical expression,
    * so the stream's kept set equals the batch filter's row for row. */
  def noveltyGate(docs: DataFrame, textCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      n: Int, minNovelty: Double): DataFrame = {
    // ShingleHashes dedupes in its own single native pass — no
    // array_distinct wrapper needed
    val grams = graft.functions.ShingleHashes.shingleHashes(col(textCol), n)
    val novel = size(filter(grams,
      h => !graft.functions.BloomMightContain.mightContain(h, bloom)))
    docs
      .withColumn("n_grams", size(grams).cast("long"))
      .withColumn("n_novel", novel.cast("long"))
      .withColumn("novelty",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_novel").cast("double") / col("n_grams")))
      .filter(col("novelty") >= minNovelty)
  }

  /** Streaming LM-quality gate — the CCNet-family perplexity filter as
    * an ingest stage: score each document's bigrams against a
    * batch-trained [[graft.functions.BigramLmModel]]
    * ([[graft.functions.BigramLmScore.train]] — pruned counts + unseen
    * 1/V backoff, carried in the plan like the InSet/Bloom gates) and
    * drop documents below `minScore` (token soup and off-distribution
    * gibberish score near the 1/V floor; fluent in-distribution text
    * scores an order of magnitude above it). One native
    * tokenize-hash-lookup pass per row inside whole-stage codegen:
    * stateless, shuffle-free, append-mode-safe. Batch and stream
    * evaluate the identical expression, so the stream's kept set equals
    * the batch filter's row for row. Emits `lm_score`. */
  def lmGate(docs: DataFrame, textCol: String,
      model: graft.functions.BigramLmModel, minScore: Double): DataFrame =
    docs
      .withColumn("lm_score",
        graft.functions.BigramLmScore.score(col(textCol), model))
      .filter(col("lm_score") >= minScore)

  /** Streaming DSIR gate — the deployment form of
    * [[graft.queries.QualityQueries.dsirSelect]]'s scoring (Xie et al. 2023):
    * each incoming document scores its hashed-bigram log importance
    * weight against the batch-trained [[graft.functions.DsirModel]]
    * (one native tokenize-md5-lookup pass per row, model in the plan)
    * and rows below `minScore` drop. Unseen buckets take the model's
    * add-1 smoothing default — the value the batch formula assigns a
    * zero-count bucket — so off-distribution traffic is scored by the
    * same arithmetic as everything else, never silently 0.
    * Stateless, shuffle-free, append-mode-safe; the model's per-bucket
    * values are Spark-expression-exact, so batch and stream scores are
    * bit-identical (StreamOpsSpec pins it). Emits `dsir_score`. */
  def dsirGate(docs: DataFrame, textCol: String,
      model: graft.functions.DsirModel, minScore: Double): DataFrame =
    docs
      .withColumn("dsir_score",
        graft.functions.DsirScoreFx.score(col(textCol), model))
      .filter(col("dsir_score") >= minScore)

  /** Streaming Gopher rule gate — [[graft.operators.TextAnalysis.gopherRules]]
    * applied to a stream verbatim: the audit table is a pure per-row
    * projection, so the batch operator IS the stream operator; this
    * wrapper just drops rows whose fused `keep` is false while
    * retaining the per-rule audit columns. Stateless, shuffle-free,
    * append-mode-safe; batch and stream flags are identical by
    * construction (StreamOpsSpec pins it anyway). */
  def gopherGate(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    graft.operators.TextAnalysis.gopherRules(docs, textCol, idCol)
      .filter(col("keep"))

  /** Streaming learned-BPE token-budget gate — the deployment form of
    * [[graft.queries.TokenQueries.bpeEncode]]: each incoming document is
    * counted with the batch-trained merge table (one
    * [[graft.functions.BpeEncodeCount]] codegen pass, the model a
    * plan-borne broadcast object — load it with
    * [[graft.operators.TextAnalysis.readBpeModel]] in a deployment) and
    * rows over `maxTokens` drop — the context-window admission filter.
    * Stateless, shuffle-free, append-mode-safe; batch and stream counts
    * are bit-identical (StreamOpsSpec pins it). Emits `n_bpe`. */
  def bpeGate(docs: DataFrame, textCol: String,
      merges: graft.functions.BpeMerges, maxTokens: Long): DataFrame =
    docs.withColumn("n_bpe",
        graft.functions.BpeEncodeCount.count(col(textCol), merges))
      .filter(col("n_bpe") <= maxTokens)

  /** Streaming character-entropy gate — the deployment form of
    * [[graft.queries.QualityQueries.charEntropy]]: per row, one native
    * histogram pass ([[graft.functions.CharEntropyFx]]) derives the
    * Shannon entropy in nats and rows below `minEntropy` drop — the
    * cheap repeated-character/padding/junk filter. Empty documents
    * score 0.0 (dropped by any positive threshold). Stateless,
    * shuffle-free, append-mode-safe; batch and stream decisions are
    * bit-identical (StreamOpsSpec pins it). Emits `entropy`. */
  def entropyGate(docs: DataFrame, textCol: String,
      minEntropy: Double): DataFrame =
    docs.withColumn("entropy",
        graft.queries.QualityQueries.entropyNats(col(textCol)))
      .filter(col("entropy") >= minEntropy)

  /** Streaming embedding-drift gate — the deployment form of
    * [[graft.queries.AnnQueries.pcaOutliers]]: the batch-trained
    * [[graft.operators.Pca.PcaModel]] (2·dims+1 doubles) bakes into the
    * plan, each incoming vector's fixed-point projection onto the
    * corpus's dominant direction is a narrow integer-chain column, and
    * rows beyond `sigmas`·√eigval along that axis drop (a vector far out
    * on the corpus's own biggest axis is a different-model embedding or
    * alien content — catch it BEFORE it enters an index or a training
    * mix). Stateless, shuffle-free, append-mode-safe; batch/stream
    * decisions bit-identical (StreamOpsSpec pins it). Emits `t`.
    * Null-vector / null-element rows are EXCLUDED — the same defined
    * semantics as the batch [[graft.operators.Pca.projections]], made
    * explicit here rather than left to three-valued filter logic. */
  def projectionGate(emb: DataFrame, vecCol: String,
      model: graft.operators.Pca.PcaModel, sigmas: Double): DataFrame = {
    val thr = sigmas * math.sqrt(model.eigval)
    val raw = col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))
    // null screening on the INPUT side (cheap array scan over the first
    // dims elements only — the chain reads nothing past them) — a
    // t.isNotNull predicate would re-inline the whole fixed-point
    // chain into the filter (the Pca.projections lesson)
    emb.filter(raw.isNotNull && !exists(slice(raw, 1, model.dims), _.isNull))
      .withColumn("t", graft.operators.Pca.projection(raw, model))
      .filter(abs(col("t")) <= thr)
  }

  /** Streaming lexicon (badword/topic) gate — the deployment form of
    * [[graft.queries.QualityQueries.lexiconHits]]: one Aho–Corasick pass per
    * incoming document ([[graft.functions.LexiconHits]], the automaton a
    * plan-borne broadcast object) counts total lexicon occurrences and
    * rows over the `maxHits` budget drop (0 = the strict C4 rule: any
    * hit rejects). Stateless, shuffle-free, append-mode-safe; batch and
    * stream decisions are bit-identical (StreamOpsSpec pins it). Emits
    * `lex_hits`. */
  def lexiconGate(docs: DataFrame, textCol: String,
      lexicon: graft.functions.LexiconAutomaton, maxHits: Long): DataFrame =
    docs.withColumn("lex_hits",
        graft.functions.LexiconHits.total(col(textCol), lexicon))
      .filter(col("lex_hits") <= maxHits)

  /** Streaming curation gate — the deployment form of the per-document
    * stages of [[graft.queries.QualityQueries.curationPipeline]], composed as
    * ONE stateless chain: strict lexicon gate (any hit rejects — the C4
    * badword rule, one Aho–Corasick pass) → character-entropy gate
    * (rows below `minEntropy` nats drop) → within-document
    * repeated-chunk scrub (`text_clean`) → learned-BPE accounting of
    * the survivor (`n_words_clean`, `n_bpe`) with the batch-trained
    * merge table (load a deployment's via
    * [[graft.operators.TextAnalysis.readBpeModel]] — the same
    * persisted artifact the batch pipeline reads). All four passes are
    * native codegen expressions, so the whole gate is one narrow
    * projection: stateless, shuffle-free, append-mode-safe, and
    * bit-identical to the batch stages doc-for-doc (StreamOpsSpec pins
    * it). The batch pipeline's one CROSS-document stage — exact dedup
    * keep-first — is deliberately not here: streaming dedup is the
    * stateful [[incrementalIngest]] path, composed downstream of this
    * gate on `text_clean`'s digest. */
  def curationGate(docs: DataFrame, textCol: String,
      lexicon: graft.functions.LexiconAutomaton, minEntropy: Double,
      chunkW: Int, merges: graft.functions.BpeMerges): DataFrame =
    docs
      .filter(graft.functions.LexiconHits.total(col(textCol), lexicon) === 0L)
      .filter(graft.queries.QualityQueries.entropyNats(col(textCol)) >= lit(minEntropy))
      .withColumn("text_clean",
        graft.functions.SelfDedupChunks.dedup(col(textCol), chunkW))
      .withColumn("n_words_clean",
        size(split(col("text_clean"), " ")).cast("long"))
      .withColumn("n_bpe",
        graft.functions.BpeEncodeCount.count(col("text_clean"), merges))

  /** Streaming Naive-Bayes classifier gate — the deployment form of
    * [[graft.queries.QualityQueries.nbClassify]] (the classifier-based
    * data-selection family): each incoming document is argmax-scored
    * against the batch-trained dense [[graft.functions.NbModel]] (one
    * native tokenize-md5-argmax pass per row, the C·B fixed-point model
    * riding in the plan) and rows whose predicted label is outside
    * `keep` drop; an empty `keep` annotates without filtering. The
    * model's cells are Spark-expression-exact and the argmax replicates
    * the batch window's (score DESC, label ASC) tie-break, so batch and
    * stream predictions are identical doc-for-doc (StreamOpsSpec pins
    * it). Stateless, shuffle-free, append-mode-safe. Emits `nb_label`
    * and `nb_score`. */
  def nbGate(docs: DataFrame, textCol: String,
      model: graft.functions.NbModel, keep: Set[String]): DataFrame = {
    val tagged = docs
      .withColumn("nb_label",
        graft.functions.NbPredict.predict(col(textCol), model))
      .withColumn("nb_score",
        graft.functions.NbPredict.score(col(textCol), model))
    if (keep.isEmpty) tagged
    else tagged.filter(col("nb_label").isInCollection(keep))
  }

  /** Streaming quality-ensemble gate — the deployment form of
    * [[graft.queries.QualityQueries.qualityEnsemble]]: each incoming document
    * computes the SAME three integer signals as the batch query (the
    * shared [[graft.queries.QualityQueries.ensembleSignals]] Column trees),
    * ranks each against its batch-trained [[graft.functions.RankTable]]
    * (one native binary search per row, the histogram riding in the
    * plan), fuses ranks in the batch's pinned order, and drops rows
    * below `minEnsemble`. Signal values the batch profile never saw
    * rank between their histogram neighbors — the natural "where would
    * this doc have ranked" reading for drifting traffic. Stateless,
    * shuffle-free, append-mode-safe; batch and stream ensembles are
    * bit-identical on profile data (StreamOpsSpec pins it). Emits
    * `r_tokens` / `r_ttr` / `r_mwl` / `ens`. */
  def ensembleGate(docs: DataFrame, textCol: String, nCharsCol: String,
      tables: Map[String, graft.functions.RankTable],
      minEnsemble: Double): DataFrame = {
    require(Set("s_tokens", "s_ttr", "s_mwl").subsetOf(tables.keySet),
      s"ensembleGate needs rank tables keyed s_tokens, s_ttr, s_mwl " +
        s"(the ensembleSignals names); got ${tables.keySet.mkString(", ")}")
    val sigs = graft.queries.QualityQueries
      .ensembleSignals(col(textCol), col(nCharsCol))
    val ranked = sigs.foldLeft(docs) { case (d, (n, c)) =>
      d.withColumn("r_" + n.stripPrefix("s_"),
        graft.functions.RankLookup.rank(c, tables(n)))
    }
    ranked.withColumn("ens",
        (col("r_tokens") + col("r_ttr") + col("r_mwl")) / lit(3.0))
      .filter(col("ens") >= minEnsemble)
  }

  /** Streaming Gopher repetition gate — the deployment form of
    * [[graft.queries.QualityQueries.repetitionProfile]]: each incoming
    * document computes the SAME nine repetition fractions (the shared
    * [[graft.queries.QualityQueries.repetitionSignals]] Column trees — all
    * doc-local [[graft.functions.GramStats]] natives) and drops when
    * ANY signal exceeds its threshold, the MassiveText §A1.1 rule with
    * the paper's published limits as defaults. Stateless, shuffle-free,
    * append-mode-safe; batch and stream fractions are bit-identical
    * doc-for-doc (StreamOpsSpec pins it). Emits all nine fraction
    * columns for the survivor rows. */
  def repetitionGate(docs: DataFrame, textCol: String, nCharsCol: String,
      maxFracs: Map[String, Double] = RepetitionLimits): DataFrame = {
    val sigs = graft.queries.QualityQueries
      .repetitionSignals(col(textCol), col(nCharsCol))
    val sigNames = sigs.map(_._1).toSet
    require(maxFracs.keySet.subsetOf(sigNames),
      s"repetitionGate thresholds must name repetition signals " +
        s"(${sigNames.mkString(", ")}); got ${maxFracs.keySet.mkString(", ")}")
    val tagged = sigs.foldLeft(docs) { case (d, (n, c)) => d.withColumn(n, c) }
    maxFracs.toSeq.sortBy(_._1).foldLeft(tagged) { case (d, (n, m)) =>
      d.filter(col(n) <= m)
    }
  }

  /** The MassiveText repetition limits (Rae et al. 2021, Table A1):
    * top-n-gram character fractions capped at 0.20/0.18/0.16 for
    * n=2/3/4, duplicated-n-gram fractions at 0.15/0.14/0.13/0.12/0.11/
    * 0.10 for n=5..10. */
  val RepetitionLimits: Map[String, Double] = Map(
    "top_2gram_frac" -> 0.20, "top_3gram_frac" -> 0.18,
    "top_4gram_frac" -> 0.16,
    "dup_5gram_frac" -> 0.15, "dup_6gram_frac" -> 0.14,
    "dup_7gram_frac" -> 0.13, "dup_8gram_frac" -> 0.12,
    "dup_9gram_frac" -> 0.11, "dup_10gram_frac" -> 0.10)

  /** Streaming per-source calibrated-quality gate — the deployment form
    * of [[graft.queries.QualityQueries.qualityCalibrated]]: each incoming
    * document quantizes its quality score to the batch's 1e-6 fixed
    * point and ranks it against ITS SOURCE's batch-trained
    * [[graft.functions.RankTable]] ([[graft.functions.RankLookup
    * .trainPerGroup]] — the per-source histograms as one plan-borne
    * artifact map, dispatched by a sources-sized CASE chain, the
    * [[lmBucket]] pattern), so one `minRank` threshold means the same
    * thing in every source — the cross-source-fair admission rule the
    * raw score cannot give. Sources absent from the batch profile rank
    * NULL and DROP — the conservative routing for unknown provenance.
    * Off-profile VALUES from a known source rank between their
    * histogram neighbors (the ensembleGate reading). Stateless,
    * shuffle-free, append-mode-safe; batch and stream ranks are
    * bit-identical on profile data (StreamOpsSpec pins it). Emits
    * `q_rank`. */
  def calibratedGate(docs: DataFrame, textCol: String, sourceCol: String,
      tables: Map[String, graft.functions.RankTable],
      minRank: Double): DataFrame = {
    require(tables.nonEmpty, "calibratedGate needs at least one source profile")
    val qfx = floor(graft.operators.TextAnalysis.qualityScore(col(textCol))
      * lit(1000000.0)).cast("long")
    val rank = tables.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("double")) { case (acc, (s, t)) =>
        when(col(sourceCol) === s,
          graft.functions.RankLookup.rank(qfx, t)).otherwise(acc)
      }
    docs.withColumn("q_rank", rank).filter(col("q_rank") >= minRank)
  }

  /** Streaming CCNet perplexity bucketing — the deployment form of
    * [[graft.queries.QualityQueries.perplexityBuckets]]: score each incoming
    * document with the batch-trained pruned model (the [[lmGate]] native
    * probe) and assign head/middle/tail against PER-LANGUAGE thresholds
    * computed once from the batch profile ((lang → (q25, q75)) — a
    * languages-sized map carried in the plan as a CASE literal, the
    * mixture-gate pattern). Unknown languages fall to `tail` — the
    * conservative routing for off-profile traffic. Stateless,
    * shuffle-free, append-mode-safe; batch and stream assign
    * identically. */
  def lmBucket(docs: DataFrame, textCol: String, langCol: String,
      model: graft.functions.BigramLmModel,
      thresholds: Map[String, (Double, Double)]): DataFrame = {
    val scored = docs.withColumn("lm_score",
      graft.functions.BigramLmScore.score(col(textCol), model))
    val q75 = thresholds.toSeq.sortBy(_._1).foldLeft(lit(Double.MaxValue)) {
      case (acc, (l, (_, hi))) => when(col(langCol) === l, lit(hi)).otherwise(acc)
    }
    val q25 = thresholds.toSeq.sortBy(_._1).foldLeft(lit(Double.MaxValue)) {
      case (acc, (l, (lo, _))) => when(col(langCol) === l, lit(lo)).otherwise(acc)
    }
    scored.withColumn("bucket",
      when(col("lm_score") >= q75, lit("head"))
        .when(col("lm_score") >= q25, lit("middle"))
        .otherwise(lit("tail")))
  }

  /** Continuous incremental-ingest dedup: every micro-batch of the
    * document stream is deduped against the PERSISTED MinHash signature
    * index with the same batch operators the daily job uses
    * ([[graft.operators.Dedup.signatureIndex]] /
    * [[graft.operators.Dedup.dedupAgainstIndex]]), and its survivors are
    * appended to the index — the 100 TB ingest loop (tokenize only the
    * delta, never the indexed corpus) run continuously via foreachBatch.
    * First batch against a missing index bootstraps it (within-batch
    * dups still collapse). The caller starts the returned writer with
    * its own checkpoint/trigger. Appends are EXACTLY-ONCE under replay:
    * each batch's survivors land in their own `batch_id=<id>` partition
    * via dynamic partition overwrite, so a batch replayed after a
    * failure overwrites its OWN partition instead of appending duplicate
    * rows — idempotent by construction, no index compaction needed.
    * (Index readers are unaffected: they select the signature columns
    * explicitly, so the extra partition column just prunes away.) */
  def incrementalIngest(docs: DataFrame, textCol: String, idCol: String,
      indexPath: String, n: Int, k: Int, bands: Int, threshold: Double)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, textCol, idCol, indexPath,
          n, k, bands, threshold)
    }

  /** Read an ingest index, migrating a pre-`batch_id` (append-mode) one
    * in place: an index written before the exactly-once layout has its
    * data files at the directory root, and mixing bare files with
    * `batch_id=` partition directories is an unreadable layout — so the
    * legacy files MOVE (per-file renames — metadata operations, no data
    * copy, no rewrite job) into a `batch_id=-1` partition directory and
    * the partitioned layout owns the directory from then on. A crash
    * midway loses nothing: the remaining root files move on the next
    * call, because the probe is "data files at the root", not a flag. */
  /** A committed data file (not a job marker, temp dir, or hidden file) —
    * ONE definition shared by the migration probe and the existence
    * probe, so "has data" and "migrates data" can never disagree. */
  private def isDataFile(st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val name = st.getPath.getName
    st.isFile && !name.startsWith("_") && !name.startsWith(".")
  }

  private def readIndexMigrated(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(indexPath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val rootFiles = fs.listStatus(hPath).filter(isDataFile)
    if (rootFiles.nonEmpty) {
      val legacyDir = new org.apache.hadoop.fs.Path(hPath, "batch_id=-1")
      fs.mkdirs(legacyDir)
      rootFiles.foreach { st =>
        fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(legacyDir, st.getPath.getName))
      }
      // the legacy job marker would sit beside the partition dirs; drop it
      val succ = new org.apache.hadoop.fs.Path(hPath, "_SUCCESS")
      if (fs.exists(succ)) fs.delete(succ, false)
    }
    spark.read.parquet(indexPath)
  }

  /** True when the ingest index at `path` holds COMMITTED data: a
    * `batch_id=` partition directory or a legacy (pre-partitioned-layout)
    * data file at the root. Probed through Hadoop's FileSystem, not
    * java.nio — a production index lives on hdfs:// or s3://, where a
    * local-path check would always report "missing". A directory holding
    * only job debris (`_temporary` left by a first batch that crashed
    * mid-write) reads as MISSING: bare-existence would send every replay
    * into `spark.read.parquet` on a schema-less husk and the stream could
    * never heal — the same husk rule [[graft.operators.Ivf.indexExists]]
    * enforces with its _SUCCESS probe. */
  private def indexHasData(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { st =>
      (st.isDirectory && st.getPath.getName.startsWith("batch_id=")) ||
        isDataFile(st)
    }
  }

  /** One [[incrementalIngest]] micro-batch, exposed so the exactly-once
    * contract is directly testable: calling it twice with the same
    * `batchId` leaves the index identical to one call. */
  def ingestBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, indexPath: String, n: Int, k: Int, bands: Int,
      threshold: Double): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val sig = Dedup.signatureIndex(batch, textCol, idCol, n, k, bands)
    val idxExists = indexHasData(spark, indexPath)
    // a replayed batch must dedup against the index as it was BEFORE its
    // own first attempt — excluding its own partition does exactly that
    val index =
      if (idxExists)
        readIndexMigrated(spark, indexPath).filter(col("batch_id") =!= batchId)
      else sig.filter(lit(false))
    // survivors come back in index shape; pinned before the write so it
    // does not re-read the index it modifies
    val survivors = Materialize.pin(Dedup.dedupAgainstIndex(sig, index, threshold))
    survivors.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(indexPath)
  }

  /** Compact an ingest index into a fresh location: thousands of
    * `batch_id=<i>` micro-batch partitions (each a handful of small
    * files — the debris a long-running ingest loop accumulates, and at
    * 100 TB the point where LISTING the index costs more than scanning
    * it) rewrite as ONE `batch_id=-1` partition of right-sized files at
    * `dstPath`. The write goes to a NEW path on purpose: compact-in-
    * place needs a delete-after-write window in which a crash leaves
    * rows duplicated across the old partitions and the compacted one —
    * unhealable debris — while compact-to-new is atomic by the same
    * husk rules every index reader already enforces (`dst` without a
    * committed write reads as missing; the caller repoints the ingest
    * loop only after this returns). QUIESCE the ingest loop first — a
    * batch that lands in `src` while the rewrite is scanning is absent
    * from `dst`, so either pause the stream for the rewrite or replay
    * the batches committed after the compaction's read began (their
    * `batch_id=` partitions make the gap enumerable). Returns the row
    * count written so the caller can assert conservation before
    * switching. */
  def compactIngestIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String, targetRowsPerFile: Long = 4000000L)
      : Long = {
    require(indexHasData(spark, srcPath), s"no committed index at $srcPath")
    val rows = readIndexMigrated(spark, srcPath).drop("batch_id")
    val n = rows.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    rows.repartition(files)
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite")
      .partitionBy("batch_id")
      .parquet(dstPath)
    n
  }

  /** Continuous SIMHASH-ingest dedup — [[incrementalIngest]] with the
    * 8-bytes-per-document index ([[graft.operators.Dedup.simhashAgg]] /
    * [[graft.operators.Dedup.dedupAgainstSimhashIndex]]): the serving
    * gate for "have we crawled something within Hamming radius r of
    * this before" when the full shingle-set index is too expensive to
    * keep hot. Signature computation is one narrow native pass over the
    * delta; candidate generation is lossless banding (radius < bands);
    * the index never re-tokenizes because 60 bits per doc IS the index.
    * Exactly-once under replay via the same `batch_id=` dynamic
    * partition overwrite as the other ingest loops. */
  def simhashIngest(docs: DataFrame, textCol: String, idCol: String,
      indexPath: String, maxHamming: Int = 3, bits: Int = 60,
      bands: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        simhashIngestBatch(batch.toDF(), batchId, textCol, idCol, indexPath,
          maxHamming, bits, bands)
    }

  /** One [[simhashIngest]] micro-batch (see [[ingestBatch]]): replaying
    * the same `batchId` is idempotent. */
  def simhashIngestBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, indexPath: String, maxHamming: Int, bits: Int,
      bands: Int): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val sig = Dedup.simhashAgg(batch, textCol, idCol, bits)
    val idxExists = indexHasData(spark, indexPath)
    // a replayed batch must dedup against the index as it was BEFORE its
    // own first attempt — excluding its own partition does exactly that
    val index =
      if (idxExists)
        readIndexMigrated(spark, indexPath)
          .filter(col("batch_id") =!= batchId)
          .select("doc", "simhash")
      else sig.filter(lit(false))
    // pinned before the write so it does not re-read the index it modifies
    val survivors = Materialize.pin(Dedup.dedupAgainstSimhashIndex(
        sig, index, maxHamming, bits, bands))
    survivors.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(indexPath)
  }

  /** Continuous embedding-ingest dedup — the ANN twin of
    * [[incrementalIngest]]: every micro-batch of the embedding stream is
    * near-dup-checked against the PERSISTED byte-packed int8 index and
    * its survivors are appended, quantized, to the index. The index rows
    * are (id, scale, bin, buckets): the hyperplane-LSH bucket keys are
    * computed ONCE at append time (from the dequantized round-trip, so a
    * rebuild from the index reproduces them) and stored, which means the
    * per-batch candidate join scans only the (id, buckets) columns —
    * 8·tables bytes per indexed vector under parquet column pruning,
    * never the vector bytes. Only candidate rows are read back in full
    * for the exact-cosine verification against the natively dequantized
    * vector ([[graft.functions.Int8Dequantize]]). A batch vector also
    * drops when an EARLIER vector of the same batch (lower id) is a
    * near-dup, so replaying the full stream equals one batch dedup.
    * [[graft.operators.Quantize.readIndexVectors]] works on this shape
    * too (the extra columns are ignored). Appends are EXACTLY-ONCE under
    * replay, same mechanism as [[incrementalIngest]]: each batch owns a
    * `batch_id=<id>` partition, dynamic partition overwrite makes a
    * replay overwrite its own partition instead of duplicating rows. */
  def embeddingIngest(emb: DataFrame, idCol: String, vecCol: String,
      indexPath: String, threshold: Double, planes: Int = 4,
      tables: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        embeddingIngestBatch(batch.toDF(), batchId, idCol, vecCol, indexPath,
          threshold, planes, tables)
    }

  /** One [[embeddingIngest]] micro-batch (see [[ingestBatch]]): replaying
    * the same `batchId` is idempotent. */
  def embeddingIngestBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, indexPath: String, threshold: Double, planes: Int,
      tables: Int): Unit = {
    import graft.operators.Quantize
    import graft.functions.{Int8Dequantize, VectorOps}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val spark = batch.sparkSession
    val b = batch.select(
      col(idCol).cast(LongType).as("id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("vec"),
      Quantize.int8Scale(col(vecCol)).as("scale"),
      Quantize.int8Bytes(col(vecCol)).as("bin"),
      VectorOps.hyperplaneBuckets(
        Quantize.roundTrip(col(vecCol)), planes, tables).as("buckets"))
    val idxExists = indexHasData(spark, indexPath)
    // a replayed batch must check against the index as it was BEFORE its
    // own first attempt — filtering out its own partition does exactly that
    def index = readIndexMigrated(spark, indexPath).filter(col("batch_id") =!= batchId)
    def bucketRows(df: DataFrame) = df.select(col("id"),
      posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val newBk = bucketRows(b)
    // candidate PAIRS from shared buckets: index ∪ earlier-in-batch.
    // The index side reads ONLY (id, buckets) — column pruning keeps
    // vector bytes out of the scan
    val candIdx =
      if (idxExists)
        newBk.as("x").join(
            bucketRows(index.select("id", "buckets")).as("y"),
            col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket"))
          .select(col("x.id").as("nid"), col("y.id").as("oid"))
      else spark.range(0).select(col("id").as("nid"), col("id").as("oid"))
    val candNew = newBk.as("x").join(newBk.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("y.id") < col("x.id"))
      .select(col("x.id").as("nid"), col("y.id").as("oid"))
    val cand = candIdx.union(candNew).distinct()
    // verify: exact cosine, vectors fetched ONLY for candidate rows —
    // new side from the batch, old side from index ∪ batch dequantized
    val oldVecs =
      (if (idxExists)
         index.select("id", "scale", "bin")
           .union(b.select("id", "scale", "bin"))
       else b.select("id", "scale", "bin"))
        .select(col("id").as("oid"),
          Int8Dequantize.int8Dequantize(col("bin"), col("scale")).as("ov"))
    val dropped = cand
      .join(b.select(col("id").as("nid"), col("vec").as("nv")), Seq("nid"))
      .join(oldVecs, Seq("oid"))
      .filter(VectorOps.cosineSimilarity(col("nv"), col("ov")) >= threshold)
      .select(col("nid").as("id")).distinct()
    // do not re-read the index the write modifies
    Materialize.pin(b.join(dropped, Seq("id"), "left_anti")
        .select("id", "scale", "bin", "buckets"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(indexPath)
  }

  /** Watermarked stream-stream interval join: each left event pairs with
    * right events for the same key whose timestamp lies within
    * [left.ts - before, left.ts + after]. Both sides carry watermarks and
    * the join condition bounds the time range, so Spark can expire state
    * on both sides — the joinable shape for unbounded × unbounded. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, watermark: String, before: String, after: String): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).as("l")
    val r = right.withWatermark(tsCol, watermark).as("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$tsCol") >= col(s"l.$tsCol") - expr(s"INTERVAL $before") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol") + expr(s"INTERVAL $after"))
  }

  /** Custom keyed state via flatMapGroupsWithState (the operation the
    * built-in windows can't express: variable-length inactivity-gap
    * sessions). Event-time timeout closes a session once the watermark
    * passes its gap horizon, so state is bounded and emission is
    * deterministic wrt the watermark; within one trigger, a batch of
    * events for a key is processed in timestamp order. Works identically
    * on batch Datasets (state is per-invocation there). */
  def sessionize(events: DataFrame, tsCol: String, keyCol: String,
      gapMs: Long, watermark: String): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events
      .select(col(keyCol).cast("long").as("key"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark) // after the cast: metadata rides the final attribute
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState[SessionState, Session](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      case (key, rows, state: GroupState[SessionState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Session]
        var cur = state.getOption
        if (state.hasTimedOut) {
          cur.foreach(s => out += Session(key,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n))
          state.remove()
        } else {
          for ((_, ts) <- rows.toSeq.sortBy(_._2.getTime)) {
            val t = ts.getTime
            cur match {
              case Some(s) if t - s.lastMs <= gapMs =>
                cur = Some(s.copy(lastMs = math.max(s.lastMs, t), n = s.n + 1))
              case Some(s) => // silence longer than the gap: close and restart
                out += Session(key,
                  new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.lastMs + gapMs)
          }
        }
        out.iterator
    }
  }
}
