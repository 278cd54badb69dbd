package graft.operators

import graft.Materialize
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines: token
  * statistics, quality scoring, language ID, and document fingerprinting.
  *
  * All operators are pure `Column` combinators over native Spark functions —
  * they compose into any plan, stay inside whole-stage codegen, and shuffle
  * nothing by themselves. On a 100 TB corpus these run as a single narrow
  * map stage over the document scan.
  */
object TextAnalysis {

  /** Whitespace tokenization. The reference engine's `split` (SURVEY §2.7)
    * with a single-space delimiter; split() takes a regex so the literal is
    * quoted. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** Fixed-size token chunking with overlap — the context-window
    * preparation op (RAG passages, long-document training windows):
    * each document becomes chunks of `chunkSize` tokens starting every
    * `chunkSize - overlap` tokens; the final chunk may be shorter, a
    * sub-size document yields exactly one chunk. Pure narrow explode —
    * start offsets come from one `sequence`, each chunk is a `slice` of
    * the one tokenization, no shuffle, no re-scan per chunk. Output
    * columns: the id, `chunk_id` (0-based), `chunk_text`, `n_tokens`. */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      "chunk size must exceed the overlap")
    val step = chunkSize - overlap
    val toks = tokens(col(textCol))
    val sz = size(toks)
    docs
      .select(col(idCol), toks.as("__toks"), sz.as("__sz"))
      .select(col(idCol),
        posexplode(sequence(lit(0), col("__sz") - 1, lit(step)))
          .as(Seq("chunk_id", "__start")),
        col("__toks"), col("__sz"))
      .select(col(idCol), col("chunk_id").cast(LongType).as("chunk_id"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), col("__sz") - col("__start"))
          .cast(LongType).as("n_tokens"))
  }

  /** BPE-ish regex tokenization (GPT-2-style segment classes: letter runs,
    * digit runs, punctuation runs, each absorbing one leading space). The
    * pattern avoids lookaround so Java regex and RE2 (the oracle) agree. */
  val bpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text)).cast(LongType)

  /** Compression proxy: characters per BPE token (0 for empty text). */
  def charsPerToken(text: Column): Column = {
    val n = size(bpeTokens(text))
    when(n === 0, lit(0.0)).otherwise(length(text).cast(DoubleType) / n)
  }

  def charCount(text: Column): Column = length(text).cast(LongType)

  /** Mean token length in characters (0 for empty text). */
  def avgTokenLen(text: Column): Column = {
    val n = size(tokens(text))
    when(n === 0, lit(0.0)).otherwise(
      aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))
        .cast(DoubleType) / n)
  }

  /** A small fixed English stopword list — enough to compute a stable
    * stopword ratio as a quality signal. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = {
    val n = size(tokens(text))
    val hits = size(filter(tokens(text), t => t.isInCollection(stopwords)))
    when(n === 0, lit(0.0)).otherwise(hits.cast(DoubleType) / n)
  }

  /** Fraction of distinct tokens over total tokens — low values indicate
    * repetitive, low-quality text. */
  def distinctTokenRatio(text: Column): Column = {
    val n = size(tokens(text))
    when(n === 0, lit(0.0)).otherwise(
      size(array_distinct(tokens(text))).cast(DoubleType) / n)
  }

  /** Composite quality score in [0,1]: favors mid-length documents with
    * diverse vocabulary and a sane stopword rate. Deterministic arithmetic
    * only, so it can be oracled in plain SQL. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast(DoubleType) / 100.0, lit(1.0))
    (lenScore + distinctTokenRatio(text) + least(stopwordRatio(text) * 5.0, lit(1.0))) / 3.0
  }

  /** Language marker words per language, for the n-gram-heuristic language
    * ID. Scores = marker hits; argmax wins (ties broken by language code
    * order for determinism). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "les"),
    "es" -> Seq("el", "y", "los"))

  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(markers))).cast(LongType)

  /** Heuristic language ID: the language with the most marker hits, or
    * "und" (undetermined) when nothing matches. */
  def langId(text: Column): Column = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (l, m) => (l, markerHits(text, m)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldLeft(when(best === 0, "und")) { case (acc, (l, s)) =>
      acc.when(s === best, l)
    }.otherwise("und")
  }

  /** Order-insensitive document fingerprint: md5 over the sorted distinct
    * token set. Two bag-of-words-identical documents collide regardless of
    * word order — the cheap first pass before MinHash. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(tokens(text)))))

  /** One row per word-n-gram (keep-columns..., gram), grams joined with
    * single spaces — every occurrence in document order, or first
    * occurrences only with `distinct = true`. A narrow explode over the
    * native [[graft.functions.ShingleText]] expression: no shuffle, no
    * per-document quadratic lambda (the posexplode + `lead`-window
    * formulation this replaced cost a full shuffle+sort on the id before
    * any aggregation could start). Documents with fewer than n tokens
    * produce no rows. */
  def ngramRows(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, n: Int, keep: Seq[String] = Nil,
      distinct: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n >= 1")
    val keepCols = (idCol +: keep).map(col)
    docs.select(keepCols :+
      explode(graft.functions.ShingleText.shingleText(col(textCol), n, distinct))
        .as("gram"): _*)
  }

  /** Per-document n-gram novelty: how many DISTINCT word n-grams a
    * document carries and what fraction of them the document introduces
    * to the corpus — a gram is "novel" when no document with a smaller
    * id contains it. The incremental-crawl curation signal: a document
    * whose grams all already exist adds nothing to a training set; a
    * high-novelty one is genuinely new material (the same min-owner
    * attribution SemDeDup-style pipelines use to pick survivors).
    *
    * Takes per-document-DISTINCT (id, h) gram rows — typically the
    * persisted shingle table exploded ([[Dedup.shingleTable]]:
    * ShingleHashes, distinct word-n-gram xxhash64 per doc), so the
    * caller pays no tokenization and needs no persist (artifact re-reads
    * are cheap). Scale shape: a map-side-combined `min(id)` per hash
    * computes first owners, and the instance stream re-joins that table
    * on the hash — two shuffles, both keyed on the 8-byte gram hash,
    * then one per-doc aggregate. Novelty compares hashes, not gram text,
    * so a 64-bit collision could mis-attribute a first owner — the
    * accepted q_decontaminate trade.
    *
    * Documents with fewer than n tokens produce no grams and are absent
    * from the output, mirroring the reference's span semantics
    * (rulemorph tests/fixtures span family). */
  def gramNoveltyFrom(grams: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val first = grams.groupBy("h").agg(min(col(idCol)).as("first_owner"))
    grams.join(first, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_owner") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_grams"))
  }

  /** Collocation mining: bigrams whose observed frequency most exceeds
    * what their parts' frequencies predict — scored by the PMI RATIO
    * p(xy) / (p(x)·p(y)) rather than its log (log differs in the last
    * ulp across engines and adds nothing to the ranking; the ratio is a
    * chain of correctly-rounded IEEE divisions, bit-identical anywhere
    * when evaluated in the same order — the q_tfidf_topk argument).
    *
    * Scale shape: ONE corpus scan emits unigrams and bigrams as a single
    * tagged in-row stream (two `transform`s concatenated before one
    * explode), ONE map-side-combined shuffle counts them, and everything
    * after runs on the vocabulary-sized count table: totals are two tiny
    * aggregates, the part-frequency lookups are broadcast joins of the
    * unigram table onto the (minCount-filtered) bigram table. No second
    * tokenization, no corpus-sized join, no window.
    *
    * Returns (bigram, n_pairs, pmi_ratio), every bigram with count ≥
    * `minCount`; callers rank/limit (ties on the ratio are real —
    * symmetric corpora produce them — so order by (ratio, bigram) for a
    * total order). */
  def collocations(docs: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long = 5): org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " ")
    val tagged = docs.select(explode(concat(
        transform(toks, t => struct(lit("u").as("kind"), t.as("gram"))),
        transform(graft.functions.ShingleText.shingleText(col(textCol), 2),
          s => struct(lit("b").as("kind"), s.as("gram"))))).as("kg"))
      .select(col("kg.kind").as("kind"), col("kg.gram").as("gram"))
    // vocabulary-sized after the one shuffle; pinned so the four
    // consumers below (two totals, two sides) don't re-run the corpus scan
    val counts = Materialize.pin(tagged.groupBy("kind", "gram")
      .agg(count(lit(1)).as("c")))
    val uni = counts.filter(col("kind") === "u").select(col("gram"), col("c"))
    val bi = counts.filter(col("kind") === "b")
      .select(col("gram").as("bigram"), col("c").as("cb"))
    // post-aggregation scalars (vocabulary-sized input — a driver pull of
    // one row). SUM over zero rows is
    // null: an empty corpus (or one of sub-bigram docs) must short-circuit
    // to an empty result, not reach the ANSI-mode divisions below, where
    // x / 0.0 is an ERROR in Spark 4, not infinity
    def total(df: org.apache.spark.sql.DataFrame, c: String): Double = {
      val r = df.agg(sum(c)).head
      if (r.isNullAt(0)) 0.0 else r.getLong(0).toDouble
    }
    val nTok = total(uni, "c")
    val nBi = total(bi, "cb")
    if (nTok == 0.0 || nBi == 0.0)
      return bi.filter(lit(false))
        .select(col("bigram"), col("cb").as("n_pairs"),
          lit(0.0).as("pmi_ratio"))
    bi.filter(col("cb") >= minCount)
      .withColumn("x", split(col("bigram"), " ")(0))
      .withColumn("y", split(col("bigram"), " ")(1))
      .join(broadcast(uni.select(col("gram").as("x"), col("c").as("cx"))), "x")
      .join(broadcast(uni.select(col("gram").as("y"), col("c").as("cy"))), "y")
      .select(col("bigram"), col("cb").as("n_pairs"),
        // the exact division order the oracle states: (cb/M) / ((cx/N)*(cy/N))
        ((col("cb").cast(DoubleType) / nBi) /
          ((col("cx").cast(DoubleType) / nTok) *
            (col("cy").cast(DoubleType) / nTok))).as("pmi_ratio"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1) per document:
    * `top_bigram` / `top_bigram_frac` — the most frequent word bigram
    * (ties: lexicographically smallest) and the fraction of the document's
    * characters its occurrences cover — and `dup_trigram_frac`, the
    * character fraction covered by trigrams occurring more than once.
    * Values are unclamped (a pathological doc can exceed 1.0). Two
    * map-side-combined aggregations keyed on (doc, gram); no per-document
    * quadratic work, so the shape survives any corpus size. */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, charsCol: String): org.apache.spark.sql.DataFrame = {
    // the signals are PER-DOCUMENT, so no corpus aggregation is needed:
    // one native in-row pass per n (graft.functions.GramStats) makes the
    // whole operator a narrow shuffle-free projection that costs one scan
    // at any corpus size. (The exploded
    // groupBy formulation this replaced shuffled the full gram stream
    // twice; a fused cached variant measured 2.3x slower still.)
    import graft.functions.GramStats.gramStats
    docs.select(col(idCol), col(charsCol),
        gramStats(col(textCol), 2).as("s2"),
        gramStats(col(textCol), 3).as("s3"))
      .select(col(idCol), col("s2.top_gram").as("top_bigram"),
        when(col(charsCol) === 0 || col("s2.top_cnt") === 0, lit(0.0))
          .otherwise((col("s2.top_cnt") * length(col("s2.top_gram"))).cast(DoubleType)
            / col(charsCol)).as("top_bigram_frac"),
        when(col(charsCol) === 0, lit(0.0))
          .otherwise(col("s3.dup_chars").cast(DoubleType) / col(charsCol))
          .as("dup_trigram_frac"))
  }

  /** Winnowing (MOSS) document fingerprints: one row per (id, fp) from
    * the native in-row pass ([[graft.functions.WinnowFingerprints]]) —
    * the rolling-window document fingerprinting a plagiarism/near-dup
    * index stores (~w× smaller than the full gram-hash set; any shared
    * run of ≥ w+n−1 tokens guarantees a shared fingerprint). Narrow up
    * to the first aggregation: no shuffle here. */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, n: Int, w: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.WinnowFingerprints
        .winnowFingerprints(col(textCol), n, w)).as("fp"))

  /** Corpus-wide boilerplate: trigrams appearing in ≥ minDf distinct
    * documents are boilerplate; per document, the count and fraction of
    * its distinct trigrams that are. Internally keyed on the 8-byte
    * xxhash64 shingle hash, never the gram string: the doc-frequency
    * shuffle moves one long per (doc, gram) — at corpus scale an
    * order-of-magnitude fewer shuffle bytes than gram text — and the
    * (small) boilerplate set broadcasts back as a long set, so the
    * corpus side never shuffles for membership (the
    * benchmark-decontamination shape; 64-bit collisions negligible, the
    * [[Dedup]] stance). The per-doc-distinct hash set comes from ONE
    * native pass ([[graft.functions.ShingleHashes]]) cheap enough to
    * recompute per consumer — no cache barrier, so nothing corpus-sized
    * is ever pinned in executor memory. Documents with no trigrams
    * produce no row. */
  def boilerplateStats(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minDf: Int): org.apache.spark.sql.DataFrame = {
    // no checkpoint barrier on the shingle pass (r17): staging the
    // (id, shh-array) frame to share one tokenization across the df
    // branch and the join-back measured a LOSS (isolated 7-rep min
    // 0.578 → 0.610 s) — the array blocks cost more to write+decode
    // twice than the second native ShingleHashes scan, the same verdict
    // as the span-family and decontamination trials.
    val g3 = docs.select(col(idCol),
      explode(graft.functions.ShingleHashes.shingleHashes(col(textCol), 3)).as("h"))
    val boiler = g3.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("h"), lit(1).as("__b"))
    g3.join(broadcast(boiler), Seq("h"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__b"), lit(0))).cast(LongType).as("n_boiler"))
      .select(col(idCol), col("n_grams"), col("n_boiler"),
        (col("n_boiler").cast(DoubleType) / col("n_grams")).as("boiler_frac"))
  }

  /** Corpus bigram-LM quality score — the CCNet-family perplexity-filter
    * shape (Wenzek et al. 2020 train an external LM; here the model IS
    * the corpus's own bigram counts, the self-scoring variant): per
    * document, the mean add-one-smoothed bigram probability
    * p(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V), where c(w₁·) is w₁'s history
    * count and V the history-vocabulary size. Fluent in-distribution
    * text scores high; token soup and off-distribution gibberish score
    * near 1/V — the signal a corpus-quality gate thresholds on. The
    * mean PROBABILITY stands in for mean log-prob (the same monotone-
    * surrogate argument as [[collocations]]' raw PMI ratio: one
    * correctly-rounded IEEE division is engine-exact where ln() may
    * differ in the last ulp). The per-doc mean quantizes each p at
    * 1e-15 fixed point (`floor(p·10¹⁵)` — an exact long) before
    * summing: the long sum is order-independent (partitioning-proof)
    * and engine-exact, where a DECIMAL(38,18) round-trip is NOT —
    * Spark's double→decimal cast goes through the shortest decimal
    * string (~17 digits) while DuckDB converts the full binary value,
    * so their 18th digits disagree and the summed ulps diverge
    * (observed). floor, not round: round's half-tie rule is the only
    * other engine-sensitive edge, floor has none.
    *
    * Shapes: ONE tokenization scan — the (doc, w₁, bigram) occurrence
    * stream is built narrowly from the token array and persisted, shared
    * by both corpus-count tables and the scoring join. Counts are
    * groupBy tables joined back, NOT `count(*) over (partition by …)`
    * windows over the stream: a window shuffles and re-emits every
    * occurrence row with no map-side combine, and bigram frequencies
    * are power-law — the hot "of the" key lands one reducer. groupBy
    * counts are map-side combined, vocabulary-sized (so usually
    * broadcastable back onto the stream), and AQE-skew-safe — the same
    * shape as [[graft.functions.BigramLmScore.train]] and the DuckDB
    * oracle. V is one scalar aggregate broadcast back. At 100 TB the
    * model side prunes to the top-V grams and broadcasts with an
    * unseen-gram backoff — the standard LM-filter deployment; the exact
    * form here keeps every count oracle-checkable. Documents with
    * < 2 tokens score 0. */
  def lmScore(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val arr = docs.select(col(idCol), tokens(col(textCol)).as("a"))
    val grams = arr.filter(size(col("a")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(a)-2), i -> " +
          "struct(a[i] AS w1, concat(a[i], ' ', a[i+1]) AS g2))")).as("g"))
      .select(col(idCol), col("g.w1").as("w1"), col("g.g2").as("g2"))
    // the scored table is pinned while the gram stream is held, so
    // nothing downstream re-tokenizes
    val perDoc = Materialize.during(grams)(g =>
      Materialize.pin(lmPerDocScores(g, idCol)))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
  }

  /** The LM-quality filter (CCNet-family perplexity gate): score each
    * document's bigrams against a trained [[graft.functions.BigramLmModel]]
    * ([[graft.functions.BigramLmScore.train]] — pruned counts + unseen
    * 1/V backoff, carried in the plan) and drop documents below
    * `minScore` (token soup and off-distribution gibberish score near the
    * 1/V floor; fluent in-distribution text scores an order of magnitude
    * above it). One native tokenize-hash-lookup pass per row inside
    * whole-stage codegen: no shuffle, no second corpus scan. Emits
    * `lm_score`. */
  def lmGate(docs: org.apache.spark.sql.DataFrame, textCol: String,
      model: graft.functions.BigramLmModel,
      minScore: Double): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("lm_score",
        graft.functions.BigramLmScore.score(col(textCol), model))
      .filter(col("lm_score") >= minScore)

  /** The window-free scoring pipeline over a (id, w1, g2) gram-occurrence
    * frame, un-checkpointed — split out so PlanQualitySpec can assert the
    * plan shape (the public [[lmScore]] pins it, which
    * truncates the observable physical plan). */
  private[graft] def lmPerDocScores(grams: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val c2 = grams.groupBy("g2").agg(count(lit(1)).as("c2"))
    val c1 = grams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = grams.agg(countDistinct(col("w1")).as("v"))
    grams
      .join(c2, Seq("g2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("p",
        (col("c2") + 1).cast(DoubleType) /
          (col("c1") + col("v")).cast(DoubleType))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(floor(col("p") * lit(1e15))).cast(DoubleType) /
          (count(lit(1)).cast(DoubleType) * lit(1e15))).as("lm_score"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how much its hashed
    * n-gram distribution resembles a TARGET slice of the corpus. Features
    * are md5-hash-bucketed bigrams (the paper's hashed n-grams; the
    * md5-bucket recipe is the proven q_stratified_sample parity
    * primitive); per bucket the log importance ratio is
    *
    *   lr(b) = ln( ((n_target(b)+1)/(N_target+B)) /
    *               ((n_raw(b)+1)/(N_raw+B)) )
    *
    * (add-1 smoothing over B buckets on both sides), and a document's
    * score is Σ count_doc(b)·lr(b) over its bucketed bigrams. The
    * transcendental ln is immediately quantized to FIXED POINT —
    * floor(lr·10⁶), a long — so the per-doc sum is exact integer
    * arithmetic and the DuckDB oracle reproduces it bit-for-bit (the
    * lmScore fixed-point doctrine; a sub-ulp engine difference in ln
    * flips a floor only when lr·10⁶ sits within ~1e-10 of an integer).
    *
    * 100 TB shape: one gram pass builds the B-row bucket table (ONE
    * map-side-combined groupBy carrying both the raw count and the
    * conditional target count — the target slice is not a second scan),
    * totals reduce the B-row table itself, and the table broadcasts back
    * onto the per-(doc, bucket) counts — the only corpus-sized shuffle.
    * No windows, no self-joins; the gram stream materializes once
    * ([[lmScore]]'s persist discipline).
    *
    * Returns (idCol, n_grams, dsir_score); documents with < 2 tokens
    * score 0. Selection (top-k / threshold / Gumbel resampling) composes
    * downstream — see [[graft.queries.QualityQueries.dsirSelect]]. */
  def dsirScores(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, isTarget: Column,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    // the B-row count table is pinned ONCE (so the totals reduction and
    // the ratio projection never re-scan the gram stream), totals bake in
    // as literals, and the scored frame is pinned while the gram stream
    // is held
    val perDoc = Materialize.during(
        dsirGrams(docs, textCol, idCol, isTarget, buckets)) { grams =>
      val counts = Materialize.pin(dsirBucketCounts(grams))
      val table = dsirLrTable(counts, buckets)
      Materialize.pin(dsirPerDocScores(grams, table, idCol))
    }
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dsir_score"), lit(0.0)).as("dsir_score"))
  }

  /** The (id, is_target, b) bucketed-bigram occurrence stream. */
  private[graft] def dsirGrams(docs: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, isTarget: Column,
      buckets: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), isTarget.as("is_target"),
        tokens(col(textCol)).as("a"))
      .filter(size(col("a")) >= 2)
      .select(col(idCol), col("is_target"), explode(expr(
        "transform(sequence(0, size(a)-2), i -> concat(a[i], ' ', a[i+1]))"))
        .as("g2"))
      .select(col(idCol), col("is_target"),
        Sampling.hashBucket(col("g2"), buckets).as("b"))

  /** (b, nr, nt) — ONE map-side-combined aggregation over the gram
    * stream carrying both the raw count and the conditional target
    * count; the target slice never costs a second scan. ≤ `buckets`
    * rows. */
  private[graft] def dsirBucketCounts(
      grams: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    grams.groupBy("b").agg(
      count(lit(1)).as("nr"),
      sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("nt"))

  /** (b, lr_fx) — the broadcastable B-row model from a MATERIALIZED
    * count table: totals reduce the tiny table to driver literals, then
    * the fixed-point smoothed log ratio is a narrow projection. */
  private[graft] def dsirLrTable(counts: org.apache.spark.sql.DataFrame,
      buckets: Int): org.apache.spark.sql.DataFrame = {
    val tot = counts
      .agg(sum(col("nr")).as("nr_tot"), sum(col("nt")).as("nt_tot")).head()
    // an empty corpus (no doc with >= 2 tokens) sums to null
    val (nrTot, ntTot) =
      if (tot.isNullAt(0)) (0L, 0L) else (tot.getLong(0), tot.getLong(1))
    val pt = (col("nt") + lit(1)).cast(DoubleType) /
      (lit(ntTot) + lit(buckets)).cast(DoubleType)
    val pr = (col("nr") + lit(1)).cast(DoubleType) /
      (lit(nrTot) + lit(buckets)).cast(DoubleType)
    counts.select(col("b"),
      floor(log(pt / pr) * lit(1e6)).cast(LongType).as("lr_fx"))
  }

  /** Per-doc integer-exact scoring against a (b, lr_fx) table. */
  private[graft] def dsirPerDocScores(grams: org.apache.spark.sql.DataFrame,
      table: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame =
    grams.groupBy(col(idCol), col("b")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(table), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_grams"),
        (sum(col("cnt") * col("lr_fx")).cast(DoubleType) / lit(1e6))
          .as("dsir_score"))

  /** Gopher quality rules (Rae et al. 2021 §A1.1) — the canonical
    * hand-written document filter, each rule an explicit boolean beside
    * its signal so a curator can audit WHICH rule dropped a document
    * (the Dolma attributes pattern), adapted to the whitespace
    * tokenizer: word count in [50, 100k], mean word length in [3, 10],
    * ≥ 80% of words contain an alphabetic character, ≥ 2 stop words,
    * symbol-to-word ratio (#, …) ≤ 0.1. Mean word length reads
    * length(text) minus the n−1 separator spaces — exact for
    * single-space-joined text, and every signal is per-row IEEE
    * arithmetic, so the whole operator is ONE narrow shuffle-free
    * projection at any corpus size. */
  def gopherRules(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val t = tokens(col(textCol))
    val n = size(t)
    val nD = n.cast(DoubleType)
    val mwl = when(n === 0, lit(0.0)).otherwise(
      (length(col(textCol)) - (n - lit(1))).cast(DoubleType) / nD)
    val alphaFrac = when(n === 0, lit(0.0)).otherwise(
      size(filter(t, x => x.rlike("[A-Za-z]"))).cast(DoubleType) / nD)
    val stopHits = size(filter(t, x => x.isInCollection(stopwords)))
      .cast(LongType)
    val symFrac = when(n === 0, lit(0.0)).otherwise(
      size(filter(t, x => x.contains("#").or(x.contains("..."))))
        .cast(DoubleType) / nD)
    val rWords = n.between(50, 100000)
    val rMwl = mwl.between(3.0, 10.0)
    val rAlpha = alphaFrac >= 0.8
    val rStop = stopHits >= 2
    val rSym = symFrac <= 0.1
    docs.select(col(idCol), n.cast(LongType).as("n_tokens"),
      mwl.as("mean_word_len"), alphaFrac.as("alpha_frac"),
      stopHits.as("stop_hits"), symFrac.as("symbol_frac"),
      rWords.as("r_words"), rMwl.as("r_mwl"), rAlpha.as("r_alpha"),
      rStop.as("r_stop"), rSym.as("r_sym"),
      (rWords && rMwl && rAlpha && rStop && rSym).as("keep"))
  }

  /** BPE tokenizer training (Sennrich et al. 2016) — learn `numMerges`
    * byte-pair merges from the corpus, returned as the ranked merge
    * table (rank, lhs, rhs, pair_count). The 100 TB shape exploits what
    * BPE training actually consumes: the WORD-FREQUENCY table, not the
    * corpus — ONE map-side-combined token shuffle reduces any corpus to
    * a vocabulary-sized frame, a deterministic top-`maxWords` cap
    * ((count DESC, word ASC) — the [[graft.operators.Ivf]]
    * bounded-training-collect argument; real tokenizer trainers cap
    * their word tables the same way) bounds the driver set, and the
    * merge iterations run driver-side over that capped table. Pair
    * counting is the classic overlapping count; merge application is
    * left-to-right non-overlapping; ties break (count DESC, pair
    * lexicographic ASC) so the result is engine-exact — the DuckDB
    * oracle replays all K iterations as unrolled MATERIALIZED CTEs over
    * a separator-framed state string whose non-overlapping REPLACE is
    * provably the same merge step. Encoding with the learned table is
    * the native [[graft.functions.BpeEncodeCount]] codegen pass. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int = 40,
      maxWords: Int = 4096): org.apache.spark.sql.DataFrame = {
    val merges = bpeLearn(bpeWordCounts(docs, textCol, maxWords), numMerges)
    val spark = docs.sparkSession
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r, pc), i) => ((i + 1).toLong, l, r, pc) }
      .toSeq.toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** Persist a trained merge table ([[bpeTrain]]'s output shape) as a
    * parquet artifact — the "train once, deploy" treatment the IVF index
    * gets ([[Ivf.writeCentroids]]): a tokenizer is trained on one corpus
    * snapshot and then reused verbatim by every downstream job, so the
    * merge table must survive JVM restarts bit-exactly (strings
    * round-trip parquet exactly). `path/merges` holds (rank, lhs, rhs,
    * pair_count), one tiny file; the parquet job's `_SUCCESS` marker is
    * the completeness certificate ([[bpeModelExists]] probes it, so a
    * half-written artifact reads as missing, never as a husk). */
  def writeBpeModel(merges: org.apache.spark.sql.DataFrame,
      path: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(s"$path/merges")

  /** The persisted merge table back as a broadcastable encoder model —
    * bit-identical segmentations to the freshly trained one
    * (BpeTrainSpec pins the round-trip). */
  def readBpeModel(spark: org.apache.spark.sql.SparkSession,
      path: String): graft.functions.BpeMerges =
    new graft.functions.BpeMerges(
      spark.read.parquet(s"$path/merges").orderBy("rank")
        .select("lhs", "rhs")
        .collect().map(r => (r.getString(0), r.getString(1))))

  /** True when a complete [[writeBpeModel]] artifact exists at `path` —
    * the shared [[Artifacts.markerExists]] certificate probe. */
  def bpeModelExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    Artifacts.markerExists(spark, s"$path/merges")

  /** (word, count) top-`maxWords` by (count DESC, word ASC) — one
    * map-side-combined shuffle + distributed top-k; the only corpus
    * pass in BPE training. */
  private[graft] def bpeWordCounts(docs: org.apache.spark.sql.DataFrame,
      textCol: String, maxWords: Int): Array[(String, Long)] =
    docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** The learned vocabulary (the tokenizer's second artifact beside
    * the merge table): every symbol occurrence of every word's FINAL
    * segmentation after `numMerges`, weighted by the word's corpus
    * count. Same one-corpus-pass + driver-loop shape as [[bpeTrain]]. */
  def bpeVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int = 40,
      maxWords: Int = 4096): org.apache.spark.sql.DataFrame = {
    val (_, vocab) =
      bpeLearnFull(bpeWordCounts(docs, textCol, maxWords), numMerges)
    val rows = vocab.toSeq.flatMap { case (syms, c) => syms.map(s => (s, c)) }
      .groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    val spark = docs.sparkSession
    import spark.implicits._
    rows.toDF("symbol", "n")
  }

  /** Driver-side merge learning over the capped word table — pure,
    * deterministic, vocabulary-sized. Stops early when no adjacent
    * pair remains. */
  private[graft] def bpeLearn(wordCounts: Array[(String, Long)],
      numMerges: Int): Array[(String, String, Long)] =
    bpeLearnFull(wordCounts, numMerges)._1

  /** [[bpeLearn]] plus the final per-word segmentations. */
  private[graft] def bpeLearnFull(wordCounts: Array[(String, Long)],
      numMerges: Int): (Array[(String, String, Long)], Array[(Array[String], Long)]) = {
    // Split on CODE POINTS, not UTF-16 units, to match the DuckDB
    // oracle's STRING_SPLIT(w, '') — astral-plane chars stay one symbol.
    var vocab = wordCounts.map { case (w, c) =>
      (w.codePoints.toArray.map(cp => new String(Character.toChars(cp))), c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), pc) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((l, r, pc))
        vocab = vocab.map { case (syms, c) => (bpeMergePair(syms, l, r), c) }
        k += 1
      }
    }
    (merges.toArray, vocab)
  }

  /** Left-to-right non-overlapping replacement of the adjacent pair. */
  private def bpeMergePair(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Multinomial Naive-Bayes document classification over md5-bucketed
    * unigram tokens — the classifier-based data-selection shape (a la
    * GPT-3 / PaLM quality filtering: score every document with a cheap
    * linear model trained on a labeled slice). NB is the closed-form
    * member of that family: the model IS two count tables, so training
    * is one aggregation pass — no gradient loop — and scoring is a
    * broadcast join, which is what makes it deployable at corpus scale.
    *
    * Model (add-1 smoothing over `buckets` hashed features):
    *   prior(c)  = ln( docs_c / T )
    *   lp(c, b)  = ln( (n(c,b)+1) / (N_c + B) )
    *   score(d, c) = prior(c) + Σ_tokens lp(c, bucket(tok))
    * Every transcendental is floor-quantized to fixed point (·1e6, a
    * long) the moment it is computed — the [[dsirScores]] doctrine — so
    * per-document accumulation is exact integer arithmetic and the
    * DuckDB oracle reproduces predictions bit-for-bit. The model is
    * DENSE over classes × buckets (unseen (c,b) cells carry the
    * smoothing default by construction), so scoring needs no per-cell
    * missing-handling.
    *
    * 100 TB shape: ONE token pass feeds both the (class, bucket) count
    * table (map-side-combined, ≤ C·B rows) and the per-(doc, bucket)
    * holdout counts; the dense model broadcasts back onto them; the
    * per-(doc, class) score frame is (holdout × C)-sized integer rows
    * (the q_knn_labels vote-table argument); argmax is a C-row window
    * per doc on the shuffle the score aggregation already paid. The
    * TOKEN stream materializes once; the priors and holdout-base stages
    * are two additional (id, label)-pruned column scans — deliberately
    * cheaper at scale than persisting a corpus-sized id/label frame to
    * save them. No window runs over an unbounded frame.
    *
    * Returns one row per holdout document: (idCol, label, predicted,
    * correct, nb_score) where nb_score is the winning score /1e6. */
  def nbClassify(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, labelCol: String, isTrain: Column,
      buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    Materialize.during(
        nbTokenStream(docs, textCol, idCol, labelCol, isTrain, buckets)) { tk =>
      // counts and priors are pinned once (tiny frames) so the dense
      // model and the scoring never re-run their aggregations
      val cb = Materialize.pin(nbCounts(tk))
      val priors = Materialize.pin(nbPriors(docs, labelCol, isTrain))
      val model = nbModelTable(cb, priors, buckets)
      Materialize.pin(nbScore(tk, docs, priors, model, idCol, labelCol, isTrain))
    }
  }

  /** (idCol, label, is_train, b) — one exploded bucketed-token stream
    * feeding BOTH the model counts (train slice) and the holdout
    * scoring: the corpus tokenizes once. */
  private[graft] def nbTokenStream(docs: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, labelCol: String, isTrain: Column,
      buckets: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), col(labelCol).as("label"),
        isTrain.as("is_train"), explode(tokens(col(textCol))).as("tok"))
      .select(col(idCol), col("label"), col("is_train"),
        Sampling.hashBucket(col("tok"), buckets).as("b"))

  /** (label, b, n) counts over the train slice — ONE map-side-combined
    * aggregation, ≤ classes × buckets rows. */
  private[graft] def nbCounts(
      tk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tk.filter(col("is_train")).groupBy("label", "b")
      .agg(count(lit(1)).as("n"))

  /** (label, prior_fx) from train DOC counts; the total rides a window
    * on the C-row post-aggregation frame (bytes, not data). */
  private[graft] def nbPriors(docs: org.apache.spark.sql.DataFrame,
      labelCol: String, isTrain: Column): org.apache.spark.sql.DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    docs.filter(isTrain)
      .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("docs_c"))
      .select(col("label"),
        floor(log(col("docs_c").cast(DoubleType) /
            sum(col("docs_c")).over(wAll).cast(DoubleType)) * lit(1e6))
          .cast(LongType).as("prior_fx"))
  }

  /** Dense (label, b, lp_fx) model from a MATERIALIZED count table —
    * C·B rows, broadcastable; unseen (c,b) cells carry the smoothing
    * default by construction. Classes with train docs but zero train
    * tokens keep an explicit n_c = 0 row. */
  private[graft] def nbModelTable(cb: org.apache.spark.sql.DataFrame,
      priors: org.apache.spark.sql.DataFrame,
      buckets: Int): org.apache.spark.sql.DataFrame = {
    val ctot = cb.groupBy("label").agg(sum(col("n")).as("n_c"))
    val nc = priors.select("label").join(ctot, Seq("label"), "left")
      .select(col("label"), coalesce(col("n_c"), lit(0L)).as("n_c"))
    val bGrid = cb.sparkSession.range(buckets).select(col("id").as("b"))
    nc.crossJoin(bGrid)
      .join(cb, Seq("label", "b"), "left")
      .select(col("label"), col("b"),
        floor(log((coalesce(col("n"), lit(0L)) + lit(1)).cast(DoubleType) /
            (col("n_c") + lit(buckets)).cast(DoubleType)) * lit(1e6))
          .cast(LongType).as("lp_fx"))
  }

  /** Holdout scoring + argmax: per-(doc, bucket) counts ⋈ broadcast
    * dense model → per-(doc, class) exact integer scores; token-free
    * docs re-enter with the prior alone via the left join; argmax is a
    * C-row window per doc with the (score DESC, class ASC) tie-break. */
  private[graft] def nbScore(tk: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame,
      priors: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame, idCol: String,
      labelCol: String, isTrain: Column): org.apache.spark.sql.DataFrame = {
    val pd = tk.filter(!col("is_train"))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("cnt"))
    val tokFx = pd.join(broadcast(model), Seq("b"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("cnt") * col("lp_fx")).as("tok_fx"))
      .withColumnRenamed("label", "cls")
    val base = docs.filter(!isTrain)
      .select(col(idCol), col(labelCol).as("label"))
      .crossJoin(broadcast(priors.withColumnRenamed("label", "cls")))
    val scored = base.join(tokFx, Seq(idCol, "cls"), "left")
      .select(col(idCol), col("label"), col("cls"),
        (col("prior_fx") + coalesce(col("tok_fx"), lit(0L))).as("score_fx"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
      .orderBy(col("score_fx").desc, col("cls").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col(idCol), col("label"), col("cls").as("predicted"),
        (col("label") === col("cls")).as("correct"),
        (col("score_fx").cast(DoubleType) / lit(1e6)).as("nb_score"))
  }
}
