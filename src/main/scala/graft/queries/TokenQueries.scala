package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}
import graft.operators.{TextAnalysis => TA}
import QualityQueries.qualitySql
import SharedArtifacts.{BpeMaxWords, BpeNumMerges, sharedBpeModel, sharedShingles}

/** Tokenization and packing queries over `documents`: BPE training and
  * encoding, sequence packing, token budgets, and vocabulary statistics
  * (top-k, growth, Zipf slope, OOV rate, rare tokens, TF-IDF,
  * collocations).
  */
object TokenQueries extends QueryFamily {
  /** [[TA.chunkTokens]] over the corpus: 64-token context windows
    * stepping every 48 tokens (16-token overlap) — the RAG-passage /
    * training-window preparation pass, one narrow explode per doc. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    TA.chunkTokens(Tables.documents(spark, dir), "text", "doc_id",
        chunkSize = 64, overlap = 16)
      .orderBy("doc_id", "chunk_id")
  // chunk starts restated with RANGE(0, n, step) (same set as the Spark
  // sequence(0, n-1, step)); chunk_id is start // step = the sequence
  // position; list slicing clamps at the end on both engines.
  query("q_chunk_docs", Oracle(
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |st AS (SELECT doc_id, a, LEN(a) n, UNNEST(RANGE(0, LEN(a), 48)) AS start FROM arr)
        |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
        |       ARRAY_TO_STRING(a[start+1 : start+64], ' ') AS chunk_text,
        |       CAST(LEAST(64, n - start) AS BIGINT) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin))(chunkDocuments)

  /** Top-20 collocations by PMI ratio (observed bigram frequency over
    * what unigram frequencies predict) with count ≥ 5 — the corpus-
    * analysis pass behind tokenizer-merge candidates and stop-phrase
    * lists. One scan, one count shuffle, vocabulary-sized tail
    * ([[graft.operators.TextAnalysis.collocations]]). */
  def collocationsTopK(spark: SparkSession, dir: String): DataFrame =
    // fanOutToCores measured a net LOSS here (idle 5-rep min 0.79 →
    // 1.13 s): the bigram explode feeds a map-side hash aggregate, and
    // 32 fanned tasks each allocate their own agg hash table over the
    // full bigram vocabulary — per-task setup outweighs the spread
    // compute at bench scale, unlike the allocation-light vector/set
    // kernels where the fan-out wins (knnJoin, winnowPairs)
    TA.collocations(Tables.documents(spark, dir), "text", minCount = 5)
      .orderBy(col("pmi_ratio").desc, col("bigram").asc)
      .limit(20)
  query("q_collocations", Oracle(
      """WITH toks AS (SELECT STRING_SPLIT(text, ' ') a FROM documents),
        |uni AS (SELECT UNNEST(a) AS tok FROM toks),
        |ucnt AS (SELECT tok, COUNT(*) cu FROM uni GROUP BY tok),
        |bi AS (SELECT a[i+1] || ' ' || a[i+2] AS bigram
        |       FROM toks, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
        |bcnt AS (SELECT bigram, COUNT(*) cb FROM bi GROUP BY bigram),
        |tot AS (SELECT (SELECT CAST(SUM(cu) AS DOUBLE) FROM ucnt) n,
        |               (SELECT CAST(SUM(cb) AS DOUBLE) FROM bcnt) m)
        |SELECT bigram, cb AS n_pairs,
        |       (CAST(cb AS DOUBLE) / m) /
        |         ((CAST(cx.cu AS DOUBLE) / n) * (CAST(cy.cu AS DOUBLE) / n)) AS pmi_ratio
        |FROM bcnt CROSS JOIN tot
        |JOIN ucnt cx ON cx.tok = STRING_SPLIT(bigram, ' ')[1]
        |JOIN ucnt cy ON cy.tok = STRING_SPLIT(bigram, ' ')[2]
        |WHERE cb >= 5
        |ORDER BY pmi_ratio DESC, bigram LIMIT 20""".stripMargin))(collocationsTopK)

  /** Per-document rare-token profile — the tail-knowledge upsampling
    * signal (documents carrying below-uniform-frequency vocabulary are
    * where long-tail facts live; documents that are MOSTLY rare tokens
    * are usually OCR garbage — the two ends a curator reads this table
    * for). "Rare" is scale-free and sort-free: a word is rare when its
    * corpus count sits below the uniform share (c_w · vocab < total, an
    * exact integer comparison) — no global rank window, no data-
    * dependent threshold. Scale shape: ONE tokenization scan into the
    * (word)-keyed count table; the doc-word frame re-joins it on the
    * vocab key (the [[sourceKl]] join) with the two scalars attached
    * broadcast; one doc-keyed aggregate ends it. */
  def rareTokens(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    // word counts feed the totals AND the join back — one scan
    val byWord = Materialize.pin(words.groupBy("word").agg(count(lit(1)).as("c_w")))
    val totals = byWord.agg(sum(col("c_w")).as("total"),
      count(lit(1)).cast(LongType).as("vocab"))
    words.join(byWord, Seq("word"))
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        // DECIMAL product: c_w·vocab overflows a Long (ANSI throw) once
        // counts reach 1e13 × vocab 1e8; DuckDB's BIGINT·BIGINT promotes
        // to HUGEINT, so the widened compare matches the oracle exactly
        sum(when(col("c_w").cast(DecimalType(38, 0))
              * col("vocab").cast(DecimalType(38, 0))
              < col("total").cast(DecimalType(38, 0)), 1L).otherwise(0L))
          .as("n_rare"),
        min(col("c_w")).as("min_count"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"), col("min_count"),
        (col("n_rare").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("rare_frac"))
      .orderBy("doc_id")
  }
  // rare tokens: exact integer rarity test (c_w·vocab < total), the
  // one derived double in the shared op order
  query("q_rare_tokens", Oracle(
      """WITH dw AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) w FROM documents),
        |bw AS (SELECT w, CAST(COUNT(*) AS BIGINT) c_w FROM dw GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_w) AS BIGINT) total,
        |             CAST(COUNT(*) AS BIGINT) vocab FROM bw)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_tokens,
        |       CAST(SUM(CASE WHEN c_w * vocab < total THEN 1 ELSE 0 END) AS BIGINT) n_rare,
        |       CAST(MIN(c_w) AS BIGINT) min_count,
        |       CAST(SUM(CASE WHEN c_w * vocab < total THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS rare_frac
        |FROM dw JOIN bw USING (w) CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))(rareTokens)

  /** Top-k corpus vocabulary the OOV audit measures coverage against —
    * small on purpose (the synthetic corpus has ~50 distinct words, so
    * 25 leaves a measurable out-of-vocabulary tail; a production run
    * would pass the tokenizer's real vocab size). */
  private[queries] val OovVocabSize = 25

  /** Per-document out-of-vocabulary rate against the corpus top-k
    * vocabulary — the tokenizer-coverage audit run before committing to
    * a vocab size: documents with a high OOV rate will fragment into
    * byte-fallback tokens and inflate sequence lengths. Scale shape:
    * the vocabulary is a map-side-combined word count followed by a
    * partial top-k (`TakeOrderedAndProject`, the q_bm25_topk shape —
    * never a global sort), deterministic under the (count DESC, token
    * ASC) tie-break; it then BROADCASTS onto the token stream, so the
    * probe pass adds no shuffle beyond the final per-doc aggregate. At
    * 100 TB the vocab would be trained once and persisted (the BPE
    * artifact protocol); the two corpus scans here keep the query
    * self-contained. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(OovVocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast(DoubleType) / col("n_tokens"))
      .orderBy("doc_id")
  }
  query("q_oov_rate", Oracle(
      s"""WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) tok FROM documents),
         |cnt AS (SELECT tok, COUNT(*) c FROM toks GROUP BY tok),
         |vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok ASC LIMIT $OovVocabSize)
         |SELECT t.doc_id, COUNT(*) AS n_tokens,
         |       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
         |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin))(oovRate)

  /** Per-document 3-gram novelty ([[TA.gramNoveltyFrom]]): the fraction of
    * a document's distinct grams first introduced by it — the
    * incremental-crawl signal for "does this document add anything".
    * Documents under 3 tokens carry no grams and are absent, matching
    * the oracle's empty UNNEST. */
  def gramNovelty(spark: SparkSession, dir: String): DataFrame =
    // reads the PERSISTED shingle artifact instead of re-tokenizing:
    // ShingleHashes is exactly the per-document-distinct 3-gram
    // xxhash64(seed 42) set this query's inline tokenization produced
    // (hash-parity contract in ShingleHashes' scaladoc), so exploding
    // the artifact is bit-identical input — and the former
    // persist+localCheckpoint scaffolding goes with it (r16)
    TA.gramNoveltyFrom(
        sharedShingles(spark, dir)
          .select(col("doc").as("doc_id"), explode(col("shh")).as("h")),
        "doc_id")
      .orderBy("doc_id")
  query("q_gram_novelty", Oracle(
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |g0 AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
        |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3])) s
        |       FROM arr),
        |g AS (SELECT DISTINCT doc_id, s FROM g0),
        |f AS (SELECT s, MIN(doc_id) first_owner FROM g GROUP BY s)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |       CAST(SUM(CASE WHEN f.first_owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(SUM(CASE WHEN f.first_owner = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
        |FROM g JOIN f USING (s) GROUP BY g.doc_id ORDER BY doc_id""".stripMargin))(gramNovelty)

  /** Vocabulary building: the top-10 BPE tokens per language by frequency
    * (count desc, token asc tiebreak) — explode is a narrow map, the
    * count is one map-side-combined shuffle on (lang, token), the top-k
    * is a bounded per-group window. */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("token").asc)
    Tables.documents(spark, dir)
      .select(col("lang"), explode(TA.bpeTokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("lang"), col("rank").cast(LongType).as("rank"),
        col("token"), col("n"))
      .orderBy("lang", "rank")
  }
  query("q_vocab_topk", Oracle(
      s"""WITH toks AS (SELECT lang, UNNEST(regexp_extract_all(text, '${TA.bpePattern}')) AS token FROM documents),
         |counts AS (SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
         |ranked AS (SELECT lang, token, n,
         |             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
         |           FROM counts)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, token, n
         |FROM ranked WHERE rank <= 10 ORDER BY lang, rank""".stripMargin))(vocabTopK)

  /** Sequence-packing manifest ([[graft.operators.Packing]]): each
    * document's placement in its shard's concat-and-chop token stream —
    * start offset, first/last 512-token training block, blocks spanned.
    * Sharded by lang (independent streams ⇒ one shuffle on the shard
    * column; a 100 TB run shards by a hash salt instead). */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packSequences(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            TA.tokenCount(col("text")).as("n_tokens")),
        shardCol = "lang", orderCol = "doc_id", tokensCol = "n_tokens",
        blockSize = 512)
      .orderBy("doc_id")
  query("q_pack_sequences", Oracle(
      """WITH d AS (SELECT doc_id, lang,
        |                  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) n_tokens
        |           FROM documents),
        |s AS (SELECT doc_id, lang, n_tokens,
        |        CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) start_tok
        |      FROM d)
        |SELECT doc_id, lang, n_tokens, start_tok,
        |       CAST(FLOOR(start_tok / 512.0) AS BIGINT) first_block,
        |       CAST(FLOOR((start_tok + GREATEST(n_tokens, 1) - 1) / 512.0) AS BIGINT) last_block,
        |       CAST(FLOOR((start_tok + GREATEST(n_tokens, 1) - 1) / 512.0)
        |            - FLOOR(start_tok / 512.0) + 1 AS BIGINT) n_blocks
        |FROM s ORDER BY doc_id""".stripMargin))(packSequences)

  /** TF-IDF keyword extraction: the top-3 most characteristic tokens per
    * document, scored tf × (1/df) — the raw inverse document frequency
    * ratio rather than its logarithm, because ln() is the one place
    * Spark (java.lang.Math) and DuckDB (libm) may disagree in the last
    * ulp while a single correctly-rounded double division cannot; the
    * ranking is the same monotone transform. Shapes: ONE tokenization
    * scan — df rides a count window over the tf table partitioned by
    * the token (a join of tf against a separately-aggregated df table
    * would re-derive, and therefore re-tokenize, the whole corpus on
    * its second input) — then the bounded per-doc rank window. Three
    * shuffles total: (doc, token) agg, token window, doc window. */
  def tfidfTopK(spark: SparkSession, dir: String): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // df via groupBy + join, NOT a token-partitioned window over the tf
    // stream (the lmScore doctrine, asserted there by PlanQualitySpec):
    // the window costs a full exchange AND SORT of every (doc, token)
    // row; the aggregate's exchange carries map-side-combined partials
    // and the join back attaches a vocabulary-sized table (broadcast at
    // bench scale, token-keyed equi-join at corpus scale). Same df
    // values — one row per (doc, token) group, so counting them per
    // token is the window's count(1). The optimizer prunes this branch
    // to a distinct-shaped aggregate (no shared exchange with the tf
    // side), so documents IS tokenized twice — deliberately accepted:
    // the tokenization is a cheap codegen scan pass and the two
    // subtrees' stages overlap, while the former window sorted the
    // whole exploded token stream (~tokens× the corpus bytes) — the
    // strictly worse cost at any scale. Measured 0.80 → 0.68 s idle min.
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(df, Seq("token"))
      .withColumn("score", col("tf").cast(DoubleType) / col("df"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
        col("token"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }
  query("q_tfidf_topk", Oracle(
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(*) df FROM tf GROUP BY tok),
        |s AS (SELECT doc_id, tok, tf.tf, df.df, tf.tf * 1.0 / df.df AS score
        |      FROM tf JOIN df USING (tok)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                  ORDER BY score DESC, tok ASC) rank FROM s)
        |SELECT doc_id, CAST(rank AS BIGINT) rank, tok AS token, tf, df, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))(tfidfTopK)

  /** BPE tokenizer training ([[TA.bpeTrain]]): the 40-merge table
    * learned from the corpus word-frequency profile — rank, merged
    * pair, and the pair's weighted count at learn time. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    TA.bpeTrain(Tables.documents(spark, dir), "text",
        numMerges = BpeNumMerges, maxWords = BpeMaxWords)
      .orderBy("rank")
  query("q_bpe_train", Oracle(bpeTrainSql))(bpeTrain)
  private def bpeTrainSql: String = {
    val sel = (0 until BpeNumMerges)
      .map(k => s"SELECT CAST(${k + 1} AS BIGINT) rank, l AS lhs, r AS rhs, pc AS pair_count FROM b$k")
      .mkString(" UNION ALL ")
    s"$bpeCtes\nSELECT * FROM ($sel) ORDER BY rank"
  }

  /** The learned BPE vocabulary ([[TA.bpeVocab]]): weighted symbol
    * counts of the corpus's final segmentations — the loader-facing
    * artifact beside the merge table. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    TA.bpeVocab(Tables.documents(spark, dir), "text",
        numMerges = BpeNumMerges, maxWords = BpeMaxWords)
      .orderBy("symbol")
  query("q_bpe_vocab", Oracle(bpeVocabSql))(bpeVocab)
  /** The learned vocabulary: every symbol OCCURRENCE of every word's
    * final segmentation, weighted by the word's corpus count — the
    * second artifact a trained tokenizer ships (merges + vocab). */
  private def bpeVocabSql: String = {
    val SS = "chr(31)||chr(31)"
    s"""$bpeCtes
       |SELECT sym AS symbol, CAST(SUM(c) AS BIGINT) AS n
       |FROM (SELECT UNNEST(STRING_SPLIT(TRIM(state, chr(31)), $SS)) sym, c
       |      FROM st$BpeNumMerges)
       |GROUP BY sym ORDER BY symbol""".stripMargin
  }

  /** Apply the learned tokenizer: per-document learned-BPE token count
    * via the [[graft.functions.BpeEncodeCount]] native — the merge table
    * rides the plan as a broadcast reference object, so scoring is one
    * codegen scan with NO shuffle (the only exchange is the output sort).
    * Oracle: the greedy lowest-rank-first encoder reproduces the
    * trainer's final segmentation for every word the trainer saw, and
    * `maxWords` covers the whole corpus vocabulary at test SFs, so the
    * oracle reads each word's token count straight off the training
    * chain's final state (`st{K}`) and joins it back to the documents'
    * words. At 100 TB (vocabulary past `maxWords`) unseen words would
    * segment with fewer merges — graceful degradation, same plan shape. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = sharedBpeModel(spark, dir)
    docs.select(
        col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"),
        graft.functions.BpeEncodeCount.count(col("text"), model).as("n_bpe"))
      .withColumn("expansion",
        col("n_bpe").cast(DoubleType) / col("n_words"))
      .orderBy("doc_id")
  }
  query("q_bpe_encode", Oracle(bpeEncodeSql))(bpeEncode)
  private def bpeEncodeSql: String =
    s"""$bpeCtes,
       |$wtokCte,
       |dw AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) w FROM documents)
       |SELECT dw.doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(nt) AS BIGINT) AS n_bpe,
       |       CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS expansion
       |FROM dw JOIN wtok USING (w)
       |GROUP BY dw.doc_id ORDER BY doc_id""".stripMargin

  /** Per-language tokenizer-fertility audit off the SHARED BPE model —
    * the report that decides whether one tokenizer serves a multilingual
    * corpus: `fertility` (BPE tokens per whitespace word) and
    * `chars_per_token` (compression) per language. A language whose
    * fertility is 2× the rest pays 2× the context budget per sentence
    * and trains on half the effective text — the standard argument for
    * rebalancing the tokenizer's training mix (see UniMax / temperature
    * sampling, which this table parameterizes). Scale shape: the token
    * counting is the same shuffle-free codegen scan as [[bpeEncode]]
    * (broadcast merge table inside [[graft.functions.BpeEncodeCount]]),
    * then ONE map-side-combined aggregate on the languages-valued key;
    * ratios are per-row doubles over the tiny post-agg frame. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = sharedBpeModel(spark, dir)
    docs.select(col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("nw"),
        graft.functions.BpeEncodeCount.count(col("text"), model).as("nb"),
        length(col("text")).cast(LongType).as("nc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("nb")).as("n_bpe"), sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        col("n_chars"),
        (col("n_bpe").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("fertility"),
        (col("n_chars").cast(DoubleType) / col("n_bpe").cast(DoubleType))
          .as("chars_per_token"))
      .orderBy("lang")
  }
  query("q_bpe_fertility", Oracle(bpeFertilitySql))(bpeFertility)
  /** q_bpe_fertility oracle: the [[bpeEncodeSql]] per-word token chain
    * re-aggregated per language, with doc/char totals from the base
    * table and the ratio doubles in the Column tree's op order. */
  private def bpeFertilitySql: String =
    s"""$bpeCtes,
       |$wtokCte,
       |dw AS (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) w FROM documents),
       |wl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n_words,
       |              CAST(SUM(nt) AS BIGINT) n_bpe
       |       FROM dw JOIN wtok USING (w) GROUP BY lang),
       |dl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n_docs,
       |              CAST(SUM(LENGTH(text)) AS BIGINT) n_chars
       |       FROM documents GROUP BY lang)
       |SELECT lang, n_docs, n_words, n_bpe, n_chars,
       |       CAST(n_bpe AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
       |       CAST(n_chars AS DOUBLE) / CAST(n_bpe AS DOUBLE) AS chars_per_token
       |FROM dl JOIN wl USING (lang) ORDER BY lang""".stripMargin

  /** Tokenizer-aware sequence packing: [[packSequences]]'s concat-and-chop
    * manifest driven by the LEARNED tokenizer's per-document token counts
    * instead of the whitespace proxy — the composition a real pretraining
    * writer runs (train tokenizer → count real tokens → pack blocks).
    * Same scale shape as q_pack_sequences: the token counting is a
    * shuffle-free codegen scan, then one shuffle on the shard column for
    * the per-shard running sum. */
  def packBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = sharedBpeModel(spark, dir)
    val counted = docs.select(col("doc_id"), col("lang"),
      graft.functions.BpeEncodeCount.count(col("text"), model).as("n_bpe"))
    graft.operators.Packing
      .packSequences(counted, "lang", "doc_id", "n_bpe", PackBpeBlock)
      .orderBy("doc_id")
  }
  query("q_pack_bpe", Oracle(packBpeSql))(packBpe)
  private def packBpeSql: String =
    s"""$bpeCtes,
       |$wtokCte,
       |d AS (SELECT doc_id, lang, CAST(SUM(nt) AS BIGINT) n_bpe
       |      FROM (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) w FROM documents) dw
       |      JOIN wtok USING (w) GROUP BY doc_id, lang),
       |s AS (SELECT doc_id, lang, n_bpe,
       |        CAST(SUM(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id
       |                              ROWS UNBOUNDED PRECEDING) - n_bpe AS BIGINT) start_tok
       |      FROM d)
       |SELECT doc_id, lang, n_bpe, start_tok,
       |       CAST(FLOOR(start_tok / 256.0) AS BIGINT) first_block,
       |       CAST(FLOOR((start_tok + GREATEST(n_bpe, 1) - 1) / 256.0) AS BIGINT) last_block,
       |       CAST(FLOOR((start_tok + GREATEST(n_bpe, 1) - 1) / 256.0)
       |            - FLOOR(start_tok / 256.0) + 1 AS BIGINT) n_blocks
       |FROM s ORDER BY doc_id""".stripMargin

  private val PackBpeBlock = 256L

  /** Greedy next-fit whole-document packing
    * ([[graft.operators.Packing.packNextFit]]): the no-straddle manifest
    * (per doc: block id + offset within its shard's block stream) — the
    * SFT/eval packing mode where a document must never span blocks.
    * Token counts are the whitespace proxy; shard = lang, 512-token
    * blocks. One shuffle on the shard column, then a per-shard
    * sequential fold (the secondary-sort mapPartitions pattern — see the
    * operator doc for why no window can express it). */
  def packNextFit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    graft.operators.Packing
      .packNextFit(docs, "lang", "doc_id", "n_tokens", PackNextFitBlock)
      .orderBy("doc_id")
  }
  query("q_pack_nextfit", Oracle(packNextFitSql))(packNextFit)
  /** Next-fit restated as a RECURSIVE CTE: shard-ordered documents are
    * row-numbered and the recursion advances every shard one document
    * per iteration, carrying (block_id, fill) — the same sequential fold
    * the mapPartitions pass runs, written declaratively. */
  private def packNextFitSql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) n_tokens,
       |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) rn
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang, n_tokens, rn,
       |         CAST(0 AS BIGINT) block_id, n_tokens AS fill
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.doc_id, d.lang, d.n_tokens, d.rn,
       |         CASE WHEN r.fill > 0 AND r.fill + d.n_tokens > $PackNextFitBlock
       |              THEN r.block_id + 1 ELSE r.block_id END,
       |         CASE WHEN r.fill > 0 AND r.fill + d.n_tokens > $PackNextFitBlock
       |              THEN d.n_tokens ELSE r.fill + d.n_tokens END
       |  FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1)
       |SELECT doc_id, lang, n_tokens, CAST(block_id AS BIGINT) AS block_id,
       |       CAST(fill - n_tokens AS BIGINT) AS block_offset
       |FROM r ORDER BY doc_id""".stripMargin

  private val PackNextFitBlock = 512L

  /** Curriculum packing — [[packNextFit]]'s no-straddle block writer
    * with the documents ordered EASY→HARD inside each language shard by
    * the quantized quality score (ties broken by doc_id, so block
    * assignment is fully deterministic — the composite-order form of
    * the packing operator): the data-ordering step of curriculum
    * training, where early blocks carry the cleanest documents and a
    * loader walking block_id ascending gets a monotone difficulty
    * schedule without any global sort of the corpus. Same scale shape
    * as q_pack_nextfit — one shuffle on the shard column, per-shard
    * sequential fold; the quality signal rides the same codegen scan
    * that counts tokens. */
  def curriculumPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        floor(TA.qualityScore(col("text")) * lit(1000000.0))
          .cast(LongType).as("q_fx"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    graft.operators.Packing
      .packNextFit(docs.select("lang", "q_fx", "doc_id", "n_tokens"),
        "lang", Seq("q_fx", "doc_id"), "n_tokens", PackNextFitBlock)
      .select("doc_id", "lang", "q_fx", "n_tokens", "block_id", "block_offset")
      .orderBy("doc_id")
  }
  query("q_curriculum_pack", Oracle(curriculumPackSql))(curriculumPack)
  /** q_curriculum_pack oracle: [[packNextFitSql]]'s recursion with the
    * in-shard walk ordered (q_fx, doc_id) — the shared [[qualitySql]]
    * quantized to the same 1e-6 fixed point. */
  private def curriculumPackSql: String =
    s"""WITH RECURSIVE d0 AS (
       |  SELECT doc_id, lang,
       |         CAST(FLOOR(($qualitySql) * 1000000.0) AS BIGINT) q_fx,
       |         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) n_tokens
       |  FROM documents),
       |d AS (SELECT doc_id, lang, q_fx, n_tokens,
       |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q_fx, doc_id) rn
       |      FROM d0),
       |r AS (
       |  SELECT doc_id, lang, q_fx, n_tokens, rn,
       |         CAST(0 AS BIGINT) block_id, n_tokens AS fill
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.doc_id, d.lang, d.q_fx, d.n_tokens, d.rn,
       |         CASE WHEN r.fill > 0 AND r.fill + d.n_tokens > $PackNextFitBlock
       |              THEN r.block_id + 1 ELSE r.block_id END,
       |         CASE WHEN r.fill > 0 AND r.fill + d.n_tokens > $PackNextFitBlock
       |              THEN d.n_tokens ELSE r.fill + d.n_tokens END
       |  FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1)
       |SELECT doc_id, lang, q_fx, n_tokens, CAST(block_id AS BIGINT) AS block_id,
       |       CAST(fill - n_tokens AS BIGINT) AS block_offset
       |FROM r ORDER BY doc_id""".stripMargin

  /** The BPE oracle: all K merge iterations unrolled as MATERIALIZED
    * CTE stages (inlining would expand the doubly-referenced state
    * chain exponentially). The vocabulary state is a separator-framed
    * string — each symbol wrapped in chr(31) with doubled separators
    * between symbols — on which DuckDB's left-to-right non-overlapping
    * REPLACE of `sep·lhs·sep·sep·rhs·sep` is exactly the BPE merge
    * step (the framing makes cross-symbol-boundary matches
    * impossible, including for prefix-sharing multi-char symbols).
    * Tie-break (count DESC, lhs ASC, rhs ASC) matches the Scala
    * minBy; an exhausted vocabulary yields empty b-stages on both
    * sides (fully-merged one-symbol states produce no pairs, and the
    * LEFT join passes states through). Precondition: tokens must not
    * contain U+001F — true of any text corpus; a word containing the
    * separator would corrupt only the ORACLE's framing, surfacing as
    * a loud hash mismatch, never a silent pass. Prototype-validated
    * merge-for-merge against an independent scalar reference. */
  private[queries] def bpeCtes: String = {
    val S = "chr(31)"
    val SS = s"$S||$S"
    val sb = new StringBuilder
    sb ++= s"""WITH wc AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) c
       | FROM (SELECT UNNEST(STRING_SPLIT(text,' ')) w FROM documents)
       | GROUP BY w ORDER BY c DESC, w ASC LIMIT $BpeMaxWords),
       |st0 AS MATERIALIZED (SELECT w, $S || ARRAY_TO_STRING(STRING_SPLIT(w, ''), $SS) || $S AS state, c FROM wc)""".stripMargin
    for (k <- 0 until BpeNumMerges) {
      // the state step LEFT-joins its b-stage so an exhausted vocabulary
      // (empty b) passes states through unchanged instead of emptying
      // the chain — matching the Scala trainer's early stop
      sb ++= s""",
         |p$k AS MATERIALIZED (SELECT a[i+1] l, a[i+2] r, CAST(SUM(c) AS BIGINT) pc
         |  FROM (SELECT STRING_SPLIT(TRIM(state, chr(31)), $SS) a, c FROM st$k) t,
         |       UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) u(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, pc FROM p$k ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
         |st${k + 1} AS MATERIALIZED (SELECT w, COALESCE(REPLACE(state, $S||l||$SS||r||$S, $S||l||r||$S), state) state, c
         |  FROM st$k LEFT JOIN b$k ON TRUE)""".stripMargin
    }
    sb.toString
  }

  /** Per-word learned-token counts off the training chain's final state —
    * exact for the engine's greedy encoder because every corpus word is in
    * the training word table at test SFs (see [[bpeEncode]]). */
  private[queries] def wtokCte: String = {
    val SS = "chr(31)||chr(31)"
    s"wtok AS MATERIALIZED (SELECT w, CAST(LEN(STRING_SPLIT(TRIM(state, chr(31)), $SS)) AS BIGINT) nt FROM st$BpeNumMerges)"
  }

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("ws_tokens"),
        TA.bpeTokenCount(col("text")).as("bpe_tokens"),
        TA.charsPerToken(col("text")).as("chars_per_token"))
      .orderBy("doc_id")
  query("q_token_stats", Oracle(
      s"""SELECT doc_id,
         |       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ws_tokens,
         |       CAST(LEN(regexp_extract_all(text, '${TA.bpePattern}')) AS BIGINT) AS bpe_tokens,
         |       CASE WHEN LEN(regexp_extract_all(text, '${TA.bpePattern}')) = 0 THEN 0.0
         |            ELSE CAST(LENGTH(text) AS DOUBLE) / LEN(regexp_extract_all(text, '${TA.bpePattern}')) END AS chars_per_token
         |FROM documents ORDER BY doc_id""".stripMargin))(tokenStats)

  /** Quality-weighted selection to a fixed global token budget
    * ([[graft.operators.Sampling.tokenBudgetSelect]]): best documents
    * first (quality desc, doc_id tiebreak) until 10k cumulative tokens.
    * The cumulative sum is the distributed prefix-sum shape — no
    * single-partition global window (PlanQualitySpec pins that). */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame =
    // fanOutToCores measured a net loss here too (0.78 → 0.85 s idle
    // min): the round-robin exchange of the text column costs more than
    // the spread saves on the two scoring passes — left on the 1-task
    // scan the data layout dictates
    graft.operators.Sampling.tokenBudgetSelect(
        Tables.documents(spark, dir).select(col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens"),
          TA.qualityScore(col("text")).as("quality")),
        "doc_id", "n_tokens", "quality", budget = 10000L)
      .orderBy("doc_id")
  query("q_token_budget", Oracle(
      s"""WITH d AS (SELECT doc_id,
         |             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         |             $qualitySql AS quality
         |           FROM documents),
         |s AS (SELECT doc_id, n_tokens, quality,
         |        CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
         |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |      FROM d)
         |SELECT doc_id, n_tokens, quality, cum_tokens
         |FROM s WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin))(tokenBudget)

  /** Equal-width doc_id prefix buckets the vocabulary-growth audit
    * reports, shared with the oracle. */
  private val VocabGrowthBuckets = 10

  /** Vocabulary-growth (Heaps-law) audit: the corpus in ingest order
    * (doc_id) split into [[VocabGrowthBuckets]] equal-width id ranges;
    * per bucket, the prefix document/token mass, the cumulative distinct
    * vocabulary, and the NEW words first introduced in that bucket — the
    * novelty-decay curve a crawl operator reads to decide whether the
    * next crawl increment still adds vocabulary or only re-crawls known
    * text (Heaps' law predicts vocab ~ tokens^beta; a flattening curve
    * means the source is exhausted). Scale shape: one tokenization
    * explode feeds a map-side-combined MIN per word (the only
    * vocabulary-sized shuffle — "first introduction" is an aggregate,
    * never a sort or window over the corpus) and a per-doc token count;
    * everything after is bucket-sized (≤ 10 rows), with the cumulative
    * sums from a triangular self-join on that tiny frame — no
    * partition-less window (the fleet invariant). All outputs are exact
    * integers. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    val maxDoc = docs.agg(max(col("doc_id")).as("max_doc"))
    val nb = lit(VocabGrowthBuckets)
    def bucketOf(c: Column): Column =
      least(floor(c * nb / (col("max_doc") + 1)), nb - 1).cast(LongType)
    val newWords = words.groupBy("word").agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(maxDoc))
      .select(bucketOf(col("fd")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_words"))
    val docTok = words.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    // <= 10 rows; feeds the triangular join twice
    val base = Materialize.pin(docs.select(col("doc_id")).join(docTok, Seq("doc_id"))
      .crossJoin(broadcast(maxDoc))
      .select(bucketOf(col("doc_id")).as("bucket"), col("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .join(newWords, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_words"), lit(0L)).as("new_words")))
    base.as("b").join(base.as("p"), col("p.bucket") <= col("b.bucket"))
      .groupBy(col("b.bucket").as("bucket"))
      .agg(sum(col("p.n_docs")).as("prefix_docs"),
        sum(col("p.n_tokens")).as("prefix_tokens"),
        sum(col("p.new_words")).as("vocab"))
      .join(base.select(col("bucket"), col("new_words")), Seq("bucket"))
      .select(col("bucket"), col("prefix_docs"), col("prefix_tokens"),
        col("vocab"), col("new_words"))
      .orderBy("bucket")
  }
  // Heaps-law growth: the Spark bucket arithmetic restated digit for
  // digit (BIGINT*10, one IEEE double division, FLOOR, LEAST) and the
  // same triangular cumulative join over the <=10-row bucket frame —
  // every output column an exact integer
  query("q_vocab_growth", Oracle(
      s"""WITH md AS (SELECT MAX(doc_id) m FROM documents),
         |w AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) word FROM documents),
         |nw AS (SELECT LEAST(CAST(FLOOR(fd * $VocabGrowthBuckets / (m + 1)) AS BIGINT), ${VocabGrowthBuckets - 1}) bucket,
         |              CAST(COUNT(*) AS BIGINT) new_words
         |       FROM (SELECT word, MIN(doc_id) fd FROM w GROUP BY word), md GROUP BY 1),
         |dt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_tok FROM w GROUP BY 1),
         |base AS (SELECT bs.bucket, bs.n_docs, bs.n_tokens, COALESCE(nw.new_words, 0) new_words
         |         FROM (SELECT LEAST(CAST(FLOOR(d.doc_id * $VocabGrowthBuckets / (m + 1)) AS BIGINT), ${VocabGrowthBuckets - 1}) bucket,
         |                      CAST(COUNT(*) AS BIGINT) n_docs, CAST(SUM(n_tok) AS BIGINT) n_tokens
         |               FROM documents d JOIN dt USING (doc_id), md GROUP BY 1) bs
         |         LEFT JOIN nw ON nw.bucket = bs.bucket),
         |cum AS (SELECT b.bucket, CAST(SUM(p.n_docs) AS BIGINT) prefix_docs,
         |               CAST(SUM(p.n_tokens) AS BIGINT) prefix_tokens,
         |               CAST(SUM(p.new_words) AS BIGINT) vocab
         |        FROM base b JOIN base p ON p.bucket <= b.bucket GROUP BY 1)
         |SELECT c.bucket, c.prefix_docs, c.prefix_tokens, c.vocab, b.new_words
         |FROM cum c JOIN base b ON b.bucket = c.bucket ORDER BY c.bucket""".stripMargin))(vocabGrowth)

  /** Rank depth of the Zipf spectrum fit, shared with the oracle. */
  private val ZipfTopK = 100

  /** Zipf-slope audit: least-squares slope of ln(frequency) against
    * ln(rank) over the top-[[ZipfTopK]] words — the one-number
    * distribution-shape check a corpus-health report carries (natural
    * language sits near slope −1; a synthetic, template-heavy, or
    * corrupted-extraction corpus bends visibly away). Exactness: each
    * ln floor-quantizes to a 1e-6 fixed-point BIGINT (the sourceKl
    * doctrine), the four regression sums ride DECIMAL(38,0) as exact
    * integers, and slope/intercept come from ONE mirrored IEEE op order
    * — so the doubles are engine-exact. Scale shape: one
    * map-side-combined word count, top-k via orderBy+limit
    * (TakeOrderedAndProject — per-partition partial top-k, never a
    * global sort), ranks from a triangular self-join on the ≤ k-row
    * checkpointed frame (no partition-less window), then a 1-row
    * aggregate. The degenerate all-equal-counts corpus reports NULL
    * slope (zero denominator) rather than an ANSI division error. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    // <= k rows; feeds the triangular join twice
    val top = Materialize.pin(Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(ZipfTopK))
    // (n desc, word asc) is a total order, so rank = 1 + #{better rows}
    val ranked = top.as("a").join(top.as("b"),
        col("b.n") > col("a.n") ||
          (col("b.n") === col("a.n") && col("b.word") < col("a.word")),
        "left")
      .groupBy(col("a.word").as("word"), col("a.n").as("n"))
      .agg((count(col("b.word")) + 1L).as("rank"))
    val terms = ranked.select(
      floor(log(col("rank").cast(DoubleType)) * lit(1e6))
        .cast(LongType).as("x_fx"),
      floor(log(col("n").cast(DoubleType)) * lit(1e6))
        .cast(LongType).as("y_fx"))
    val sums = terms.agg(
      count(lit(1)).as("k"),
      sum(col("x_fx").cast(DecimalType(38, 0))).as("sx"),
      sum(col("y_fx").cast(DecimalType(38, 0))).as("sy"),
      sum((col("x_fx") * col("y_fx")).cast(DecimalType(38, 0))).as("sxy"),
      sum((col("x_fx") * col("x_fx")).cast(DecimalType(38, 0))).as("sxx"))
    val den = col("kd") * col("sxxd") - col("sxd") * col("sxd")
    sums.select(col("k").as("n_words"),
        col("k").cast(DoubleType).as("kd"),
        col("sx").cast(DoubleType).as("sxd"),
        col("sy").cast(DoubleType).as("syd"),
        col("sxy").cast(DoubleType).as("sxyd"),
        col("sxx").cast(DoubleType).as("sxxd"))
      .withColumn("slope", when(den === 0, lit(null).cast(DoubleType))
        .otherwise((col("kd") * col("sxyd") - col("sxd") * col("syd")) / den))
      .withColumn("intercept", when(den === 0, lit(null).cast(DoubleType))
        .otherwise((col("syd") - col("slope") * col("sxd")) /
          (col("kd") * lit(1e6))))
      .select(col("n_words"), col("slope"), col("intercept"))
  }
  // Zipf fit: same top-k tie-break, same triangular rank join, lns
  // floor-quantized to 1e-6 fixed point, DECIMAL sums, and the
  // slope/intercept doubles in ONE mirrored IEEE op order with the
  // zero-denominator -> NULL guard on both engines
  query("q_zipf_slope", Oracle(
      s"""WITH w AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) word FROM documents),
         |topw AS (SELECT word, CAST(COUNT(*) AS BIGINT) n FROM w GROUP BY word
         |         ORDER BY n DESC, word ASC LIMIT $ZipfTopK),
         |ranked AS (SELECT a.word, a.n, 1 + COUNT(b.word) AS rank
         |           FROM topw a LEFT JOIN topw b
         |             ON b.n > a.n OR (b.n = a.n AND b.word < a.word)
         |           GROUP BY a.word, a.n),
         |terms AS (SELECT CAST(FLOOR(LN(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT) x_fx,
         |                 CAST(FLOOR(LN(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) y_fx FROM ranked),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) k,
         |             SUM(CAST(x_fx AS DECIMAL(38,0))) sx, SUM(CAST(y_fx AS DECIMAL(38,0))) sy,
         |             SUM(CAST(x_fx * y_fx AS DECIMAL(38,0))) sxy,
         |             SUM(CAST(x_fx * x_fx AS DECIMAL(38,0))) sxx FROM terms),
         |d AS (SELECT k, CAST(k AS DOUBLE) kd, CAST(sx AS DOUBLE) sxd, CAST(sy AS DOUBLE) syd,
         |             CAST(sxy AS DOUBLE) sxyd, CAST(sxx AS DOUBLE) sxxd FROM s),
         |sl AS (SELECT k, kd, sxd, syd,
         |              CASE WHEN kd * sxxd - sxd * sxd = 0 THEN NULL
         |                   ELSE (kd * sxyd - sxd * syd) / (kd * sxxd - sxd * sxd) END AS slope
         |       FROM d)
         |SELECT k AS n_words, slope,
         |       CASE WHEN slope IS NULL THEN NULL
         |            ELSE (syd - slope * sxd) / (kd * 1000000.0) END AS intercept
         |FROM sl""".stripMargin))(zipfSlope)
}
