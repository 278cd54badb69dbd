package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}
import graft.operators.{Artifacts, Dedup, Ivf, TextAnalysis => TA}

/** The persisted artifacts that several query families read — shingle
  * tables, indexes, trained models and scored holdouts — each built once
  * per dataset through [[Artifacts.frame]] / [[Artifacts.model]], with the
  * format constants that key them and [[liveArtifactKeys]], the map of
  * every artifact family's current key.
  */
object SharedArtifacts {
  /** Jaccard thresholds the dedup sweep measures, shared by the Spark
    * side and the generated oracle — ascending, formatted into SQL with
    * BigDecimal plain strings so both engines parse the same literals. */
  private[graft] val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** The composed paths tokenize the corpus ONCE: the (doc, shh)
    * shingle table is persisted and shared by the LSH candidate join and
    * the verify join (4 consumers, 1 tokenization scan). The result of
    * [[Dedup.duplicateClusters]] is materialized eagerly (its default path
    * collects the pair list for driver union-find), so the persist can be
    * released before returning. */
  private[queries] def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_dup_clusters", dir,
        "documents") {
      // the (doc_id, canonical_id) component map is THE dedup artifact a
      // production pipeline persists: five declared queries (clusters /
      // weights / best / clean_corpus / leakage_safe_split) consume it,
      // and the component-minimum fixpoint is deterministic under any
      // execution schedule, so the artifact read equals a recompute
      Materialize.during(sharedShingles(spark, dir))(sh =>
        Dedup.duplicateClusters(
          Dedup.minhashDupPairsFrom(sh, k = 64, bands = 16, threshold = 0.8)
            .select("da", "db")))
    }

  // IVF configuration shared by the query, the SemDeDup query, and the
  // generated oracle SQL — one source of truth for the constants.
  private[queries] val IvfDims = 64; private[queries] val IvfNlist = 10; private[queries] val IvfIters = 2
  /** Bump when [[graft.operators.Ivf.centroids]]' arithmetic changes:
    * versions the persisted-index location so stale disk indexes retrain.
    * fmt4 = DuckDB-cast-faithful toDec (double-multiply + half-away) and
    * decimal→double via unscaled-int / 10^18; fmt5 = the shared
    * [[Artifacts]] path layout (IVF and PQ). */
  private val IvfTrainFormat = 5
  // PQ geometry: 8 blocks × 16 codewords over 64 dims = 8 sub-byte codes
  // per vector (32× smaller than the floats); one Lloyd iteration on the
  // deterministic id-seeded init.
  private[queries] val PqM = 8; private[queries] val PqK = 16; private[queries] val PqIters = 1

  /** The trained PQ codebooks as a once-per-dataset model artifact:
    * training is m deterministic k-means runs and doubles round-trip
    * parquet bit-exactly, so a re-read codebook reconstructs
    * bit-identically to a retrain, and "train once, deploy" survives JVM
    * restarts. IvfTrainFormat busts persisted books when the shared
    * k-means arithmetic changes. */
  private[queries] def sharedCodebooks(b: DataFrame, dir: String): Seq[Seq[Seq[Double]]] = {
    val spark = b.sparkSession
    Artifacts.model(spark, liveArtifactKeys, "graft_pq_books", dir,
        "embeddings", graft.operators.Pq.booksExist)(
        graft.operators.Pq.trainCodebooks(b, PqM, PqK, PqIters))(
      graft.operators.Pq.writeBooks(spark, _, _),
      graft.operators.Pq.readBooks(spark, _))
  }

  /** Train-once, reuse-forever: the ANN query and the SemDeDup query run
    * the same deterministic k-means over the same table, so the trained
    * centroids are a model artifact ([[Ivf.writeCentroids]]) and every
    * later run — including after a JVM restart — reads them back instead
    * of retraining. Doubles round-trip parquet bit-exactly, so a re-read
    * index is bit-identical to a retrain. Centroids ONLY: assignment
    * from baked-in centroids is a narrow projection, so persisting the
    * assignment map would buy nothing for a corpus scan + write. */
  private[queries] def sharedCentroids(b: DataFrame, dir: String): Seq[Seq[Double]] = {
    val spark = b.sparkSession
    Artifacts.model(spark, liveArtifactKeys, "graft_ivf_index", dir,
        "embeddings", Ivf.indexExists)(Ivf.centroids(b, IvfNlist, IvfIters))(
      Ivf.writeCentroids(spark, _, _), Ivf.readCentroids(spark, _))
  }

  // fmt2 = the shared [[Artifacts]] path layout
  private val BpeTrainFormat = 2

  /** The corpus tokenizer as a once-per-dataset model artifact: the
    * first run trains ([[TA.bpeTrain]] — one corpus pass + a
    * vocabulary-sized driver loop) and persists the merge table via
    * [[TA.writeBpeModel]]; every later run — including after a JVM
    * restart — reads it back instead of paying the corpus pass again.
    * Strings round-trip parquet exactly, so a re-read model segments
    * bit-identically (BpeTrainSpec pins this). */
  private[graft] def sharedBpeModel(spark: SparkSession,
      dir: String): graft.functions.BpeMerges = {
    lazy val merges = TA.bpeTrain(Tables.documents(spark, dir), "text",
      numMerges = BpeNumMerges, maxWords = BpeMaxWords)
    Artifacts.model(spark, liveArtifactKeys, "graft_bpe_model", dir,
        "documents", TA.bpeModelExists)(
        new graft.functions.BpeMerges(merges.orderBy("rank")
          .select("lhs", "rhs").collect()
          .map(r => (r.getString(0), r.getString(1)))))(
      (_, tmp) => TA.writeBpeModel(merges, tmp), TA.readBpeModel(spark, _))
  }

  /** Busts PERSISTED int8 indexes when the quantization arithmetic itself
    * changes — the data stamp can't see a code change (the ShingleFormat /
    * IvfTrainFormat doctrine applied to the byte-packed index). */
  private val Int8Format = 1

  /** The (id, dq) dequantized view of the PERSISTED int8 index for the
    * embeddings table at `dir` ([[graft.operators.Quantize.writeIndex]]):
    * written once per dataset, read back (byte-packed parquet, ¼ the
    * float bytes) on every later run including after a JVM restart.
    * Quantization is deterministic and scale/bin round-trip parquet
    * bit-exactly, so the inline native round-trip the fallbacks serve is
    * bit-identical to the persisted read path. */
  private[queries] def int8IndexVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").cast(LongType).as("id"), col("embedding"))
    Artifacts.frame(spark, liveArtifactKeys, "graft_int8_index", dir,
        "embeddings",
        write = (_, tmp) => Quantize.writeIndex(emb, "id", "embedding", tmp),
        read = Quantize.readIndexVectors) {
      emb.select(col("id"), Quantize.roundTrip(col("embedding")).as("dq"))
    }
  }

  /** Single source of truth for every persisted-artifact family's
    * CURRENT format key — what this build writes into `_GRAFT_META` and
    * what the artifact reaper ([[graft.operators.Artifacts.prune]] via
    * [[graft.PruneArtifacts]]) treats as live: a format bump re-keys the
    * artifact path, so the old-format artifact keeps a live data stamp
    * forever while nothing can ever read it — only this map lets the
    * reaper see those dead-key orphans. Each family's key is written
    * only here: call sites name the family and [[Artifacts.model]] /
    * [[Artifacts.frame]] look the key up for both the path and the meta
    * (a family missing here fails loudly at first use). Lazy: it
    * references format constants declared later in this object. */
  private[graft] lazy val liveArtifactKeys: Map[String, String] = Map(
    "graft_shingle_table" -> s"n$ShingleN:fmt$ShingleFormat",
    "graft_winnow_fps" -> "n3w4:fmt1",
    "graft_source_grams" -> "n5:fmt1",
    "graft_lm_scores" -> "fmt1",
    "graft_nb_holdout" -> s"b$NbBuckets:fmt1",
    "graft_lm_model" -> s"topk$LmTopK:fmt1",
    "graft_dsir_scores" -> s"b$DsirBuckets:fmt1",
    "graft_minhash_index" -> "n3k64b16:fmt1",
    "graft_winnow_index" -> "n3w4:fmt1",
    "graft_simhash" -> "b60:fmt1",
    "graft_span_rows" -> "n5:fmt1",
    "graft_dup_clusters" -> "lsh-n3k64b16-t0.8:fmt1",
    "graft_sweep_pairs" -> (s"n$ShingleN:fmt$ShingleFormat" +
      s":cap${Dedup.AuditDfCap}:floor${SweepThresholds.min}"),
    "graft_hot_stats" -> s"n$ShingleN:fmt$ShingleFormat:cap${Dedup.AuditDfCap}",
    "graft_ivf_index" -> s"nlist$IvfNlist:iters$IvfIters:fmt$IvfTrainFormat",
    "graft_int8_index" -> s"int8:fmt$Int8Format",
    "graft_pq_books" -> s"m$PqM:k$PqK:i$PqIters:fmt$IvfTrainFormat",
    "graft_pca_model" -> s"d$IvfDims:i$PcaIters:fmt$PcaTrainFormat",
    "graft_bpe_model" -> s"m$BpeNumMerges:w$BpeMaxWords:fmt$BpeTrainFormat")

  /** Busts PERSISTED shingle artifacts when the tokenization arithmetic
    * itself changes — the data stamp can't see a code change. */
  private val ShingleFormat = 1
  private val ShingleN = 3

  /** The (doc, shh) trigram shingle table as a once-per-dataset artifact
    * of the dedup-audit tokenization: six declared query families (ngram_jaccard,
    * minhash_dedup, dedup_sweep, dup_sources, winnow_pairs, and the
    * nearDupClusters consumers dedup_clusters / dedup_weights /
    * cluster_best / clean_corpus / leakage_safe_split) consume the same
    * (doc_id, shingle-hash array) relation; previously each re-tokenized
    * the corpus per query. [[graft.functions.ShingleHashes]] is
    * deterministic and longs round-trip parquet bit-exactly, so a
    * read-back equals a retokenization (DedupCapSpec compares query
    * outputs across both paths implicitly: first call writes, later
    * calls read). Callers do NOT hold the returned frame: a re-scan of
    * the columnar artifact is cheaper than storing it (r16);
    * the accepted cost is that on the stamp-0 fallback each self-join
    * consumer re-tokenizes — correct, just slower in that degraded
    * environment (the sweepPairs thunk documents the same trade). */
  private[graft] def sharedShingles(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_shingle_table", dir,
        "documents") {
      Dedup.shingleTable(Tables.documents(spark, dir), "text", "doc_id",
        n = ShingleN)
    }

  /** The complete ≥ [[SweepThresholds]].min exact-Jaccard pair list as a
    * once-per-dataset artifact — the sweep's dominant cost (the df-capped
    * candidate self-join) paid once EVER per dataset, not once per JVM.
    * Deterministic: intersection/union counts are exact longs and the
    * Jaccard is one IEEE division per pair, so doubles round-trip parquet
    * bit-exactly; the key versions the shingle arithmetic, the df cap,
    * and the floor (a changed cap or floor re-derives, never re-reads). */
  private[graft] def sweepPairs(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_sweep_pairs", dir,
        "documents") {
      // no pin here: on the stamp-0 / unwritable-root
      // fallback this thunk is re-evaluated PER CALL and an eager
      // checkpoint would pin block-manager state until the GC-driven
      // ContextCleaner gets to it; the self-join reads the shingle
      // relation twice instead — a parquet scan each on the committed
      // path, a re-tokenization each on the fallback (correct but
      // slower, the accepted degraded mode: an operator's fix is the
      // root, not this plan)
      Dedup.allPairsJaccard(sharedShingles(spark, dir),
        threshold = SweepThresholds.min)
    }.select("da", "db", "jaccard") // the artifact also carries `inter`

  /** The sweep's [[Dedup.hotShingleStats]] honesty ledger (1 row) as a
    * once-per-dataset artifact — the df aggregate over the full shingle
    * table is a corpus-sized shuffle, the same argument as [[sweepPairs]];
    * hot_share is one IEEE division of exact longs, so it round-trips
    * parquet bit-exactly. */
  private[queries] def sweepHotStats(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_hot_stats", dir,
        "documents") {
      Dedup.hotShingleStats(sharedShingles(spark, dir))
    }

  /** The (doc_id, fp) winnow fingerprint table as a once-per-dataset
    * artifact — shared by winnowPairs (both self-join sides) and
    * winnowFingerprint; the MOSS index a plagiarism/near-dup service
    * stores PERSISTENTLY by construction, so the artifact IS the
    * production shape, not a cache. */
  private[graft] def sharedWinnowFps(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_winnow_fps", dir,
        "documents") {
      TA.winnowFingerprints(Tables.documents(spark, dir), "text", "doc_id",
        n = 3, w = 4)
    }

  /** The per-gram sorted source-set table ([[sourceGrams]]) as a
    * once-per-dataset artifact: distinct-gram-sized (tiny next to the
    * corpus), deterministic (hashes + sort_array), and the product the
    * cross-source audits re-read instead of re-tokenizing the corpus
    * per audit. */
  private[graft] def sharedSourceGrams(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_source_grams", dir,
        "documents") {
      sourceGrams(Tables.documents(spark, dir))
    }

  /** Per-document bigram-LM scores as a once-per-dataset artifact — the
    * materialized quality-signal COLUMN a production pipeline scores
    * once and reuses across every curation decision (here: q_lm_score
    * and both perplexity-bucket forms). Deterministic: per-gram
    * probabilities floor-quantize to 1e-15 fixed point before the
    * per-doc sum, the final division is one IEEE op, and doubles
    * round-trip parquet bit-exactly. */
  private[queries] def sharedLmScores(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_lm_scores", dir,
        "documents") {
      TA.lmScore(Tables.documents(spark, dir), "text", "doc_id")
    }

  /** The NB classifier's scored holdout as a once-per-dataset artifact —
    * the batch-scoring-job output an evaluation pipeline reads instead
    * of re-training + re-scoring per audit (here: q_nb_classify and
    * q_nb_eval). Deterministic: all log-probabilities floor-quantize to
    * fixed point before summation (predictions are integer argmaxes). */
  private[queries] def sharedNbHoldout(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_nb_holdout", dir,
        "documents") {
      TA.nbClassify(Tables.documents(spark, dir), "text", "doc_id", "lang",
        isTrain = col("doc_id") % 10 < 8, buckets = NbBuckets)
    }

  private val LmTopK = 1 << 20

  /** The deployed bigram-LM gate model as a once-per-dataset model
    * artifact for the CCNet-family filter's count tables: the 4 sorted
    * long arrays + V persist as (kind, k, c) parquet rows, and the read
    * rebuilds the binary-search arrays in sorted order, so a re-read
    * model probes bit-identically to a retrain (training itself is
    * deterministic: exact counts, count-desc/key-asc prune). */
  private[graft] def sharedLmModel(spark: SparkSession,
      dir: String): graft.functions.BigramLmModel = {
    import spark.implicits._
    Artifacts.model(spark, liveArtifactKeys, "graft_lm_model", dir,
        "documents")(graft.functions.BigramLmScore.train(
        Tables.documents(spark, dir), "text", topK = LmTopK))(
      (m, tmp) => (m.c2Keys.indices.map(i => (0, m.c2Keys(i), m.c2Counts(i))) ++
          m.c1Keys.indices.map(i => (1, m.c1Keys(i), m.c1Counts(i))) :+
          ((2, 0L, m.v)))
        .toDF("kind", "k", "c").write.mode("overwrite").parquet(tmp),
      path => {
        val rows = spark.read.parquet(path).select("kind", "k", "c").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        val c2 = rows.filter(_._1 == 0).sortBy(_._2)
        val c1 = rows.filter(_._1 == 1).sortBy(_._2)
        val v = rows.find(_._1 == 2).map(_._3).getOrElse(1L)
        new graft.functions.BigramLmModel(
          c2.map(_._2), c2.map(_._3), c1.map(_._2), c1.map(_._3), v)
      })
  }

  /** The per-document DSIR importance scores as a once-per-dataset
    * artifact — the signal column the DSIR recipe (Xie et al. 2023)
    * computes once and selects against under every budget/threshold;
    * deterministic (per-bucket ln ratios floor-quantize to fixed point
    * before summation). */
  private[queries] def sharedDsirScores(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_dsir_scores", dir,
        "documents") {
      TA.dsirScores(Tables.documents(spark, dir), "text", "doc_id",
        isTarget = col("lang") === "en", buckets = DsirBuckets)
    }

  /** The MinHash signature index as a once-per-dataset artifact — in
    * production the indexed corpus IS a parquet table and only deltas
    * are ever signed (the q_dedup_incremental scaladoc's own framing);
    * the artifact makes the declared query read exactly that shape. */
  private[graft] def sharedSignatureIndex(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_minhash_index", dir,
        "documents") {
      Dedup.signatureIndex(Tables.documents(spark, dir), "text", "doc_id",
        n = 3, k = 64, bands = 16)
    }

  /** The winnow (MOSS) index — shingle sets + fingerprint sets — as a
    * once-per-dataset artifact (the [[sharedSignatureIndex]] story with
    * winnow recall). */
  private[graft] def sharedWinnowIndex(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_winnow_index", dir,
        "documents") {
      Dedup.winnowIndex(Tables.documents(spark, dir), "text", "doc_id",
        n = 3, w = 4)
    }

  /** The 8-bytes-per-doc simhash signature table as a once-per-dataset
    * artifact — the cheapest incremental near-dup state there is, and
    * the one most obviously persisted in production. Serves q_simhash,
    * q_simhash_pairs and q_simhash_incremental. */
  private[graft] def sharedSimhash(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_simhash", dir,
        "documents") {
      Dedup.simhashAgg(Tables.documents(spark, dir), "text", "doc_id",
        bits = 60)
    }

  /** The positional 5-token span-hash table as a once-per-dataset
    * artifact ([[Dedup.spanPositionRows]]) — one tokenization product
    * serving both the duplicated-span diagnostic (q_span_dedup) and the
    * scrub (q_span_scrub). */
  private[graft] def sharedSpanRows(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_span_rows", dir,
        "documents") {
      Dedup.spanPositionRows(Tables.documents(spark, dir), "text", "doc_id",
        n = 5)
    }

  /** Per-gram source-set table feeding [[sourceOverlapFrom]]: one row
    * per distinct 5-gram hash with the SORTED set of sources containing
    * it. collect_set partially aggregates map-side, so the single
    * shuffle moves (8-byte hash, partial source set) — never a
    * two-sided self-join of the gram table (the formulation this
    * replaced shuffled the distinct gram table twice more). Set size is
    * bounded by the source cardinality — the same bound the sources²
    * output already assumes. */
  private[queries] def sourceGrams(docs: DataFrame): DataFrame =
    TA.ngramRows(docs.select("source", "text"), "text", "source",
        n = 5, distinct = true)
      .select(col("source"), xxhash64(col("gram")).as("h"))
      .groupBy("h").agg(sort_array(collect_set(col("source"))).as("srcs"))

  private[queries] val PcaIters = 3

  /** Bust PERSISTED models when the training arithmetic itself changes
    * (the IvfTrainFormat doctrine): fmt2 = the corpus-size-safe
    * normalize-by-n-then-1e-12-norm iteration; fmt3 = the shared
    * [[Artifacts]] path layout. */
  private val PcaTrainFormat = 3

  /** The trained PCA model as a once-per-DATASET model artifact: the
    * expensive part at 100 TB is the `iters + 1` training scans, not the
    * 2·dims+1-double model, and doubles round-trip parquet bit-exactly. */
  private[graft] def sharedPcaModel(spark: SparkSession,
      dir: String): graft.operators.Pca.PcaModel =
    Artifacts.model(spark, liveArtifactKeys, "graft_pca_model", dir,
        "embeddings")(graft.operators.Pca.fit(Tables.embeddings(spark, dir),
        "vec_id", "embedding", dims = IvfDims, iters = PcaIters))(
      graft.operators.Pca.writeModel(spark, _, _),
      graft.operators.Pca.readModel(spark, _, IvfDims))

  private[queries] val DsirBuckets = 4096

  private[queries] val NbBuckets = 1024

  private[queries] val BpeNumMerges = 40
  private[queries] val BpeMaxWords = 4096
}
