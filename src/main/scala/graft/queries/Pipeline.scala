package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{Artifacts, Dedup, Ivf, Similarity, TextAnalysis => TA}

/** LLM-training-data pipeline operators (dedup / similarity / text
  * analysis) as driver-checkable queries over the `documents` and
  * `embeddings` tables. Oracle-parity notes in each query; the MinHash and
  * SimHash queries hash with xxhash64 (not available in DuckDB), so the
  * MinHash query is oracled against the *exact* Jaccard SQL it must agree
  * with, and SimHash is a rows-only check backed by ScalaTest.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TA.charCount(col("text")).as("char_len"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.avgTokenLen(col("text")).as("avg_token_len"),
        TA.stopwordRatio(col("text")).as("stopword_ratio"),
        TA.distinctTokenRatio(col("text")).as("distinct_ratio"),
        TA.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TA.langId(col("text")).as("lang_guess"),
        TA.markerHits(col("text"), TA.langMarkers("en")).as("en_hits"),
        TA.markerHits(col("text"), TA.langMarkers("de")).as("de_hits"),
        TA.markerHits(col("text"), TA.langMarkers("fr")).as("fr_hits"),
        TA.markerHits(col("text"), TA.langMarkers("es")).as("es_hits"))
      .orderBy("doc_id")

  def fingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(TA.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy("fp")

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy("digest")

  /** Keep-first exact dedup on the events stream: one survivor per
    * (user_id, event_type), earliest by (ts, event_id). */
  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame =
    Dedup.keepFirst(
        Tables.events(spark, dir).select("event_id", "ts", "user_id", "event_type"),
        Seq("user_id", "event_type"), Seq(col("ts").asc, col("event_id").asc))
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy("user_id", "event_type")

  /** Exact n-gram Jaccard pairs, candidate-restricted: LSH candidates
    * first ([[Dedup.minhashDupPairsFrom]] — 16×4 bands catch j≥0.8 with
    * p>0.999), exact `array_intersect` Jaccard verification on the
    * candidates only. Same oracle as the all-pairs formulation (the SQL
    * IS exact Jaccard); the difference is the plan — candidate-join on
    * 8-byte band keys instead of the prefix-filtered shingle self-join,
    * the shape that stays sub-quadratic on adversarial corpora. The pure
    * exact path ([[Dedup.jaccardPairsFrom]]) remains the verification
    * tool; TextOpsSpec asserts both produce the same pair set. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    // no persist/localCheckpoint scaffolding (r16, the winnowPairs
    // rationale): the 4 self-join consumers re-read the PERSISTED shingle
    // artifact — a cheap columnar re-scan, not a re-tokenization — and
    // the orderBy sampler reuses the pair pipeline's shuffle outputs
    Dedup.minhashDupPairsFrom(sharedShingles(spark, dir),
        k = 64, bands = 16, threshold = 0.8)
      .orderBy("da", "db")

  def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    // same scaffolding removal as [[ngramJaccard]] (r16)
    Dedup.minhashDupPairsFrom(sharedShingles(spark, dir),
        k = 64, bands = 16, threshold = 0.8)
      .orderBy("da", "db")

  /** Jaccard thresholds the dedup sweep measures, shared by the Spark
    * side and the generated oracle — ascending, formatted into SQL with
    * BigDecimal plain strings so both engines parse the same literals. */
  private[graft] val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Dedup threshold sweep — the tuning curve a curator reads before
    * picking the near-dup cut: for each candidate threshold, how many
    * exact-Jaccard pairs exist and how many documents they touch. Pairs
    * come from [[Dedup.allPairsJaccard]] (the complete shared-shingle
    * candidate form behind its [[Dedup.AuditDfCap]] document-frequency
    * cap — at 100 TB one stop-shingle would otherwise emit ~df² ≈ 10¹⁴
    * candidate rows before the Jaccard filter ever ran) because a banded
    * candidate step's recall depends on the similarity itself and would
    * bend exactly the curve being measured. The cap's honesty ledger
    * rides on every output row as `hot_shingle_share` — the fraction of
    * (doc, shingle) mass the cap excluded from candidate generation
    * (0.0 at the test SFs, where max df 25 ≪ cap, so the capped sweep IS
    * the complete sweep; DedupCapSpec pins the equivalence). The
    * ≥ 0.5-floor pair list is tiny (near-dups are rare) and
    * deterministic (long intersection/union counts + one IEEE division
    * per pair), so it persists as a once-per-dataset artifact
    * ([[sweepPairs]] — the cluster-map treatment): every re-run of the
    * curve, across JVMs and audits, reads the pair table instead of
    * re-running the candidate join; thresholds cost nothing beyond the
    * one pair build EVER, not once per JVM. */
  def dedupSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // localCheckpoint so nPairs and nDocs evaluate the pair table ONCE:
    // negligible on the artifact path (the pair list is tiny), and on
    // the stamp-0 / unwritable-root FALLBACK it is what keeps the
    // dominant candidate self-join from running twice in one query
    val pj = sweepPairs(spark, dir).localCheckpoint()
    val hot = sweepHotStats(spark, dir)
    val th = SweepThresholds.toDF("threshold")
    val sel = pj.crossJoin(broadcast(th))
      .filter(col("jaccard") >= col("threshold"))
    val nPairs = sel.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nDocs = sel
      .select(col("threshold"), explode(array(col("da"), col("db"))).as("d"))
      .groupBy("threshold").agg(countDistinct(col("d")).as("n_docs"))
    val tot = docs.agg(count(lit(1)).as("total_docs"))
    th.join(broadcast(nPairs), Seq("threshold"), "left")
      .join(broadcast(nDocs), Seq("threshold"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(hot.select(col("hot_share"))))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        (coalesce(col("n_docs"), lit(0L)).cast(DoubleType)
          / col("total_docs").cast(DoubleType)).as("doc_share"),
        col("hot_share").as("hot_shingle_share"))
      .orderBy("threshold")
  }

  /** Cross-source duplication matrix — WHERE the near-dups come from:
    * the ≥ 0.8 near-dup pairs of [[minhashDedup]] attributed to their
    * unordered source pair (crawl A mirroring crawl B shows up as one
    * hot off-diagonal cell; a self-duplicating dump as a diagonal one).
    * This is the table that decides which SOURCE to drop or de-prioritize
    * rather than which documents — the coarse decision that precedes
    * per-document dedup in a 100 TB ingest. Scale shape: the pair list
    * is tiny (near-dups are rare) and BROADCASTS to the corpus scan to
    * pick up each side's source — the corpus never shuffles — then one
    * aggregate over the pair-sized tagged frame. */
  def dupSources(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // no persist/localCheckpoint scaffolding (r16, the minhashDedup
    // rationale): the shingle table is a persisted artifact and the pair
    // pipeline is consumed exactly once now that the share denominator
    // is a window (below) instead of a crossJoin against the counts
    // subtree's own aggregate — which re-executed the whole pair+tag
    // pipeline a second time per run
    val pairs = Dedup.minhashDupPairsFrom(sharedShingles(spark, dir),
        k = 64, bands = 16, threshold = 0.8)
      .select("da", "db")
    val src = docs.select(col("doc_id"), col("source"))
    val pa = src.join(broadcast(pairs), col("doc_id") === col("da"))
      .select(col("da"), col("db"), col("source").as("src_a"))
    val tagged = src.join(broadcast(pa), col("doc_id") === col("db"))
      .select(least(col("src_a"), col("source")).as("source_a"),
        greatest(col("src_a"), col("source")).as("source_b"))
    // the share denominator over the source-pair-sized counts frame (≤
    // |sources|² rows) — an unpartitioned window over a bounded frame,
    // same as gateSweep's `whole` window
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    tagged.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (col("n_pairs").cast(DoubleType) /
          sum(col("n_pairs")).over(wAll).cast(DoubleType)).as("pair_share"))
      .orderBy("source_a", "source_b")
  }

  /** Winnowing fingerprints USED for retrieval: candidate pairs are
    * documents sharing any MOSS fingerprint (the ~w×-smaller index of
    * [[winnowFingerprint]] — any shared run of ≥ w+n−1 tokens guarantees
    * a shared fingerprint), then the exact-Jaccard verifier
    * ([[Dedup.jaccardVerifiedPairs]] — the same one the LSH path uses)
    * keeps only true ≥ 0.8 near-dups. The candidate join is an equi-join
    * on the 8-byte fingerprint; nothing all-pairs. Candidates must share
    * at least TWO fingerprints — the standard MOSS-style confidence
    * filter: one shared fingerprint is a single chance 6-token run (on
    * this corpus ~97% of 1-fp pairs are unrelated boilerplate echoes —
    * measured 334k 1-fp candidates vs 8k 2-fp at sf0.1), while a j ≥ 0.8
    * near-dup shares most of its ~n_tokens/w fingerprints. Pairs where
    * either doc carries fewer than 2 fingerprints (a short doc gets one
    * full-cover window) are exempt — they fall back to ≥ 1 shared, or
    * the filter would unrecoverably hide true short near-dups. The
    * candidate join runs behind the [[Dedup.AuditDfCap]] document-
    * frequency cap on the fingerprint — a fp shared by more than cap
    * documents is a boilerplate echo (exactly the mass the ≥ 2 filter
    * later discards ~97% of) and would contribute df² candidate rows on
    * a 100 TB corpus before that filter ever aggregates; the df count
    * shuffles on the SAME fp key the self-join uses. `nfp` (the short-
    * doc exemption) stays the TOTAL fingerprint count, so the exemption
    * is cap-independent. At the test SFs max fp df is 24 ≪ cap, so the
    * capped candidates are the complete ones (DedupCapSpec pins it). The
    * oracle restates exactly this: winnow-SQL candidates behind the same
    * df cap with the same HAVING (≥ 2 OR LEAST(nfp) < 2) (proven winnow
    * recipe from q_winnow_fingerprint) verified by the exact-Jaccard SQL
    * (proven by q_ngram_jaccard), so the recall mechanism itself is part
    * of the checked semantics. */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsWith(spark, dir, Dedup.AuditDfCap)

  /** [[winnowPairs]] with a caller-chosen fp df cap — the form
    * DedupCapSpec drives to prove capped ≡ uncapped at the test SFs. */
  private[graft] def winnowPairsWith(spark: SparkSession, dir: String,
      dfCap: Long): DataFrame = {
    // No persist/localCheckpoint scaffolding (r16): every consumer reads
    // the PERSISTED fp/shingle artifacts, so a re-reference is a cheap
    // columnar re-scan, not a re-tokenization — and the eager checkpoint
    // cost a materialization pass plus extra jobs per call (measured
    // 1.44s → 1.14s without it, sf0.1 idle). The final orderBy's range
    // sampler re-reads only the post-shuffle tail (shuffle outputs are
    // reused across the sample and sort jobs), so the double-execution
    // the checkpoint guarded against does not occur; on a stamp-0
    // (unfingerprintable) dir the artifact falls back to inline builds
    // and each consumer re-tokenizes — correct, just slower in that
    // degraded environment.
    val fps = sharedWinnowFps(spark, dir)
    val sh = sharedShingles(spark, dir)
    // the [[Dedup.dedupAgainstWinnowIndex]] short-doc exemption, batch
    // form: a doc with < 2 fingerprints (one full-cover window) can
    // never share 2, so such pairs fall back to >= 1 shared fp and the
    // exact-Jaccard verifier stays the precision gate
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    // NO pinByKey on the doc_id exchange (r16 added one; r17 re-adjudicated
    // it under the driver's own shape and REVERTED it): the pin's 2x win
    // was real only on an idle box — in cold-JVM full-suite interleaved
    // runs (the driver's protocol) the unpinned form won the per-query
    // median in every paired run (1.23-1.33 s vs 1.55-1.64 s, 4 runs,
    // r17 A/B), because 32 window+join+sorter tasks contend with the
    // suite's own load where AQE's byte-coalesced few-task shape does
    // not. At fleet scale this exchange carries corpus-order bytes and
    // AQE sizes it normally — the pin only ever affected the bench box.
    val base = fps.withColumn("nfp", count(lit(1)).over(w))
    // the cap as an ANTI-join against the hot-fp list, not a df window:
    // the list comes from a map-side-combined aggregate (no whole-row
    // sort — a df window costs ~40% of this query), is EMPTY whenever
    // the cap excludes nothing (the test-SF state, where the anti-join
    // is a broadcast no-op), and at boilerplate scale AQE either
    // broadcasts the still-small list or falls back to an fp-keyed
    // shuffle — the same key the candidate join shuffles on anyway.
    // An infinite cap skips even that (DedupCapSpec's reference side).
    val fpc =
      if (dfCap == Long.MaxValue) base
      else {
        val hotFps = fps.groupBy(col("fp"))
          .agg(count(lit(1)).as("fdf")).filter(col("fdf") > dfCap)
          .select("fp")
        base.join(hotFps, Seq("fp"), "left_anti")
      }
    val cand = fpc.as("x").join(fpc.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        col("x.nfp").as("na"), col("y.nfp").as("nb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2 || least(col("na"), col("nb")) < 2)
      .select("da", "db")
    Dedup.jaccardVerifiedPairs(cand, sh, threshold = 0.8)
      .orderBy("da", "db")
  }

  /** The composed paths tokenize the corpus ONCE: the (doc, shh)
    * shingle table is persisted and shared by the LSH candidate join and
    * the verify join (4 consumers, 1 tokenization scan). The result of
    * [[Dedup.duplicateClusters]] is materialized eagerly (its default path
    * collects the pair list for driver union-find), so the persist can be
    * released before returning. */
  private def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_dup_clusters", dir,
        "documents") {
      // the (doc_id, canonical_id) component map is THE dedup artifact a
      // production pipeline persists: five declared queries (clusters /
      // weights / best / clean_corpus / leakage_safe_split) consume it,
      // and the component-minimum fixpoint is deterministic under any
      // execution schedule, so the artifact read equals a recompute
      val sh = sharedShingles(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try Dedup.duplicateClusters(
        Dedup.minhashDupPairsFrom(sh, k = 64, bands = 16, threshold = 0.8)
          .select("da", "db"))
      finally sh.unpersist(blocking = false)
    }

  /** Near-dup CLUSTERS: MinHash-LSH pairs → connected components, one
    * (doc, canonical) row per duplicated document. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupClusters(spark, dir).orderBy("doc_id")

  /** SOFT near-dup handling (the SlimPajama/D4 "downweight, don't drop"
    * alternative to [[cleanCorpus]]'s removal): every member of a
    * MinHash duplicate cluster keeps its row but carries weight
    * 1/|cluster|, so the cluster contributes one document's worth of
    * training mass in expectation while the sampler still sees every
    * surface form; singletons weigh 1.0. Scale shape: the component
    * table is dup-docs-sized (only documents that appear in a pair) and
    * its size table smaller still, so both attach to the corpus spine
    * as BROADCAST joins — the universe never shuffles (the
    * [[graft.operators.Dedup.keepRepresentatives]] argument, applied to
    * weighting instead of survivor selection). */
  def dedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = nearDupClusters(spark, dir)
    val sizes = clusters.groupBy("canonical_id")
      .agg(count(lit(1)).cast(LongType).as("cluster_size"))
    val labeled = clusters.join(sizes, "canonical_id")
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(labeled), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (lit(1.0) / coalesce(col("cluster_size"), lit(1L)).cast(DoubleType))
          .as("weight"))
      .orderBy("doc_id")
  }

  /** Quality-aware near-dup survivor selection (the FineWeb "keep the
    * best member, not the first" refinement of [[cleanCorpus]]'s
    * canonical-only rule): within each MinHash duplicate cluster the
    * survivor is the member with the highest lexical diversity
    * ([[TA.distinctTokenRatio]]), tie-broken toward the lowest doc_id;
    * every member row is returned with its `kept` flag so the audit
    * shows exactly what a quality-ranked dedup would drop and why.
    * Scale shape: quality is computed for cluster MEMBERS only — the
    * dup-docs-sized component table prunes the corpus scan via an inner
    * broadcast join before any tokenization — and the survivor argmax
    * is a `max_by` aggregation over that dup-docs frame (map-side
    * partials, one small shuffle on canonical_id; no window), whose
    * clusters-sized result broadcasts back onto the member rows. */
  def clusterBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = nearDupClusters(spark, dir)
    // dup-docs-sized; checkpoint so the scan feeding BOTH consumers
    // below (the argmax and the output join) runs once
    val members = docs
      .join(broadcast(clusters), Seq("doc_id"))
      .select(col("doc_id"), col("canonical_id"),
        TA.distinctTokenRatio(col("text")).as("quality"))
      .localCheckpoint()
    // max of (quality, -doc_id) = highest quality, lowest id on ties —
    // doc_id is unique, so the argmax is total and deterministic
    val best = members.groupBy("canonical_id")
      .agg(max_by(col("doc_id"),
            struct(col("quality"), (-col("doc_id")).as("nid"))).as("best_id"),
        count(lit(1)).cast(LongType).as("cluster_size"))
    members.join(broadcast(best), Seq("canonical_id"))
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        col("quality"), (col("doc_id") === col("best_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** The composed training-data cleaning pipeline, end to end: quality
    * gate → exact dedup (keep the lowest doc_id per md5 digest) → near-dup
    * removal (drop every non-canonical member of a MinHash cluster).
    * Output: the surviving corpus (doc_id, lang, quality). */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = docs.select(col("doc_id"), col("lang"), col("text"),
        TA.qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= 0.4)
    // exact: one survivor per digest
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)
    val exactKept = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "text")
    // near: drop non-canonical cluster members (shingle table persisted
    // once inside nearDupClusters — one tokenization scan)
    val clusters = nearDupClusters(spark, dir)
    val nonCanonical = clusters.filter(col("doc_id") =!= col("canonical_id"))
      .select("doc_id")
    exactKept.join(nonCanonical, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Incremental (delta) ingest dedup, composed over two batches: the
    * even-id documents are the already-ingested corpus whose
    * [[Dedup.signatureIndex]] is persisted; the odd-id documents are the
    * new delta, deduped against that index ([[Dedup.dedupAgainstIndex]]:
    * dropped when a verified near-dup exists in the index or earlier in
    * the delta) with survivors appended. Output: the index membership
    * after the ingest, tagged by provenance. In production the index is a
    * parquet table (|shh|+bands longs per doc) and only the delta is ever
    * tokenized — daily ingest never recomputes the world. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    // ONE signature pass over the corpus, split by parity afterwards —
    // signatureIndex is a per-row projection, so filtering before or
    // after it is identical. Since round 14 the signature table IS the
    // persisted parquet artifact the scaladoc's production framing
    // describes (sharedSignatureIndex); only a fresh dataset pays the
    // signing pass. No persist/localCheckpoint scaffolding (r16): every
    // consumer re-reads the artifact (cheap columnar scan), the orderBy
    // sampler reuses the dedup pipeline's shuffle outputs, and dropping
    // the eager materialization removed a third of this query's jobs
    // (measured 0.76s → 0.61s, sf0.1 idle).
    val sig = sharedSignatureIndex(spark, dir)
    val idxA = sig.filter(col("doc") % 2 === 0)
    val sigB = sig.filter(col("doc") % 2 === 1)
    val survivors = Dedup.dedupAgainstIndex(sigB, idxA, threshold = 0.8)
    idxA.union(survivors)
      .select(col("doc").as("doc_id"),
        when(col("doc") % 2 === 0, lit("index")).otherwise(lit("new")).as("src"))
      .orderBy("doc_id")
  }

  /** [[dedupIncremental]] with the WINNOW index instead of MinHash bands
    * ([[Dedup.winnowIndex]] / [[Dedup.dedupAgainstWinnowIndex]]): the
    * same even-id-index / odd-id-delta composition, with candidate
    * recall from ≥ 2 shared MOSS fingerprints. Verification is the same
    * exact-Jaccard pass, and on corpora where every true pair shares ≥ 2
    * fingerprints (measured true at every test SF — near-dup copies
    * share long runs) the survivor set equals the exact semantics, so
    * this query shares q_dedup_incremental's oracle; like the LSH
    * queries, adversarial corpora could in principle open a recall gap
    * the oracle would catch. */
  def winnowIncremental(spark: SparkSession, dir: String): DataFrame = {
    // same scaffolding removal as [[dedupIncremental]] (r16)
    val sig = sharedWinnowIndex(spark, dir)
    val idxA = sig.filter(col("doc") % 2 === 0)
    val sigB = sig.filter(col("doc") % 2 === 1)
    val survivors = Dedup.dedupAgainstWinnowIndex(sigB, idxA, threshold = 0.8)
    idxA.union(survivors)
      .select(col("doc").as("doc_id"),
        when(col("doc") % 2 === 0, lit("index")).otherwise(lit("new")).as("src"))
      .orderBy("doc_id")
  }

  /** [[dedupIncremental]] with the SIMHASH index — the 8-bytes-per-doc
    * recall mechanism ([[graft.operators.Dedup.dedupAgainstSimhashIndex]]):
    * same even-id-index / odd-id-delta composition; a new doc drops when
    * a signature within Hamming radius 3 exists in the index or earlier
    * in the batch. Banding is lossless at radius 3 < 4 bands, so the
    * oracle can state the naive quadratic popcount predicate. */
  def simhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    // same scaffolding removal as [[dedupIncremental]] (r16)
    val sig = sharedSimhash(spark, dir)
    val idxA = sig.filter(col("doc") % 2 === 0)
    val sigB = sig.filter(col("doc") % 2 === 1)
    val survivors = Dedup.dedupAgainstSimhashIndex(sigB, idxA,
      maxHamming = 3, bits = 60, bands = 4)
    idxA.union(survivors)
      .select(col("doc").as("doc_id"),
        when(col("doc") % 2 === 0, lit("index")).otherwise(lit("new")).as("src"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: corpus docs (doc_id ≥ 10) sharing any
    * 3-gram with the "benchmark" docs (doc_id < 10), with hit counts. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // deliberately INLINE tokenization, not the shingle artifact: each
    // side is consumed once, and the native ShingleHashes pass over the
    // text column measured CHEAPER than decoding + exploding the
    // persisted array column (idle 5-rep mins 0.28 vs 0.37 s) — the
    // artifact only wins multi-consumption shapes (gramNovelty)
    val docs = Tables.documents(spark, dir)
    Dedup.contaminatedDocs(
        corpus = docs.filter(col("doc_id") >= 10),
        benchmark = docs.filter(col("doc_id") < 10),
        "text", "doc_id", n = 3)
      .orderBy("doc_id")
  }

  /** Graded decontamination ([[Dedup.contaminationOverlap]]): every
    * corpus doc with the FRACTION of its distinct 3-grams that hit the
    * benchmark set — the thresholdable report production pipelines act
    * on, where q_decontaminate's any-hit flag is the binary special
    * case. Same corpus/benchmark split as q_decontaminate. */
  def contaminationOverlap(spark: SparkSession, dir: String): DataFrame = {
    // inline tokenization — the decontaminate measurement
    val docs = Tables.documents(spark, dir)
    Dedup.contaminationOverlap(
        corpus = docs.filter(col("doc_id") >= 10),
        benchmark = docs.filter(col("doc_id") < 10),
        "text", "doc_id", n = 3)
      .orderBy("doc_id")
  }

  /** [[decontaminate]] served through the Bloom-prefilter path
    * ([[Dedup.contaminatedDocsBloom]]): identical contaminated set (the
    * exact join removes the bitset's false positives — the oracle is the
    * SAME SQL as q_decontaminate), different traffic shape — the scale
    * answer when the benchmark gram set outgrows a broadcast relation. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // inline tokenization — the decontaminate measurement
    val docs = Tables.documents(spark, dir)
    Dedup.contaminatedDocsBloom(
        corpus = docs.filter(col("doc_id") >= 10),
        benchmark = docs.filter(col("doc_id") < 10),
        "text", "doc_id", n = 3)
      .orderBy("doc_id")
  }

  /** [[TA.chunkTokens]] over the corpus: 64-token context windows
    * stepping every 48 tokens (16-token overlap) — the RAG-passage /
    * training-window preparation pass, one narrow explode per doc. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    TA.chunkTokens(Tables.documents(spark, dir), "text", "doc_id",
        chunkSize = 64, overlap = 16)
      .orderBy("doc_id", "chunk_id")

  /** Corpus snapshot diff ([[graft.operators.Diff.snapshotDiff]]): two
    * deterministic "versions" of the documents table — v1 drops ids ≡ 4
    * (mod 5), v2 drops ids ≡ 0 (mod 5) and rewrites the text of ids ≡ 1
    * (mod 7) — diffed into added/removed/changed/unchanged. The 24-byte
    * digest join IS the audit a refreshed-corpus publish ships. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Diff
    val docs = Tables.documents(spark, dir)
    val v1 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
    val v2 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 1, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    Diff.snapshotDiff(v1, v2, "doc_id", Seq("text", "lang", "source"))
      .orderBy("doc_id")
  }

  /** Snapshot-MERGEABLE cardinality — the incremental-ingest form of
    * [[cardinalityAudit]]: per source, DataSketches-HLL sketches of two
    * deterministic snapshot slices (hash-of-id mod 5 — hashed so the
    * slice is independent of the fixture's id-derived source) are
    * built independently (`hll_sketch_agg`), UNIONED as
    * binary sketches (`hll_union`), and the union estimate is compared
    * against a direct single-pass sketch of the combined slice. The
    * operational point: at 100 TB each ingest day sketches ITS OWN
    * delta (bytes per source), and corpus-wide distinct counts come
    * from unioning persisted sketches without ever re-reading a
    * previous day's data. The guarantee is the sketch's ERROR BOUND,
    * not bitwise equality — DataSketches HLL estimates through a HIP
    * accumulator that depends on merge topology (measured here:
    * union-vs-direct drift ~1%, and even the direct estimate shifts
    * with partition layout), so `merge_ok` flags drift ≤ 2% and
    * `union_drift` reports it; contrast [[cardinalityAudit]], whose
    * HLL++ register max-merge IS bit-invariant but has no binary
    * sketch/union surface. No oracle (DuckDB has no DataSketches HLL
    * — the q_cardinality_audit precedent); SketchUnionSpec carries the
    * drift and accuracy contracts. The per-slice `n*_exact` columns are
    * the test-SF measuring stick (their countDistinct shuffles every
    * distinct pair — the cost the sketches exist to avoid); the
    * production form drops them, exactly as [[cardinalityAudit]]
    * documents. */
  def sketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val grams = TA.ngramRows(
        Tables.documents(spark, dir).select("doc_id", "source", "text"),
        "text", "source", n = 5, keep = Seq("doc_id"), distinct = true)
      .select(col("source"), col("doc_id"), xxhash64(col("gram")).as("h"))
    // slice on a HASH of the id, not the id itself — the fixture's
    // source is doc_id-mod-derived, so a raw doc_id%5 slice would
    // correlate with source and leave most sources without a delta
    val slice = pmod(xxhash64(col("doc_id")), lit(5))
    val v1 = grams.filter(slice =!= 4)
    val v2 = grams.filter(slice === 4)
    val s1 = v1.groupBy("source").agg(hll_sketch_agg(col("h")).as("sk1"),
      count_distinct(col("h")).as("n1_exact"))
    val s2 = v2.groupBy("source").agg(hll_sketch_agg(col("h")).as("sk2"),
      count_distinct(col("h")).as("n2_exact"))
    val direct = grams.groupBy("source")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("h"))).as("n_direct_est"))
    // FULL outer: a source whose every row hashes into one slice must
    // still appear (a left join anchored on slice 1 would silently drop
    // a slice-2-only source from the audit)
    s1.join(s2, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("n1_exact"), lit(0L)).as("n1_exact"),
        coalesce(col("n2_exact"), lit(0L)).as("n2_exact"),
        when(col("sk1").isNotNull, hll_sketch_estimate(col("sk1")))
          .otherwise(lit(0L)).as("n1_est"),
        when(col("sk1").isNotNull && col("sk2").isNotNull,
          hll_sketch_estimate(hll_union(col("sk1"), col("sk2"))))
          .when(col("sk1").isNotNull, hll_sketch_estimate(col("sk1")))
          .otherwise(hll_sketch_estimate(col("sk2"))).as("n_union_est"))
      .join(broadcast(direct), Seq("source"))
      .withColumn("union_drift",
        abs(col("n_union_est") - col("n_direct_est")).cast(DoubleType) /
          col("n_direct_est").cast(DoubleType))
      .withColumn("merge_ok", col("union_drift") <= lit(0.02))
      .orderBy("source")
  }

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

  /** The publish-step manifest: 16 deterministic training shards over the
    * cleaned corpus — per shard, docs/tokens/chars. md5-stable shard
    * membership (re-runs can't move a document), one map-side-combined
    * aggregation; [[graft.operators.Sharding.writeShards]] materializes
    * the matching one-file-per-shard layout (ShardingSpec). */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sharding.shardManifest(
        Tables.documents(spark, dir), "text", "doc_id", nShards = 16)
      .orderBy("shard")

  /** Shard-balance audit over the [[shardManifest]] — the straggler
    * predictor a publish step checks before a training run: with one
    * writer (and later one data-loader worker) per shard, wall-clock is
    * the MAX shard, so `skew_ratio` (max/mean tokens) IS the fraction of
    * the fleet that idles, and `cv` (stddev/mean) says whether the hash
    * assignment is balanced or needs more shards. One aggregate over the
    * 16-row manifest; Σx² rides DECIMAL(38,0) (oracle HUGEINT) because
    * squared per-shard token counts overflow a Long at 100 TB. The
    * derived doubles run one fixed IEEE op order on both engines, with
    * the variance clamped at 0 before sqrt (a rounding-mode −0 must not
    * NaN the report). */
  def shardSkew(spark: SparkSession, dir: String): DataFrame = {
    val nd = col("n_shards").cast(DoubleType)
    val totd = col("total_tokens").cast(DoubleType)
    val m = totd / nd
    val ex2 = col("s2").cast(DoubleType) / nd
    graft.operators.Sharding.shardManifest(
        Tables.documents(spark, dir), "text", "doc_id", nShards = 16)
      .agg(count(lit(1)).as("n_shards"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        sum(col("n_tokens").cast(DecimalType(38, 0))
          * col("n_tokens").cast(DecimalType(38, 0))).as("s2"))
      .select(col("n_shards"), col("total_tokens"), col("max_tokens"),
        col("min_tokens"),
        m.as("avg_tokens"),
        when(col("total_tokens") === 0, lit(null).cast(DoubleType))
          .otherwise(col("max_tokens").cast(DoubleType) / m).as("skew_ratio"),
        when(col("total_tokens") === 0, lit(null).cast(DoubleType))
          .otherwise(sqrt(greatest(ex2 - m * m, lit(0.0))) / m).as("cv"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    sharedSimhash(spark, dir)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id")

  /** Every document pair within Hamming radius 3 on the 60-bit simhash —
    * exactly (4 bands of 15 bits make the banded equi-join lossless at
    * radius < 4 by pigeonhole), while the oracle states the naive
    * quadratic popcount join. The signature-level near-dup sibling of
    * q_minhash_dedup whose banding, unlike MinHash's, loses nothing. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsFrom(sharedSimhash(spark, dir),
        maxHamming = 3, bits = 60, bands = 4)
      .orderBy("da", "db")

  def similarityTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        nQueries = 50, k = 5)
      .orderBy("qid", "rank")

  /** Two-table retrieval: vec_id < 50 as the query set, the rest as the
    * corpus — the eval-queries-vs-index shape of [[Similarity.knnJoin]]. */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnJoin(
        emb.filter(col("vec_id") < 50), emb.filter(col("vec_id") >= 50),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .orderBy("qid", "rank")
  }

  /** Hard-negative mining (the DPR / E5 contrastive-training recipe):
    * for each anchor vector, emit the nearest non-self neighbor as the
    * POSITIVE and a deeper-ranked neighbor (rank 8) as the HARD
    * NEGATIVE — semantically close enough to be informative, far
    * enough to be (probably) wrong, which is exactly what contrastive
    * embedding training wants over random negatives. Composes the
    * proven [[Similarity.knnJoin]] rank stage (bit-exact cosine,
    * (sim DESC, cid ASC) ties) with a conditional aggregation pivot;
    * no float math beyond the proven stage. At 100 TB the neighbor
    * stage swaps to the IVF shortlist exactly like q_knn_labels_ivf;
    * the pivot is unchanged. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnJoin(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", "vec_id", "embedding", k = 8)
      .filter(col("rank") === 1 || col("rank") === 8)
      .groupBy(col("qid").as("anchor_id"))
      .agg(
        max(when(col("rank") === 1, col("cid"))).as("pos_id"),
        max(when(col("rank") === 1, col("sim"))).as("pos_sim"),
        max(when(col("rank") === 8, col("cid"))).as("neg_id"),
        max(when(col("rank") === 8, col("sim"))).as("neg_sim"))
      .orderBy("anchor_id")
  }

  /** Semi-supervised kNN label propagation — the label-spreading pass
    * that turns an expensive hand-labeled subset (quality ratings, topic
    * tags) into corpus-wide labels: each unlabeled vector takes the
    * majority label of its k nearest LABELED neighbors (ties break to
    * the smallest label, deterministic). Even vec_ids play the labeled
    * pool here, odd ones get predictions. Composes the proven
    * [[Similarity.knnJoin]] (broadcast probe under the bound, graceful
    * shuffle fallback past it) with a labels-per-query vote — the vote
    * table is (queries × distinct-labels)-sized, never corpus². At
    * 100 TB the neighbor stage swaps to the IVF shortlist exactly like
    * q_ivf_rerank; the vote is unchanged. */
  def knnLabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val labeled = emb.filter(col("vec_id") % 2 === 0)
    val unlabeled = emb.filter(col("vec_id") % 2 === 1)
    val nn = Similarity.knnJoin(unlabeled, labeled,
      "vec_id", "embedding", "vec_id", "embedding", k = 5)
    val withLabel = nn.join(
      broadcast(labeled.select(col("vec_id").as("cid"), col("label"))), "cid")
    val votes = withLabel.groupBy("qid", "label").agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("qid").as("vec_id"), col("label").as("predicted_label"),
        col("votes"))
      .orderBy("vec_id")
  }

  /** [[knnLabelPropagation]] in its 100 TB shape — the neighbor stage
    * swapped from the exhaustive [[Similarity.knnJoin]] to the IVF-SQ8
    * shortlist ([[Ivf.sq8RerankJoin]], the two-table form of
    * q_ivf_rerank's serving path): unlabeled vectors probe their nprobe
    * nearest clusters against the SHARED persisted centroids, candidates
    * are the labeled pool's members of those clusters via the cluster-id
    * equi-join, approximate scores read the persisted byte-packed int8
    * index, and only the 20-candidate shortlist touches raw floats for
    * the exact top-5. The vote is byte-for-byte [[knnLabelPropagation]]'s
    * — majority label, (votes DESC, label ASC) tie-break. Per query this
    * scores ~nprobe/nlist of the labeled pool off the 4×-smaller index;
    * nothing is query×corpus. */
  def knnLabelPropagationIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val b = Ivf.base(emb, "vec_id", "embedding")
    val nn = Ivf.sq8RerankJoin(
      b.filter(col("id") % 2 === 1), b.filter(col("id") % 2 === 0),
      sharedCentroids(b, dir), int8IndexVectors(spark, dir),
      k = 5, nprobe = IvfNprobe, shortlist = 20)
    val labels = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").cast(LongType).as("cid"), col("label"))
    val votes = nn.join(broadcast(labels), "cid")
      .groupBy("qid", "label").agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("qid").as("vec_id"), col("label").as("predicted_label"),
        col("votes"))
      .orderBy("vec_id")
  }

  /** Int8 symmetric quantization of the embedding table — per-vector
    * scale plus the quantized components (CSV string for hash
    * comparability). */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        Quantize.int8Scale(col("embedding")).as("scale"),
        Quantize.int8Csv(col("embedding")).as("q"))
      .orderBy("vec_id")
  }

  /** FLAT-SQ8 retrieval — the exhaustive-baseline sibling of
    * [[ivfRerank]], exactly as [[Similarity.bruteForceTopK]] is the
    * exhaustive baseline of the LSH/IVF ANN paths: approximate scoring
    * over the int8 round-tripped vectors scans the WHOLE compressed
    * corpus per query batch (a flat index — the shape one deliberately
    * chooses for maximum recall on small-to-medium corpora), a per-query
    * shortlist of 20 candidates, then EXACT cosine rerank of only the
    * shortlist to the final top-5. At 100 TB the shortlist should come
    * from probed clusters instead — that composed path is [[ivfRerank]].
    * Quantize/dequantize run in the one native pass
    * ([[graft.operators.Quantize.roundTrip]]); exact vectors are touched
    * only for shortlist members. */
  def quantizedRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    val nQ = 25; val shortlist = 20; val k = 5
    val w = org.apache.spark.sql.expressions.Window
    // NO fanOutToCores here (unlike knnJoin/bruteForceTopK): deq feeds
    // FOUR consumers (both approx sides + both exact-rerank vector
    // attaches), so a repartition multiplies exchange work instead of
    // parallelizing one dominant scoring stage — measured a net loss at
    // bench scale (idle 7-rep mins 0.61s → 0.69s isolated, 2× inflation
    // inside mixed suites) where the 50k-cosine flat pass is too small
    // to amortize the shuffle it adds.
    val deq = Tables.embeddings(spark, dir)
      .select(col("vec_id").cast(LongType).as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("vec"),
        Quantize.roundTrip(col("embedding")).as("dq"))
    val queries = deq.filter(col("id") < nQ)
      .select(col("id").as("qid"), col("dq").as("qdq"))
    val corpus = deq.select(col("id").as("cid"), col("dq").as("cdq"))
    val approx = corpus.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.VectorOps.cosineSimilarity(col("qdq"), col("cdq")).as("asim"))
    val wA = w.partitionBy(col("qid")).orderBy(col("asim").desc, col("cid").asc)
    val cand = approx.withColumn("r", row_number().over(wA))
      .filter(col("r") <= shortlist).select("qid", "cid")
    val full = deq.select(col("id"), col("vec"))
    val exact = cand
      .join(full.select(col("id").as("qid"), col("vec").as("qvec")), Seq("qid"))
      .join(full.select(col("id").as("cid"), col("vec").as("cvec")), Seq("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.VectorOps.cosineSimilarity(col("qvec"), col("cvec")).as("sim"))
    val wE = w.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    exact.withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"), col("cid"), col("sim"))
      .orderBy("qid", "rank")
  }

  /** IVF-SQ8 retrieval — the composed 100 TB serving architecture: the
    * shortlist stage never scans the corpus. Queries probe their
    * `nprobe` nearest clusters against the PERSISTED centroids
    * ([[sharedCentroids]] — a narrow projection, centroids baked in as
    * literals), candidates are those clusters' members via an EQUI-JOIN
    * on the cluster id, approximate scores come from the PERSISTED
    * byte-packed int8 index ([[int8IndexVectors]] — the 4×-smaller table
    * a deployment actually scans, dequantized by the native
    * [[graft.functions.Int8Dequantize]]), and only the per-query
    * shortlist of 20 touches raw float vectors for the exact top-5
    * rerank. Every join is an equi-join (cluster id, then ids); the
    * all-pairs work of [[quantizedRerank]]'s flat scan is gone — per
    * query it scores nprobe/nlist of the corpus. */
  def ivfRerank(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    Ivf.sq8RerankWith(b, sharedCentroids(b, dir),
        int8IndexVectors(spark, dir),
        nQueries = IvfNq, k = IvfK, nprobe = IvfNprobe, shortlist = 20)
      .orderBy("qid", "rank")
  }

  def similarityLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        nQueries = 50, k = 5, planes = 4, tables = 16, dims = 64)
      .orderBy("qid", "rank")

  /** IVF index self-audit: recall@k of the probed-cluster serving path
    * ([[Ivf.topKWith]] over the SHARED persisted centroids — the exact
    * shortlist shape q_similarity_ivf serves) against the exhaustive
    * exact top-k for the same sampled queries. This is THE index-tuning
    * metric — nlist/nprobe trade recall for scan fraction, and a
    * deployment publishes this table before trusting the index. The
    * exact side is necessarily a brute-force pass, so it runs over the
    * SAMPLED query set only (the documented broadcast-baseline shape:
    * queries broadcast, the corpus streams once, per-query top-k); at
    * 100 TB the sample stays fixed while the corpus side is one linear
    * scan — the audit's irreducible cost. Both sides score with the
    * same native cosine and the same (sim DESC, cid ASC) tie-break, so
    * the per-query hit count — and recall exactly n_hits/k — is
    * deterministic. Oracled since round 14: the trained-centroid
    * dependency dissolves because training is deterministic and the
    * persisted artifact re-reads bit-identically, so [[ivfRecallSql]]
    * restates the k-means + probe chain the same way the q_ivf_rerank /
    * q_ivf_sweep oracles already do; PlantedRecallSpec additionally pins
    * recall == 1.0 when every cluster is probed plus the
    * planted-structure floors at the served nprobe. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    ivfRecallWith(b, sharedCentroids(b, dir), IvfNq, IvfK, IvfNprobe)
  }

  /** Exhaustive exact top-k (qid, cid) pairs for the first `nQueries`
    * ids — the ground-truth side shared by [[ivfRecallWith]] and
    * [[ivfSweep]]: queries broadcast, the corpus streams once, the
    * per-query rank window is query-partitioned. Checkpointed because
    * the brute-force scan is every recall audit's dominant cost and
    * each caller consumes it at least twice. */
  private def exactTopKPairs(b: DataFrame, nQueries: Int, k: Int): DataFrame = {
    import graft.functions.VectorOps
    val queries = broadcast(b.filter(col("id") < nQueries)
      .select(col("id").as("qid"), col("raw").as("qvec")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid").asc)
    b.select(col("id").as("cid"), col("raw").as("cvec"))
      .crossJoin(queries)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorOps.cosineSimilarity(col("qvec"), col("cvec")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "cid")
      .localCheckpoint()
  }

  /** [[ivfRecall]] against caller-supplied centroids/config — the form
    * PlantedRecallSpec drives with planted structure. */
  private[graft] def ivfRecallWith(b: DataFrame, cents: Seq[Seq[Double]],
      nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val approx = Ivf.topKWith(b, cents, nQueries, k, nprobe)
      .select(col("qid"), col("cid"))
    val exact = exactTopKPairs(b, nQueries, k)
    val hits = exact.join(broadcast(approx), Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType)
          / col("n_exact").cast(DoubleType)).as("recall"))
      .orderBy("qid")
  }

  /** nprobe values the recall sweep serves — ascending, max = the
    * served [[IvfNprobe]] so the sweep's last row IS the production
    * configuration's recall. */
  // lazy: IvfNprobe is declared further down the object body, and a
  // strict val here would capture its uninitialized 0
  private lazy val IvfSweepProbes = Seq(1L, 2L, IvfNprobe.toLong)

  /** IVF recall-vs-nprobe sweep — [[ivfRecall]]'s tuning curve, the
    * [[dedupSweep]] treatment applied to the ANN index: micro-averaged
    * recall@k at each candidate nprobe in ONE pass, so an operator
    * reads off the cheapest probe count that clears their recall bar
    * instead of re-running the audit per setting. The sweep exploits
    * that probe lists are rank-nested: each (query, candidate) pair is
    * generated and scored ONCE, tagged with the FIRST probe rank that
    * reaches it, and each threshold's shortlist is a filter + rank over
    * that shared scored frame — recall is provably non-decreasing in
    * nprobe (a superset's extra candidates can only displace non-true
    * neighbors, since anything outranking a true top-k member is itself
    * a true top-k member), which IvfSpec pins. Scale shape: probe
    * assignment is a narrow codegen scan against broadcast centroids,
    * candidates come from the cluster-id equi-join, scoring touches
    * each pair once (checkpointed), and the per-threshold rank windows
    * partition by (query, nprobe) — candidate-bounded, never global.
    * The exact side is [[exactTopKPairs]]' one linear corpus scan. */
  def ivfSweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    // a duplicated threshold would put two copies of every candidate in
    // the same (nprobe, qid) rank window and silently halve that row's
    // shortlist; a threshold above IvfNprobe would silently report the
    // IvfNprobe recall under a bigger label
    require(IvfSweepProbes.distinct == IvfSweepProbes &&
        IvfSweepProbes == IvfSweepProbes.sorted &&
        IvfSweepProbes.last == IvfNprobe.toLong,
      s"ivfSweep thresholds must be strictly ascending and end at the " +
        s"served nprobe $IvfNprobe: $IvfSweepProbes")
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val cents = sharedCentroids(b, dir)
    val probes = b.filter(col("id") < IvfNq)
      .select(col("id").as("qid"),
        posexplode(Ivf.probeClusters(col("e"), cents, IvfNprobe))
          .as(Seq("pos", "cl")))
    val assigned = Ivf.assign(b, cents).select(col("id").as("cid"), col("cl"))
    val pairs = probes.join(assigned, Seq("cl"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid")
      .agg((min(col("pos")) + lit(1L)).as("first_probe"))
    val qvecs = broadcast(b.filter(col("id") < IvfNq)
      .select(col("id").as("qid"), col("raw").as("qvec")))
    val scored = pairs
      .join(b.select(col("id").as("cid"), col("raw").as("cvec")), Seq("cid"))
      .join(qvecs, Seq("qid"))
      .select(col("qid"), col("cid"), col("first_probe"),
        VectorOps.cosineSimilarity(col("qvec"), col("cvec")).as("sim"))
    // each pair is scored ONCE either way: the single consumer below
    // replicates rows per swept threshold via the crossJoin, so the
    // former eager localCheckpoint only added a materialization job (r16)
    val thresholds = spark.createDataFrame(IvfSweepProbes.map(Tuple1(_)))
      .toDF("nprobe")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("sim").desc, col("cid").asc)
    val approxTopK = scored.crossJoin(broadcast(thresholds))
      .filter(col("first_probe") <= col("nprobe"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfK)
      .select("nprobe", "qid", "cid")
    val exact = exactTopKPairs(b, IvfNq, IvfK)
    val hits = approxTopK.join(broadcast(exact), Seq("qid", "cid"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    val totals = exact.agg(count(lit(1)).as("n_exact"),
      countDistinct(col("qid")).as("n_queries"))
    thresholds.crossJoin(broadcast(totals))
      .join(broadcast(hits), Seq("nprobe"), "left")
      .select(col("nprobe"), col("n_queries"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType)
          / col("n_exact").cast(DoubleType)).as("recall"))
      .orderBy("nprobe")
  }

  /** IVF cluster-occupancy audit — the index-balance report read next to
    * [[ivfRecall]]: per-cluster member count, corpus share, and
    * `load_factor` (share × nlist, 1.0 = perfectly balanced). Probe cost
    * under IVF is proportional to the PROBED clusters' occupancy, so an
    * overloaded cluster (load_factor ≫ 1) makes every query that probes
    * it scan far more than corpus/nlist vectors, and empty clusters
    * (absent rows — the report has one row per OCCUPIED cluster) waste
    * index capacity; either signals a centroid retrain. Scale shape: the
    * assignment is a narrow codegen scan against broadcast centroids
    * ([[Ivf.assign]]), then ONE map-side-combined aggregate keyed by the
    * nlist-valued cluster id; the 1-row total broadcasts back. */
  def ivfOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    // the total rides a window over the ≤nlist post-agg frame (the
    // q_cluster_sizes shape) instead of the former localCheckpoint +
    // crossJoin against the aggregate's own total — same result, two
    // fewer jobs, and the corpus-sized assignment scan still runs once
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val share = col("n_vecs").cast(DoubleType) /
      sum(col("n_vecs")).over(w).cast(DoubleType)
    Ivf.assign(b, sharedCentroids(b, dir))
      .groupBy(col("cl").cast(LongType).as("cl"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("cl"), col("n_vecs"), share.as("share"),
        (share * lit(IvfNlist.toDouble)).as("load_factor"))
      .orderBy("cl")
  }

  /** D4 prototypicality pruning (Tirumala et al. 2023, the "SSL
    * prototypes" stage run after SemDeDup): within each embedding
    * cluster, the members MOST similar to their cluster centroid are
    * the redundant/template core — drop the top [[ProtoDropFrac]] of
    * each cluster by (cosine-to-centroid DESC, id ASC) rank and keep
    * the diverse tail. Emits the audit columns (cluster, similarity,
    * rank, kept) rather than just survivors so a curator can sweep the
    * drop fraction. Scale shape: assignment and the per-member cosine
    * are ONE narrow codegen scan against broadcast centroids (the
    * nlist-sized CASE dispatch); the rank window partitions BY CLUSTER
    * — bounded by occupancy ≈ corpus/nlist, the parallelism unit nlist
    * controls (the D4 recipe's own sharding), never a global window. */
  def protoPrune(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val cents = sharedCentroids(b, dir)
    val withCl = b.withColumn("cl",
      Ivf.nearestCluster(col("e"), cents).cast(LongType))
    val sim = cents.indices.foldLeft(lit(null).cast(DoubleType)) { (acc, i) =>
      when(col("cl") === i, graft.functions.VectorOps
        .cosineSimilarity(col("raw"), typedLit(cents(i)))).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cl"))
      .orderBy(col("proto_sim").desc, col("id").asc)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cl"))
    withCl.select(col("id"), col("cl"), sim.as("proto_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .withColumn("n_cl", count(lit(1)).over(wc))
      .select(col("id"), col("cl"), col("proto_sim"), col("rank"),
        (col("rank") > ceil(col("n_cl").cast(DoubleType) * lit(ProtoDropFrac))
          .cast(LongType)).as("kept"))
      .orderBy("id")
  }

  private[queries] val ProtoDropFrac = 0.2

  // IVF configuration shared by the query, the SemDeDup query, and the
  // generated oracle SQL — one source of truth for the constants.
  private val IvfDims = 64; private val IvfNlist = 10; private val IvfIters = 2
  /** Bump when [[graft.operators.Ivf.centroids]]' arithmetic changes:
    * versions the persisted-index location so stale disk indexes retrain.
    * fmt4 = DuckDB-cast-faithful toDec (double-multiply + half-away) and
    * decimal→double via unscaled-int / 10^18; fmt5 = the shared
    * [[Artifacts]] path layout (IVF and PQ). */
  private val IvfTrainFormat = 5
  private val IvfNq = 50; private val IvfK = 5; private val IvfNprobe = 5
  private val SemDedupThreshold = 0.35
  // q_lm_gate keep-threshold: the corpus-median lm_score (~0.0345 on the
  // synthetic documents at every SF — the vocabulary, and therefore the
  // score scale, is SF-invariant), so the gate visibly splits the corpus.
  private val LmGateThreshold = 0.0345
  // PQ geometry: 8 blocks × 16 codewords over 64 dims = 8 sub-byte codes
  // per vector (32× smaller than the floats); one Lloyd iteration on the
  // deterministic id-seeded init.
  private val PqM = 8; private val PqK = 16; private val PqIters = 1

  /** [[ivfRerank]] with the approximate side swapped from the int8 index
    * to the PQ reconstruction ([[graft.operators.Pq]]): probed-cluster
    * shortlist (equi-join on the cluster id — nothing corpus-wide),
    * symmetric-distance scores on the 32×-compressed codebook
    * reconstruction, exact rerank of the 50-vector shortlist on raw
    * floats. The shortlist is larger than SQ8's 20 by design: PQ codes
    * are coarse enough that near-identical vectors TIE at the same
    * approximate score (identical code vectors), and the deterministic
    * cid tie-break would push true neighbors off a tight shortlist —
    * PlantedRecallSpec measures the collapse. The oracle re-derives the
    * per-block k-means, codes, and reconstruction in SQL, so the whole
    * PQ recipe is checked, not just the final ranking. */
  def pqRerank(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val books = sharedCodebooks(b, dir)
    val pqView = b.select(col("id"),
      graft.operators.Pq.reconstruct(col("e"), books).as("dq"))
    Ivf.sq8RerankWith(b, sharedCentroids(b, dir), pqView,
        nQueries = IvfNq, k = IvfK, nprobe = IvfNprobe, shortlist = 50)
      .orderBy("qid", "rank")
  }

  /** The trained PQ codebooks as a once-per-dataset model artifact:
    * training is m deterministic k-means runs and doubles round-trip
    * parquet bit-exactly, so a re-read codebook reconstructs
    * bit-identically to a retrain, and "train once, deploy" survives JVM
    * restarts. IvfTrainFormat busts persisted books when the shared
    * k-means arithmetic changes. */
  private def sharedCodebooks(b: DataFrame, dir: String): Seq[Seq[Seq[Double]]] = {
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
  private def sharedCentroids(b: DataFrame, dir: String): Seq[Seq[Double]] = {
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
  private def int8IndexVectors(spark: SparkSession, dir: String): DataFrame = {
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
    * calls read). Callers do NOT persist
    * the returned frame (r16 measured the persist/localCheckpoint
    * scaffolding a net loss against cheap columnar artifact re-scans);
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
      // no localCheckpoint here: on the stamp-0 / unwritable-root
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
  private def sweepHotStats(spark: SparkSession, dir: String): DataFrame =
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
  private def sharedLmScores(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, liveArtifactKeys, "graft_lm_scores", dir,
        "documents") {
      TA.lmScore(Tables.documents(spark, dir), "text", "doc_id")
    }

  /** The NB classifier's scored holdout as a once-per-dataset artifact —
    * the batch-scoring-job output an evaluation pipeline reads instead
    * of re-training + re-scoring per audit (here: q_nb_classify and
    * q_nb_eval). Deterministic: all log-probabilities floor-quantize to
    * fixed point before summation (predictions are integer argmaxes). */
  private def sharedNbHoldout(spark: SparkSession, dir: String): DataFrame =
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
  private def sharedDsirScores(spark: SparkSession, dir: String): DataFrame =
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

  /** IVF index balance diagnostic — per-cluster member counts and corpus
    * share from the SAME shared (persisted) centroids the ANN queries
    * probe: the report that tells an operator whether the index is
    * skewed before a hot cluster becomes the serving bottleneck. One
    * narrow assignment scan + one map-side-combined aggregation; the
    * share window runs on the post-agg frame (≤ nlist rows). Empty
    * clusters are absent (no member rows), same as the oracle's GROUP
    * BY over the assignment CTE. */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    Ivf.assign(b, sharedCentroids(b, dir))
      .groupBy("cl").agg(count(lit(1)).as("n_vectors"))
      .withColumn("share",
        col("n_vectors").cast(DoubleType) /
          sum(col("n_vectors")).over(w).cast(DoubleType))
      .orderBy("cl")
  }

  def similarityIvf(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    Ivf.topKWith(b, sharedCentroids(b, dir), nQueries = IvfNq, k = IvfK,
        nprobe = IvfNprobe)
      .orderBy("qid", "rank")
  }

  /** Embedding outlier report: the 20 vectors farthest (squared L2) from
    * their assigned centroid of the SAME shared persisted index the ANN
    * queries probe — the junk-pruning pass (mis-embedded docs, encoder
    * failures, off-distribution content) a corpus runs before training
    * on its embeddings. One narrow native scan
    * ([[graft.functions.VectorOps.nearestClusterDist]]) + a top-k sort;
    * no join, no shuffle beyond the limit. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val cents = sharedCentroids(b, dir)
    b.select(col("id"),
        Ivf.nearestCluster(col("e"), cents).as("cl"),
        VectorOps.nearestClusterDist(col("e"), cents).as("sqdist"))
      .orderBy(col("sqdist").desc, col("id").asc)
      .limit(20)
  }

  /** Cluster-balanced diverse subset — the coreset-selection pass behind
    * "pick a diverse 5k-example instruction set from 5M candidates":
    * every IVF cluster of the shared persisted index contributes exactly
    * k deterministic members ([[graft.operators.Sampling.samplePerGroup]]
    * by md5 rank), so dominant modes can't crowd out the tail — the
    * diversity dual of [[clusterSizes]]' skew report. Narrow assignment
    * scan + one bounded per-cluster window. */
  def diverseSample(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    graft.operators.Sampling.samplePerGroup(
        Ivf.assign(b, sharedCentroids(b, dir)), "id", "cl", k = 5)
      .orderBy("cl", "id")
  }

  /** Per-language ADAPTIVE quality gate: keep documents at or above
    * their own language's 25th quality percentile — thresholds derived
    * from the corpus itself instead of a magic constant, so a verbose
    * language can't starve a terse one. The per-lang quantile frame is
    * languages-sized → broadcast back; the gate stays a narrow filter.
    * Exact `percentile` matches the oracle's `quantile_cont` bit-for-bit
    * (the q_doc_percentiles argument); the per-row score is IEEE-
    * deterministic (the q_text_stats argument), so the kept set is
    * engine-independent. The operator
    * ([[graft.operators.Sampling.adaptiveGate]]) also carries the 100 TB
    * path — `exact = false` swaps the threshold step to bounded-memory
    * `percentile_approx` with the gate unchanged (AdaptiveGateSpec is the
    * exact/approx parity contract); the oracle hash-check needs the exact
    * form, so that is what this query runs. */
  def adaptiveQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TA.qualityScore(col("text")).as("quality"))
      // materialized once (r17, the qualityAgreement rule): adaptiveGate
      // consumes this twice (threshold aggregate + join-back), and each
      // consumption re-ran the qualityScore text pass. Narrow rows.
      .localCheckpoint()
    graft.operators.Sampling.adaptiveGate(scored, "lang", "quality",
        quantile = 0.25, exact = true)
      .withColumnRenamed("q_thr", "q25")
      .select("doc_id", "lang", "quality", "q25")
      .orderBy("doc_id")
  }

  /** What CONTENT lives in each embedding cluster — the text table
    * joined to the vector table's cluster assignment (doc_id = vec_id,
    * the paired-modality contract): per (cluster, lang), document count,
    * token mass, and the share of the cluster. The report a curator
    * reads next to [[clusterSizes]] to see whether cluster 7's bulge is
    * one language's boilerplate or genuine diversity. The assignment is
    * a narrow scan; the join moves (id, cl) pairs — 16 bytes per vector,
    * never text or vectors; one map-side-combined aggregation. */
  def clusterProfile(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val assigned = Ivf.assign(b, sharedCentroids(b, dir))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("toks"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cl")
    docs.join(assigned, docs("doc_id") === assigned("id"))
      .groupBy("cl", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .withColumn("share",
        col("n_docs").cast(DoubleType) / sum("n_docs").over(w).cast(DoubleType))
      .orderBy("cl", "lang")
  }

  def embeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    Ivf.semDedupPairsWith(b, sharedCentroids(b, dir), SemDedupThreshold)
      .orderBy("da", "db")
  }

  /** SemDeDup (Abbas et al. 2023) END TO END: [[embeddingDedup]]'s
    * within-cluster cosine pairs collapse onto connected components and
    * every vector gets its survivor label — `rep_id` (the component
    * minimum) and `kept` (1 = the representative a curator trains on,
    * 0 = a semantic duplicate the pass drops). The paper's architecture
    * exactly: the quadratic stage is confined inside k-means clusters of
    * the shared persisted index, the component table is dup-pairs-sized,
    * and the labeling join broadcasts against the vector universe
    * ([[graft.operators.Dedup.keepRepresentatives]] — the same terminal
    * step the MinHash cluster path uses, composed here with a semantic
    * pair source). The oracle restates the k-means CTEs (bit-exact, the
    * q_similarity_ivf proof), the cosine pair set (the q_embedding_dedup
    * proof), and the reachability closure (the q_dedup_clusters proof). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val b = Ivf.base(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val pairs = Ivf.semDedupPairsWith(b, sharedCentroids(b, dir),
        SemDedupThreshold)
      .select("da", "db")
    Dedup.keepRepresentatives(b.select(col("id").as("vec_id")), "vec_id", pairs)
      .orderBy("vec_id")
  }

  /** Grouped percentiles of document token counts — corpus length
    * diagnostics. `exact = true` (the declared query): Spark `percentile`
    * and DuckDB `quantile_cont` both do linear interpolation on the
    * sorted values, so the result is exact and hash-comparable (arrays
    * avoided: one column per percentile). Exact percentile buffers each
    * language's value multiset in one aggregation buffer — fine at test
    * SF, NOT the 100 TB shape when one language holds most of the
    * corpus. `exact = false` is the scale path: `percentile_approx`
    * (bounded-memory rank summaries, map-side combinable), rank error
    * ≤ 1/accuracy — PercentileParitySpec pins the exact/approx drift. */
  def docPercentiles(spark: SparkSession, dir: String): DataFrame =
    docPercentiles(spark, dir, exact = true)

  /** The 100 TB regime of [[docPercentiles]] as its own declared query:
    * `percentile_approx`'s bounded-memory rank summaries instead of the
    * whole-multiset exact buffer. No DuckDB oracle can restate a GK
    * sketch bit-for-bit, so this query is deliberately ABSENT from the
    * oracle map — the driver records the weaker rows+schema check, and
    * the numeric contract lives in PercentileParitySpec (rank error
    * ≤ 1/accuracy against the exact dual). */
  def docPercentilesApprox(spark: SparkSession, dir: String): DataFrame =
    docPercentiles(spark, dir, exact = false)

  def docPercentiles(spark: SparkSession, dir: String, exact: Boolean,
      accuracy: Int = 10000): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        TA.tokenCount(col("text")).cast("double").as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        pctl(exact, accuracy)(col("n"), 0.5).as("p50"),
        pctl(exact, accuracy)(col("n"), 0.9).as("p90"),
        pctl(exact, accuracy)(col("n"), 0.99).as("p99"))
      .orderBy("lang")

  /** Exact vs approx per-group percentile, the
    * [[graft.operators.Sampling.adaptiveGate]] pattern shared by every
    * corpus-sized percentile site in this file. */
  private def pctl(exact: Boolean, accuracy: Int)(c: Column, q: Double): Column =
    if (exact) percentile(c, lit(q))
    else percentile_approx(c, lit(q), lit(accuracy))

  /** Stratified deterministic subsample: 30% of en, 60% of de, 90% of
    * everything else — the downsample-the-dominant-language shape. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 30, "de" -> 60), defaultPct = 90)
      .orderBy("doc_id")

  /** [[graft.operators.Sampling.mixtureResample]] to a 40/20/20/20
    * en/de/es/zh target over the skewed language distribution (en holds
    * ~44% of the corpus): en downsamples, the binding source keeps
    * everything, fr (no weight) drops. The oracle restates the whole
    * recipe — per-source counts, T = MIN(n/w), bucket < w·T/n·mod with
    * the proven md5-bucket SQL — so the mixture math itself is part of
    * the checked semantics, not just the final filter. */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureResample(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", "lang",
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "zh" -> 0.2))
      .orderBy("doc_id")

  /** Temperature-flattened mixture over the per-language doc counts —
    * no hand-written card; see
    * [[graft.operators.Sampling.temperatureResample]]. */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureResample(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", "lang")
      .orderBy("doc_id")

  /** [[mixtureResample]]'s token-weighted sibling: the same 40/20/20/20
    * target, but the per-language mass is Σ tokens — the form a real
    * dataset card states. Keeps (doc_id, lang, n_tokens) so the oracle
    * checks the token accounting too. */
  def mixtureTokens(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureResampleTokens(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
          TA.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "lang", "n_tokens",
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "zh" -> 0.2))
      .orderBy("doc_id")

  /** UniMax language-balanced allocation
    * ([[graft.operators.Sampling.unimaxAlloc]]): the 60%-of-corpus token
    * budget waterfilled uniformly across languages with a 1-epoch cap —
    * the languages-sized allocation table (mass, allocation, per-million
    * keep rate) a curator composes with the md5-bucket filter. */
  def unimaxAlloc(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.unimaxAlloc(
        Tables.documents(spark, dir).select(col("lang"),
          TA.tokenCount(col("text")).as("n_tokens")),
        "lang", "n_tokens")
      .orderBy("lang")

  /** Per-source exact-duplication audit: docs, distinct texts (by md5),
    * duplicates and the dup rate for every source — the report a curator
    * reads before deciding where dedup effort goes. Scale shape: exact
    * per-source distinct counts are a (source, text-hash) map-side-
    * combined aggregate — 32-char hex digests shuffle, never full text —
    * then a
    * source-cardinality result. Null texts hash to a sentinel digest so
    * countDistinct sees them as one real value — md5(NULL) is NULL and
    * countDistinct would silently drop it, inflating n_dupes. */
  def dedupStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        countDistinct(coalesce(md5(col("text")), lit("<null>")))
          .cast(LongType).as("n_unique"))
      .withColumn("n_dupes", col("n_docs") - col("n_unique"))
      .withColumn("dup_rate",
        col("n_dupes").cast(DoubleType) / col("n_docs"))
      .orderBy("source")

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
    val byWord = words.groupBy("word").agg(count(lit(1)).as("c_w"))
      // word counts feed the totals AND the join back — one scan
      .localCheckpoint()
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

  /** One-row dataset card — the headline stats a curated corpus
    * publishes (the Datasheets-for-Datasets summary block): document /
    * token totals, language and source cardinalities, exact-duplicate
    * share, and mean token count / quality. Scale shape: everything
    * except the duplicate share comes from ONE corpus scan aggregated to
    * the (lang, source)-sized frame and re-aggregated (the tableProfile
    * no-Expand doctrine: the multi-distinct runs over the tiny grouped
    * frame, never the corpus); the exact duplicate share is the one
    * inherently distinct-shuffle stat — digests-only, the [[dedupStats]]
    * contract, with null texts hashed to a sentinel so the share is
    * exact in their presence. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val g = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
        sum(TA.tokenCount(col("text")).cast(DecimalType(38, 0))).as("tok"),
        sum(floor(TA.qualityScore(col("text")) * lit(1000000.0))
          .cast(LongType).cast(DecimalType(38, 0))).as("q_fx"))
    val head = g.agg(sum(col("n")).cast(LongType).as("n_docs"),
      sum(col("tok")).as("tok_d"),
      sum(col("q_fx")).as("q_fx_d"),
      countDistinct(col("lang")).cast(LongType).as("n_langs"),
      countDistinct(col("source")).cast(LongType).as("n_sources"))
    val uniq = docs.agg(
      countDistinct(coalesce(md5(col("text")), lit("<null>")))
        .cast(LongType).as("n_unique"))
    head.crossJoin(broadcast(uniq))
      .select(col("n_docs"),
        col("tok_d").cast(LongType).as("n_tokens"),
        col("n_langs"), col("n_sources"), col("n_unique"),
        ((col("n_docs") - col("n_unique")).cast(DoubleType)
          / col("n_docs").cast(DoubleType)).as("dup_share"),
        (col("tok_d").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("mean_tokens"),
        (col("q_fx_d").cast(DoubleType) / col("n_docs").cast(DoubleType)
          / lit(1e6)).as("mean_quality"))
      .orderBy("n_docs") // single row; the house total-ORDER-BY rule
  }

  /** Sketch-based distinct-gram cardinality audit: per source, the
    * EXACT distinct 5-gram count beside the HyperLogLog++ estimate
    * (`approx_count_distinct`, rsd 2%) and the realized relative error.
    * At 100 TB the exact column is the one you cannot afford — its
    * countDistinct shuffles every distinct (source, gram) pair — while
    * the sketch column is ONE pass with bytes-sized partial aggregates
    * (per-partition HLL registers, max-merged at the reducer: the same
    * mergeability that lets per-shard sketches from different ingest
    * days union into a corpus-wide cardinality without re-reading
    * anything). This query ships both at test SF to MEASURE the
    * estimator against ground truth; the production form drops the
    * exact column. Estimates are deterministic (register max-merge is
    * order/partitioning-invariant — CardinalityAuditSpec pins that and
    * the error bound), but DuckDB's approx_distinct is a different
    * sketch, so this declares NO oracle SQL: the driver records the
    * rows+schema-level check (the q_ivf_recall precedent). */
  def cardinalityAudit(spark: SparkSession, dir: String): DataFrame =
    TA.ngramRows(Tables.documents(spark, dir).select("source", "text"),
        "text", "source", n = 5, distinct = true)
      .select(col("source"), xxhash64(col("gram")).as("h"))
      .groupBy("source")
      .agg(countDistinct(col("h")).cast(LongType).as("n_exact"),
        approx_count_distinct(col("h"), 0.02).cast(LongType).as("n_approx"))
      .withColumn("rel_error",
        abs(col("n_approx") - col("n_exact")).cast(DoubleType) /
          col("n_exact").cast(DoubleType))
      .orderBy("source")

  /** Cross-source content-overlap matrix: for every pair of sources
    * sharing at least one distinct word-5-gram, the shared-gram count
    * and the Jaccard of the two sources' gram sets — the audit a
    * curator reads to find sources that are partial mirrors of each
    * other BEFORE mixing them (full-text digests miss near-mirrors;
    * 5-gram sets catch them, the q_span_dedup granularity). Scale
    * shape: one tokenization pass emits per-document-distinct grams
    * (native ShingleText), grams collapse to 8-byte hashes, and ONE
    * map-side-combined shuffle on the hash builds a per-gram sorted
    * source set; ordered pairs explode in-row from each set (bounded by
    * sources-per-gram², the same bound the sources² output assumes) and
    * per-source set sizes fall out of the same table — no gram-table
    * self-join, no second corpus pass; sizes attach as broadcast joins.
    * The per-gram table feeds the sizes and pair aggregates, so it
    * materializes once (the spanDupStats recipe). Spark compares
    * hashes, the oracle literal gram text — counts coincide absent a
    * 64-bit collision (the proven q_decontaminate argument). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    // no persist/localCheckpoint scaffolding (dropped r17, the e47dbe5
    // doctrine): gramSources IS a persisted parquet artifact, so the two
    // consumers (sizes + pairs) re-read a cheap columnar scan — the old
    // eager persist+checkpoint paid a materialization pass plus ~6 extra
    // jobs per call (profiled 13 jobs; isolated 7-rep min 0.897 → 0.510 s
    // back-to-back, and 0.258 s on the calmer follow-up run). On the
    // stamp-0 fallback each consumer re-derives inline — correct, just
    // slower in that degraded environment (the sharedShingles rule).
    sourceOverlapFrom(sharedSourceGrams(spark, dir))

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

  /** The overlap matrix from the per-gram source-set table — separated
    * from the persist/checkpoint wrapper so PlanQualitySpec can assert
    * the un-truncated plan (the qualityEnsembleSelected recipe).
    * Ordered (a < b) source pairs explode IN-ROW from each sorted set
    * (sources-per-gram² per row, bounded); per-source distinct-gram
    * counts fall out of the same table by exploding set members — no
    * second corpus pass, no join bigger than the broadcast size
    * attach. */
  private[queries] def sourceOverlapFrom(gramSources: DataFrame): DataFrame = {
    val sizes = gramSources
      .select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val pairArr = flatten(transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs"))), y =>
        struct(x.as("source_a"), y.as("source_b")))))
    val pairs = gramSources
      .select(explode(pairArr).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

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

  /** Per-document 3-gram novelty ([[TA.gramNovelty]]): the fraction of
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

  /** Per-label embedding centroids, one row per (label, dimension) — the
    * class-prototype table probing/classification and drift monitoring
    * read (cosine-to-centroid is the cheapest label sanity check, and
    * [[graft.operators.Ivf]] consumes exactly this shape as seed
    * centroids). ORDER-INVARIANT exactness by the repo's fixed-point
    * doctrine (dsir/CharEntropy): each float component widens to double
    * (exact) and floor-quantizes to a 1e-6 fixed-point BIGINT — one
    * identical IEEE multiply + floor on both engines, no rounding-mode
    * ties (a DECIMAL cast hits half-up-vs-half-even disagreements on
    * the rare float that lands exactly on a scale boundary) — so the
    * per-group sum is the same integer under ANY partitioning or
    * aggregation order. The mean is then two fixed-order IEEE
    * divisions; centroids are 1e-6-quantized, far inside any embedding
    * model's noise floor. Scale shape: the (vector × dim) explode feeds
    * ONE map-side-combined aggregate keyed (label, dim) — partials
    * collapse to labels×dims rows per partition before the shuffle, and
    * the output is labels×dims. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      // sum on DECIMAL(38,0) (the embeddingMoments treatment): at
      // 10¹²-row scale a Long accumulator would wrap silently while the
      // oracle's SUM(BIGINT) promotes to HUGEINT and diverges
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType)
          .cast(DecimalType(38, 0))).as("s_fx"))
      .select(col("label"), col("dim").cast(LongType).as("dim"),
        col("n_vecs"),
        (col("s_fx").cast(DoubleType) / col("n_vecs") / lit(1e6)).as("centroid"))
      .orderBy("label", "dim")

  /** Per-SOURCE embedding drift — the L2 distance between each source's
    * centroid and the global corpus centroid: the provenance-sliced
    * drift monitor read next to [[embeddingMoments]] (global) and
    * [[labelCentroids]] (by class). A source whose centroid sits far
    * from the corpus mean is either genuinely different content or was
    * embedded by a different model version — both require attention
    * before the source joins an ANN index or a training mix. Exactness:
    * per-(source, dim) sums ride the labelCentroids fixed-point
    * doctrine (exact BIGINTs, order/partitioning-invariant); the global
    * per-dim sums are the SAME integers re-aggregated (never a second
    * corpus pass); each dim's squared mean-difference floor-quantizes
    * to 1e-12 fixed point so the cross-dim sum is again an exact
    * integer — drift is deterministic to the last bit. Scale shape: one
    * id-keyed equi join pairs modalities (bucketed co-location at
    * 100 TB — the clusterProfile contract), the explode feeds ONE
    * map-side-combined aggregate, and everything after is
    * sources×dims-sized with a broadcast global attach. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val paired = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
    val bySrc = paired
      .select(col("source"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("source", "dim")
      // DECIMAL(38,0) sums — the labelCentroids/embeddingMoments
      // overflow treatment for 10¹²-row fixed-point accumulations
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType)
          .cast(DecimalType(38, 0))).as("s_fx"))
    val global = bySrc.groupBy("dim")
      .agg(sum(col("n")).as("n_g"), sum(col("s_fx")).as("g_fx"))
    val d = (col("s_fx").cast(DoubleType) / col("n") / lit(1e6)) -
      (col("g_fx").cast(DoubleType) / col("n_g") / lit(1e6))
    bySrc.join(broadcast(global), Seq("dim"))
      .select(col("source"), col("n"),
        floor(d * d * lit(1e12)).cast(LongType).as("t_fx"))
      .groupBy("source")
      .agg(max(col("n")).as("n_vecs"), sum(col("t_fx")).as("d2_fx"))
      .select(col("source"), col("n_vecs"),
        sqrt(col("d2_fx").cast(DoubleType) / lit(1e12)).as("drift"))
      .orderBy("source")
  }

  /** Per-source unigram-distribution drift: KL(P_source ‖ P_corpus)
    * over whitespace tokens — the TEXT-space twin of [[sourceDrift]]'s
    * embedding-space monitor (the signal data-mixing work weighs
    * sources by: a source whose token distribution diverges hard from
    * the corpus either adds diversity or is broken extraction, and the
    * mixer needs to know which before it allocates budget). Exactness:
    * each word's contribution floor-quantizes to a 1e-6 fixed-point
    * BIGINT — `FLOOR(1e6 · p_sw · LN(ratio))` with the probability and
    * ratio doubles built from exact integer counts in one shared IEEE
    * op order — so the per-source sum is an exact integer (the
    * [[splitPsi]] doctrine, summed because integer addition commutes).
    * Scale shape: the corpus tokenizes ONCE into a (source, word)
    * map-side-combined count table; per-word corpus counts and
    * per-source totals are re-aggregations of those counts (never a
    * second scan); the only corpus-sized-ish join is the vocab-keyed
    * equi-join of the (source, word) frame with the per-word table,
    * while source totals and the corpus total attach as broadcasts. */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    val sw = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source", "word")
      .agg(count(lit(1)).as("c_sw"))
      // one tokenization scan feeding THREE re-aggregations below
      .localCheckpoint()
    val byWord = sw.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
    val bySrc = sw.groupBy("source")
      .agg(sum(col("c_sw")).as("n_s"), count(lit(1)).cast(LongType).as("vocab"))
    val total = bySrc.agg(sum(col("n_s")).as("n"))
    val ratio = (col("c_sw").cast(DoubleType) * col("n").cast(DoubleType)) /
      (col("n_s").cast(DoubleType) * col("c_w").cast(DoubleType))
    val termFx = floor(lit(1e6) *
      (col("c_sw").cast(DoubleType) / col("n_s").cast(DoubleType)) *
      log(ratio)).cast(LongType)
    sw.join(byWord, Seq("word"))
      .join(broadcast(bySrc), Seq("source"))
      .crossJoin(broadcast(total))
      .select(col("source"), termFx.as("fx"))
      .groupBy("source")
      // DECIMAL(38,0): the sourceDrift overflow treatment (the per-word
      // terms are small, but the vocab count they sum over is not)
      .agg(sum(col("fx").cast(DecimalType(38, 0))).as("kl_fx"))
      .join(broadcast(bySrc), Seq("source"))
      .select(col("source"), col("n_s").as("n_tokens"), col("vocab"),
        (col("kl_fx").cast(DoubleType) / lit(1e6)).as("kl"))
      .orderBy("source")
  }

  /** Per-DIMENSION embedding moments (mean + population variance), the
    * whitening / feature-scaling statistics an ANN pipeline trains
    * before building an index (a dimension with 10× the variance of the
    * rest dominates every L2 distance; whitening divides it out) and
    * the drift monitor that catches an embedding-model swap. Same
    * fixed-point doctrine as [[labelCentroids]]: components widen to
    * double (exact) and floor-quantize to 1e-6 BIGINTs, so Σq and Σq²
    * are exact integers, order- and partitioning-invariant; both sums
    * ride DECIMAL(38,0) (the oracle's HUGEINT) because at 10¹²-row
    * scale Σq² overflows a Long. The mean/variance doubles then come
    * from one fixed IEEE op order on both engines. Scale shape: the
    * (vector × dim) explode feeds ONE map-side-combined aggregate keyed
    * by dim — partials collapse to `dims` rows per partition before the
    * shuffle; output is `dims` rows. */
  private val PcaIters = 3
  private val PcaOutlierSigmas = 3.0

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

  /** Top principal component of the embeddings via deterministic
    * fixed-point power iteration ([[graft.operators.Pca.fit]]) — the
    * whitening / rotation prep read next to [[embeddingMoments]]
    * before building an IVF/PQ index, and a one-direction drift monitor.
    * `iters + 1` linear corpus scans, one dims-keyed map-side aggregate
    * each, d-sized driver state — the distributed-PCA shape. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.toFrame(spark, sharedPcaModel(spark, dir))

  /** Per-vector projection onto the shared PCA direction with the
    * |t| > 3·√eigval outlier flag ([[graft.operators.Pca.projections]])
    * — the along-dominant-axis outlier report, and the batch twin of
    * [[graft.streaming.StreamOps.projectionGate]]. One narrow codegen
    * scan against the baked-in 2·dims+1-double model. */
  def pcaOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.projections(Tables.embeddings(spark, dir),
      "vec_id", "embedding", sharedPcaModel(spark, dir),
      sigmas = PcaOutlierSigmas)
      .orderBy("vec_id") // the house total-ORDER-BY rule, query layer

  /** Explained-variance summary for the top component: eigval (from the
    * shared PCA model), the covariance trace (Σ per-dim variances, each
    * 1e-12 floor-quantized so the cross-dim sum is exact), and their
    * ratio — THE "is one axis dominant enough to whiten / rotate
    * against?" number read before index prep. Scale shape: one
    * [[embeddingMoments]] aggregate re-reduced to a single row; the
    * model attaches as driver literals. */
  def pcaResidual(spark: SparkSession, dir: String): DataFrame = {
    val m = sharedPcaModel(spark, dir)
    embeddingMoments(spark, dir)
      .select(floor(col("variance") * lit(1e12)).cast(LongType).as("v_fx"))
      .agg(sum(col("v_fx")).as("tr_fx"))
      .select(lit(m.eigval).as("eigval"),
        (col("tr_fx").cast(DoubleType) / lit(1e12)).as("trace"),
        // a trace at or below the 1e-12 quantization floor has no
        // meaningful ratio — NULL, never ±Infinity (the signalCorr
        // zero-variance doctrine)
        when(col("tr_fx") <= 0L, lit(null).cast(DoubleType))
          .otherwise(lit(m.eigval) / (col("tr_fx").cast(DoubleType) / lit(1e12)))
          .as("explained_ratio"))
      .orderBy("eigval") // single row; the house total-ORDER-BY rule
  }

  /** q_pca_residual oracle: the q_embedding_moments variance recipe over
    * [[pcaCtes]]' x frame, trace as the exact 1e-12 fixed-point sum,
    * eigval from the shared norm CTE — all three doubles in the Column
    * tree's op order. */
  private def pcaResidualSql: String =
    s"""$pcaCtes,
       |qq AS (SELECT dim, CAST(FLOOR(v * 1000000.0) AS BIGINT) q FROM x),
       |mv AS (SELECT dim,
       |         (CAST(SUM(q * q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |           - (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
       |             * (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))) / 1e12 AS variance
       |       FROM qq GROUP BY dim),
       |tr AS (SELECT CAST(SUM(CAST(FLOOR(variance * 1e12) AS BIGINT)) AS BIGINT) tr_fx FROM mv)
       |SELECT SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12) AS eigval,
       |       CAST(tr.tr_fx AS DOUBLE) / 1e12 AS trace,
       |       CASE WHEN tr.tr_fx <= 0 THEN NULL
       |            ELSE SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12)
       |                   / (CAST(tr.tr_fx AS DOUBLE) / 1e12) END AS explained_ratio
       |FROM tr CROSS JOIN n$PcaIters n ORDER BY eigval""".stripMargin

  /** The fixed-point power iteration unrolled as CTEs — per-row dots and
    * per-dim sums are SUMs of 1e-6-floored BIGINT terms (exact,
    * order-free), directions renormalized through the identical
    * fixed-point norm, means from the embeddingMoments recipe. One CTE
    * trio (p/s/vt) per iteration; shared by the q_pca_power and
    * q_pca_outliers oracles. */
  private def pcaCtes: String = {
    val seed = java.lang.Double.toString(1.0 / math.sqrt(IvfDims.toDouble))
    val sb = new StringBuilder
    sb ++= s"""WITH xr AS (SELECT vec_id id, CAST(embedding AS DOUBLE[]) raw
              |           FROM embeddings WHERE embedding IS NOT NULL),
              |x AS (SELECT id, UNNEST(RANGE(LEN(raw))) dim, UNNEST(raw) v FROM xr),
              |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM xr),
              |mm AS (SELECT dim, CAST(COUNT(*) AS BIGINT) n,
              |         CAST(CAST(SUM(CAST(FLOOR(v * 1000000.0) AS BIGINT)) AS DOUBLE)
              |              / COUNT(*) / 1000000.0 AS DOUBLE) AS mean
              |       FROM x GROUP BY dim),
              |vt0 AS (SELECT dim, $seed AS vv FROM mm)""".stripMargin
    for (t <- 1 to PcaIters) {
      sb ++= s""",
                |p$t AS (SELECT x.id, SUM(CAST(FLOOR(1000000.0 * (x.v - mm.mean) * vt.vv) AS BIGINT)) dot_fx
                |        FROM x JOIN mm USING (dim) JOIN vt${t - 1} vt USING (dim) GROUP BY x.id),
                |s$t AS (SELECT x.dim, SUM(CAST(FLOOR(1000000.0 * (x.v - mm.mean)
                |                 * (CAST(p.dot_fx AS DOUBLE) / 1000000.0)) AS BIGINT)) s_fx
                |        FROM x JOIN mm USING (dim) JOIN p$t p USING (id) GROUP BY x.dim),
                |w$t AS (SELECT dim, CAST(s_fx AS DOUBLE) / 1000000.0 / CAST(c.n AS DOUBLE) AS wv
                |        FROM s$t CROSS JOIN cnt c),
                |n$t AS (SELECT SUM(CAST(FLOOR(1e12 * wv * wv) AS BIGINT)) nrm_fx FROM w$t),
                |vt$t AS (SELECT dim, wv / SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12) AS vv
                |         FROM w$t CROSS JOIN n$t n)""".stripMargin
    }
    sb.result()
  }

  private def pcaPowerSql: String =
    s"""$pcaCtes
       |SELECT CAST(mm.dim AS BIGINT) dim, mm.mean, vt.vv AS loading,
       |       SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12) AS eigval
       |FROM mm JOIN vt$PcaIters vt USING (dim)
       |CROSS JOIN n$PcaIters n
       |ORDER BY dim""".stripMargin

  /** q_pca_outliers oracle: the [[pcaCtes]] chain's FINAL direction,
    * applied to every vector through the identical fixed-point dot, the
    * outlier bound 3·√eigval from the same norm CTE. */
  private def pcaOutliersSql: String =
    s"""$pcaCtes,
       |pf AS (SELECT x.id, SUM(CAST(FLOOR(1000000.0 * (x.v - mm.mean) * vt.vv) AS BIGINT)) dot_fx
       |       FROM x JOIN mm USING (dim) JOIN vt$PcaIters vt USING (dim) GROUP BY x.id)
       |SELECT id AS vec_id, CAST(dot_fx AS DOUBLE) / 1000000.0 AS t,
       |       (ABS(CAST(dot_fx AS DOUBLE) / 1000000.0)
       |          > $PcaOutlierSigmas * SQRT(SQRT(CAST(n.nrm_fx AS DOUBLE) / 1e12))) AS outlier
       |FROM pf CROSS JOIN n$PcaIters n
       |ORDER BY vec_id""".stripMargin

  def embeddingMoments(spark: SparkSession, dir: String): DataFrame = {
    val nd = col("n_vecs").cast(DoubleType)
    val mq = col("s1").cast(DoubleType) / nd // mean in fixed-point units
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"),
        floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType).as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q").cast(DecimalType(38, 0))).as("s1"),
        sum(col("q").cast(DecimalType(38, 0))
          * col("q").cast(DecimalType(38, 0))).as("s2"))
      .select(col("dim").cast(LongType).as("dim"), col("n_vecs"),
        (mq / lit(1e6)).as("mean"),
        ((col("s2").cast(DoubleType) / nd - mq * mq) / lit(1e12)).as("variance"))
      .orderBy("dim")
  }

  /** Token-length histogram per language in power-of-two buckets — the
    * context-length planning report (what fraction of each language's
    * documents fit in a 1k/4k/8k window, what the packing block size
    * should be, where truncation starts to bite). Bucket = the largest
    * power of two ≤ the whitespace token count, assigned by an exact
    * integer CASE chain on BOTH engines (never floor(log2(n)) — log2 of
    * an exact power of two is not reliably exact in floating point).
    * Scale shape: per-row projection + ONE map-side-combined aggregate
    * keyed (lang, bucket) — partials collapse to langs×buckets rows per
    * partition; the share window runs over that tiny post-agg frame,
    * partitioned by lang. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    Tables.documents(spark, dir)
      .select(col("lang"), lenBucketCol.as("bucket_lo"))
      .groupBy("lang", "bucket_lo")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(w).cast(DoubleType))
      .orderBy("lang", "bucket_lo")
  }

  /** Power-of-two bucket floors shared by [[lengthHistogram]] and its
    * generated oracle SQL — ascending so the fold's last-match-wins
    * nesting picks the LARGEST floor ≤ n. */
  private val LengthBuckets: Seq[Long] =
    (1 to 13).map(p => 1L << p) // 2 .. 8192

  /** Largest power-of-two floor ≤ the whitespace token count, as a
    * Column — the fold is last-match-wins, so ascending bucket order
    * picks the LARGEST satisfied floor. Shared by [[lengthHistogram]]
    * and [[splitPsi]]. */
  private def lenBucketCol: Column = {
    val n = size(split(col("text"), " "))
    LengthBuckets.foldLeft(lit(1L)) { (acc, b) =>
      when(n >= b, lit(b)).otherwise(acc)
    }
  }

  /** The same bucket assignment as a DuckDB CASE chain (descending, so
    * the FIRST satisfied arm is the largest floor) — shared by the
    * q_length_histogram and q_split_psi oracles. */
  private def lenBucketCaseSql: String = {
    val cases = LengthBuckets.reverse
      .map(b => s"WHEN LEN(STRING_SPLIT(text, ' ')) >= $b THEN $b")
      .mkString("\n              ")
    s"CAST(CASE $cases\n              ELSE 1 END AS BIGINT)"
  }

  /** q_length_histogram oracle generated from [[LengthBuckets]] — the
    * same exact-integer bucket assignment as a descending CASE chain. */
  private def lengthHistogramSql: String = {
    s"""WITH b AS (SELECT lang,
       |             $lenBucketCaseSql AS bucket_lo
       |           FROM documents),
       |h AS (SELECT lang, bucket_lo, CAST(COUNT(*) AS BIGINT) n_docs
       |      FROM b GROUP BY 1, 2)
       |SELECT lang, bucket_lo, n_docs,
       |       CAST(n_docs AS DOUBLE)
       |         / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS share
       |FROM h ORDER BY lang, bucket_lo""".stripMargin
  }

  /** q_split_psi oracle: the q_train_split md5-bucket predicate, the
    * shared [[lenBucketCaseSql]] assignment, and the identical
    * fixed-point-log PSI arithmetic (floor-quantized LN at 1e-6, then
    * one shared IEEE op order for the emitted doubles). */
  private def splitPsiSql: String =
    s"""WITH s AS (SELECT lang,
       |             CAST($lenBucketCaseSql AS VARCHAR) AS len_bucket,
       |             CASE WHEN ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
       |                  THEN 'train' ELSE 'test' END AS split
       |           FROM documents),
       |f AS (SELECT 'lang' AS feature, lang AS bucket, split FROM s
       |      UNION ALL
       |      SELECT 'length' AS feature, len_bucket AS bucket, split FROM s),
       |c AS (SELECT feature, bucket,
       |             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) n_train,
       |             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) n_test
       |      FROM f GROUP BY 1, 2),
       |t AS (SELECT feature, CAST(SUM(n_train) AS BIGINT) tot_train,
       |             CAST(SUM(n_test) AS BIGINT) tot_test
       |      FROM c GROUP BY 1)
       |SELECT feature, bucket, n_train, n_test,
       |       CAST(n_train AS DOUBLE) / CAST(tot_train AS DOUBLE) AS p_train,
       |       CAST(n_test AS DOUBLE) / CAST(tot_test AS DOUBLE) AS p_test,
       |       CASE WHEN n_train > 0 AND n_test > 0 THEN
       |         (CAST(n_train AS DOUBLE) / CAST(tot_train AS DOUBLE)
       |           - CAST(n_test AS DOUBLE) / CAST(tot_test AS DOUBLE))
       |         * (CAST(FLOOR(LN((CAST(n_train AS DOUBLE) / CAST(tot_train AS DOUBLE))
       |                          / (CAST(n_test AS DOUBLE) / CAST(tot_test AS DOUBLE)))
       |                       * 1000000.0) AS BIGINT) / 1000000.0)
       |       ELSE NULL END AS psi_term
       |FROM c JOIN t USING (feature)
       |ORDER BY feature, bucket""".stripMargin

  /** Exactly 25 documents per language, deterministically chosen. */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.samplePerGroup(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", "lang", k = 25)
      .orderBy("doc_id")

  /** Deterministic md5-bucket train/test assignment per document. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.trainTestSplit(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", trainPct = 90)
      .select("doc_id", "lang", "bucket", "split")
      .orderBy("doc_id")

  /** Leakage-safe split: [[trainSplit]]'s deterministic md5-bucket
    * assignment keyed on the NEAR-DUP CLUSTER instead of the document,
    * so two near-duplicates can never straddle train/test — the eval-
    * contamination failure a per-document hash split cannot prevent
    * (the doc-level q_train_split puts ~2·p(1−p) of each dup pair
    * across the boundary; this puts zero). Every document maps to its
    * MinHash connected-component canonical (its own id when
    * unduplicated) and the bucket hashes that `unit_id`. Scale shape:
    * the component table is dup-docs-sized → BROADCAST left join onto
    * the corpus spine (the [[dedupWeights]] argument); the split itself
    * stays a narrow per-row hash — no new shuffle beyond the pair
    * mining already proven for [[dedupClusters]]. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val units = docs.select(col("doc_id"), col("lang"))
      .join(broadcast(nearDupClusters(spark, dir)), Seq("doc_id"), "left")
      .withColumn("unit_id", coalesce(col("canonical_id"), col("doc_id")))
    graft.operators.Sampling.trainTestSplit(units, "unit_id", trainPct = 90)
      .select("doc_id", "lang", "unit_id", "bucket", "split")
      .orderBy("doc_id")
  }

  /** Population Stability Index between the train and test splits, per
    * feature bucket — the split-health audit run before trusting an
    * evaluation: a hash split SHOULD distribute every feature identically
    * (PSI ≈ 0); a bucket with a large `psi_term` means the eval set is
    * not measuring the training distribution for that slice (industry
    * folklore: Σ psi_term > 0.2 = act). Features audited: `lang` (the
    * categorical) and `length` (the [[LengthBuckets]] power-of-two
    * floor), both riding ONE scan — a 2-element explode per row, then
    * one map-side-combined aggregate on (feature, bucket) and a
    * broadcast join of the feature-level totals. The log rides the
    * 1e-6 floor-quantized fixed-point doctrine (the BM25-IDF treatment)
    * so the reported doubles come from one shared IEEE op order; a
    * bucket empty on either side reports psi_term NULL (the standard
    * "PSI undefined, act anyway" signal) rather than ±∞. */
  def splitPsi(spark: SparkSession, dir: String): DataFrame = {
    val assigned = graft.operators.Sampling.trainTestSplit(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          lenBucketCol.cast(StringType).as("len_bucket")),
      "doc_id", trainPct = 90)
    val counts = assigned
      .select(col("split"), explode(array(
          struct(lit("lang").as("feature"), col("lang").as("bucket")),
          struct(lit("length").as("feature"), col("len_bucket").as("bucket"))))
        .as("fb"))
      .select(col("split"), col("fb.feature").as("feature"), col("fb.bucket").as("bucket"))
      .groupBy("feature", "bucket")
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    val totals = counts.groupBy("feature")
      .agg(sum(col("n_train")).as("tot_train"), sum(col("n_test")).as("tot_test"))
    val pTrain = col("n_train").cast(DoubleType) / col("tot_train").cast(DoubleType)
    val pTest = col("n_test").cast(DoubleType) / col("tot_test").cast(DoubleType)
    counts.join(broadcast(totals), Seq("feature"))
      .select(col("feature"), col("bucket"), col("n_train"), col("n_test"),
        pTrain.as("p_train"), pTest.as("p_test"),
        when(col("n_train") > 0 && col("n_test") > 0,
          (pTrain - pTest) *
            (floor(log(pTrain / pTest) * lit(1000000.0)).cast(LongType)
              .cast(DoubleType) / lit(1000000.0)))
          .otherwise(lit(null).cast(DoubleType)).as("psi_term"))
      .orderBy("feature", "bucket")
  }

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

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    * the fraction of characters covered by the most frequent word bigram
    * (count × gram chars / doc chars) and by duplicated word trigrams
    * (grams occurring more than once). High values flag boilerplate-like,
    * repetitive documents. Two map-side-combined aggregations over the
    * exploded n-gram stream — scale-safe at any corpus size (keys are
    * (doc, gram); no per-document quadratic work). */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    TA.repetitionStats(Tables.documents(spark, dir), "text", "doc_id", "n_chars")
      .orderBy("doc_id")

  /** The FULL Gopher repetition battery (Rae et al. 2021 §A1.1, the
    * n-gram half): per document, the fraction of characters covered by
    * the most frequent n-gram for n ∈ {2,3,4} (count × gram chars /
    * doc chars) and by duplicated n-grams for n ∈ {5..10} (Σ count ×
    * gram chars over grams occurring more than once) — the nine
    * columns MassiveText thresholds to drop machine-generated
    * repetition ([[repetitionStats]] is the 2-signal teaser; this is
    * the whole table). Scale shape: the signals are DOC-LOCAL, so all
    * NINE ride one narrow shuffle-free projection of per-row
    * [[graft.functions.GramStats]] natives — never nine exploded gram
    * shuffles (the formulation the in-row native replaced, measured
    * 2.3× slower at n=2,3 alone); composes with streaming unchanged. */
  def repetitionProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id") +:
        repetitionSignals(col("text"), col("n_chars"))
          .map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")

  /** The nine repetition fractions as ONE shared set of Column trees —
    * the batch query and the streaming gate
    * ([[graft.streaming.StreamOps.repetitionGate]]) evaluate the
    * identical op sequence, so signal values (and keep decisions)
    * agree bit-for-bit across paths (the ensembleSignals doctrine). */
  private[graft] def repetitionSignals(text: Column,
      nChars: Column): Seq[(String, Column)] = {
    import graft.functions.GramStats.gramStats
    RepetitionTopNs.map { n =>
      val s = gramStats(text, n)
      s"top_${n}gram_frac" ->
        when(nChars === 0 || s.getField("top_cnt") === 0, lit(0.0))
          .otherwise((s.getField("top_cnt") * length(s.getField("top_gram")))
            .cast(DoubleType) / nChars)
    } ++ RepetitionDupNs.map { n =>
      val s = gramStats(text, n)
      s"dup_${n}gram_frac" ->
        when(nChars === 0, lit(0.0))
          .otherwise(s.getField("dup_chars").cast(DoubleType) / nChars)
    }
  }

  private[graft] val RepetitionTopNs = Seq(2, 3, 4)
  private[graft] val RepetitionDupNs = Seq(5, 6, 7, 8, 9, 10)

  /** Corpus-wide boilerplate detection: 3-grams appearing in ≥ minDf
    * distinct documents are "boilerplate"; per document, the fraction of
    * its distinct 3-grams that are boilerplate. The doc-frequency count is
    * one map-side-combined shuffle on the gram; the (small) boilerplate
    * set is broadcast back — the corpus side never shuffles for the
    * membership test, the same shape as benchmark decontamination. */
  def boilerplate(spark: SparkSession, dir: String, minDf: Int = 5): DataFrame =
    // checkpoint BEFORE the orderBy: the global sort's range-partitioner
    // sampling would otherwise execute the df-count + membership join twice
    TA.boilerplateStats(Tables.documents(spark, dir), "text", "doc_id", minDf)
      .localCheckpoint()
      .orderBy("doc_id")

  /** PII scrubbing audit over a contact-card string assembled from
    * customer fields (the synthetic tables carry no raw PII, so the query
    * builds a deterministic one — the OPERATOR is [[graft.operators.Redact]]
    * and runs unmodified over any real column): the full default rule
    * chain (email → IPv4 → phone → digit runs) plus per-rule counts.
    * Pure narrow projection; no shuffle. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Redact
    val contact = concat(
      lit("user"), col("c_custkey").cast(StringType),
      lit("@example.com tel +1 555-"),
      lpad((col("c_custkey") % 10000).cast(StringType), 4, "0"),
      lit(" ip 10.0."), col("c_nationkey").cast(StringType),
      lit("."), (col("c_custkey") % 256).cast(StringType),
      lit(" port "), (col("c_custkey") % 90 + 10).cast(StringType),
      lit(" acct "), (col("c_custkey") + 7000000).cast(StringType))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), contact.as("contact"))
      .select(col("c_custkey"),
        Redact.scrub(col("contact")).as("scrubbed"),
        Redact.matchCount(col("contact"), Redact.email).as("n_emails"),
        Redact.matchCount(col("contact"), Redact.ipv4).as("n_ips"),
        Redact.matchCount(col("contact"), Redact.phone).as("n_phones"),
        Redact.matchCount(col("contact"), Redact.digitRun).as("n_ids"))
      .orderBy("c_custkey")
  }

  /** Winnowing fingerprints over the corpus (trigrams, window 4): the
    * rolling-hash document fingerprint set — per doc ~¼ of its gram
    * hashes, with the MOSS guarantee that any shared 6-token run yields
    * a shared fingerprint. Shuffle-free until the driver's final sort. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    sharedWinnowFps(spark, dir).orderBy("doc_id", "fp")

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

  /** Within-document repeated-chunk scrub
    * ([[graft.functions.SelfDedupChunks]]): remove every repeat of a
    * 2-word chunk inside its own document (keep-first), the removal form
    * of the Gopher repetition rules — complements the cross-document
    * span dedup family, which never looks inside a single document.
    * Pure per-row codegen pass, no shuffle except the output sort;
    * `words_kept < n_words` marks the scrubbed documents. */
  def selfDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"),
        graft.functions.SelfDedupChunks.dedup(col("text"), SelfDedupW)
          .as("text_dedup"))
      .withColumn("words_kept",
        size(split(col("text_dedup"), " ")).cast(LongType))
      .orderBy("doc_id")

  private[graft] val SelfDedupW = 2

  /** Quality-gate threshold sweep: for a 20-step threshold grid over the
    * [[TA.qualityScore]] signal, how many documents each gate would keep
    * — the calibration table a curator reads before picking a cutoff.
    * The scale shape is the point: a sweep is NOT 20 corpus passes (nor
    * a corpus×grid cross join) — scores histogram into a bounded 20-row
    * table in ONE map-side-combined aggregate, and every threshold's
    * keep-count is a suffix-sum over that table. The window/join after
    * the aggregate touch 20 rows, nothing corpus-sized. */
  def gateSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TA.qualityScore(col("text"))
    val hist = Tables.documents(spark, dir)
      .select(least(floor(q * lit(20.0)).cast(LongType), lit(19L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val dense = spark.range(0, 20).toDF("bucket")
      .join(hist, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
    val suffix = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // total = the bucket-0 suffix sum — derived from the 20-row table
    // itself (max over an unbounded window), NOT a second reference to
    // the corpus subtree that would only collapse under ReuseExchange
    val whole = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dense
      .withColumn("n_ge", sum("n").over(suffix).cast(LongType))
      .withColumn("total", max(col("n_ge")).over(whole))
      .select(
        (col("bucket").cast(DoubleType) / lit(20.0)).as("threshold"),
        col("n_ge"),
        (col("n_ge").cast(DoubleType) / col("total")).as("frac"))
      .orderBy("threshold")
  }

  /** Character-entropy quality signal ([[graft.functions.CharEntropyFx]]):
    * Shannon entropy of each document's code-point histogram, the cheap
    * detector for repeated-character / padding / binary-ish junk that
    * length and word-ratio rules miss. One native codegen pass per row
    * (histogram local to the row), shuffle-free except the output sort.
    * Exactness: the score is a fixed-point integer (per-value FLOOR(LN
    * ·1e6) logs, exact integer sum — deterministic under any
    * accumulation order) with the nats value derived per-row. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("char_len"),
        graft.functions.CharEntropyFx.entFx(col("text")).as("ent_fx"),
        entropyNats(col("text")).as("entropy"))
      .orderBy("doc_id")

  /** The ONE definition of the entropy-in-nats expression — shared by
    * [[charEntropy]], [[curationPipeline]]'s gate, and the streaming
    * [[graft.streaming.StreamOps.entropyGate]], so the fixed-point scale
    * and the empty-text convention can never drift between them.
    * Codegen CSE collapses the duplicate native subtrees. */
  private[graft] def entropyNats(text: Column): Column = {
    val len = length(text).cast(LongType)
    when(len === 0, lit(0.0))
      .otherwise((graft.functions.CharEntropyFx.entFx(text)
          .cast(DoubleType) / lit(1000000.0)) / len)
  }

  /** Okapi BM25 retrieval (Robertson et al., TREC-3): score every
    * document against a fixed query-term set and keep the global top-k —
    * the search primitive the corpus-curation loop uses to pull topical
    * slices. Two passes, both scale-shaped: (1) a map-side-combined
    * aggregate collapses the corpus to SIX scalars (N, Σdl, per-term
    * document frequencies) which bake into the plan as literals — the
    * mixture-gate pattern; (2) one narrow scoring scan — term
    * frequencies from a single [[graft.functions.LexiconCounts]]
    * automaton pass per row — feeding TakeOrderedAndProject (per-
    * partition top-k, never a global sort). IDF uses the house
    * fixed-point-log recipe (FLOOR(LN·1e6), the NB/DSIR pattern) so
    * DuckDB restates it exactly; per-row double math is written in the
    * identical association order on both sides. Term-count parity with
    * the REPLACE oracle holds because every query term is border-free
    * AND occurs in this corpus only as a whole space-delimited word, so
    * occurrences never self-overlap. k1 = 1.2, b = 0.75 (the Lucene
    * defaults). */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25K)

  /** The BM25 scoring scan without the top-k: (doc_id, per-term tfs,
    * score). Shared by [[bm25TopK]] and the [[hybridRrf]] sparse leg. */
  private def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lex = new graft.functions.LexiconAutomaton(Bm25Terms)
    val counted = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("dl"),
      graft.functions.LexiconCounts.counts(col("text"), lex).as("tfs"))
    val st = counted.agg(
        count(lit(1)).as("nd"), sum("dl").as("sdl"),
        sum(when(element_at(col("tfs"), 1) > 0, 1L).otherwise(0L)).as("df1"),
        sum(when(element_at(col("tfs"), 2) > 0, 1L).otherwise(0L)).as("df2"),
        sum(when(element_at(col("tfs"), 3) > 0, 1L).otherwise(0L)).as("df3"))
      .head()
    val nd = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / nd
    val idf = Array(st.getLong(2), st.getLong(3), st.getLong(4)).map { df =>
      // fixed-point log (the NB/DSIR oracle recipe) → exact restatement
      math.floor(math.log((nd.toDouble - df + 0.5) / (df + 0.5) + 1.0)
        * 1e6).toLong.toDouble / 1e6
    }
    val norm = lit(1.2) * (lit(0.25) +
      lit(0.75) * col("dl").cast(DoubleType) / lit(avgdl))
    def contrib(i: Int): Column = {
      val tf = element_at(col("tfs"), i + 1).cast(DoubleType)
      lit(idf(i)) * (tf * lit(2.2)) / (tf + norm)
    }
    counted.select(col("doc_id"),
      element_at(col("tfs"), 1).as("tf_" + Bm25Terms(0)),
      element_at(col("tfs"), 2).as("tf_" + Bm25Terms(1)),
      element_at(col("tfs"), 3).as("tf_" + Bm25Terms(2)),
      (contrib(0) + contrib(1) + contrib(2)).as("score"))
  }

  /** Hybrid dense+sparse retrieval via Reciprocal Rank Fusion (Cormack
    * et al. 2009): fuse the BM25 top-20 for the fixed term query with
    * the cosine top-20 around a fixed query vector —
    * `rrf = Σ 1/(60 + rank)`, absent-from-a-list contributing 0 — and
    * keep the fused top-10. Rank-only fusion sidesteps score
    * comparability between the two retrievers, which is why RRF is the
    * standard first fusion. Scale shape: each leg is its own proven
    * top-k (BM25's TakeOrderedAndProject scan; the kNN equi-join), the
    * fusion then touches ≤ 40 rows — windows and the outer join run on
    * candidate lists, never the corpus. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = bm25Scored(spark, dir)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(HybridDepth)
      .withColumn("bm25_rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast(LongType))
      .select("doc_id", "bm25_rank")
    val emb = Tables.embeddings(spark, dir)
    val dense = Similarity.knnJoin(
        emb.filter(col("vec_id") === HybridQueryVec),
        emb.filter(col("vec_id") =!= HybridQueryVec),
        "vec_id", "embedding", "vec_id", "embedding", k = HybridDepth)
      .select(col("cid").as("doc_id"), col("rank").cast(LongType).as("cos_rank"))
    sparse.join(dense, Seq("doc_id"), "outer")
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        (coalesce(lit(1.0) / (lit(60.0) + col("bm25_rank").cast(DoubleType)), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("cos_rank").cast(DoubleType)), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(Bm25K)
  }

  private val HybridDepth = 20
  private val HybridQueryVec = 0L

  /** BM25 query terms — each border-free (no proper prefix that is also
    * a suffix) and a whole word wherever it occurs in this corpus, the
    * two conditions that make the oracle's REPLACE count exact. */
  private val Bm25Terms = Array("spark", "batch", "merge")
  private val Bm25K = 10

  /** [[graft.operators.TextAnalysis.lmScore]] over the corpus: the
    * bigram-LM (CCNet-shape) quality score every document, ordered for
    * the driver compare. */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    sharedLmScores(spark, dir).orderBy("doc_id")

  /** The deployed form of the LM-quality filter: train the compact
    * [[graft.functions.BigramLmModel]] once (here UNPRUNED — `topK` far
    * above the corpus's gram count — so its scores are lmScore-exact
    * and the DuckDB oracle can restate them; a 100 TB run sets a real
    * topK and the rare-gram tail falls to the same 1/V floor), then
    * gate the corpus through [[StreamOps.lmGate]] — the identical
    * batch/stream native filter: one codegen'd tokenize-hash-probe
    * pass per row, no shuffle, no second corpus scan. The threshold
    * sits at the corpus median, the "keep the fluent half" shape. */
  def lmGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = sharedLmModel(spark, dir)
    graft.streaming.StreamOps.lmGate(docs, "text", model, LmGateThreshold)
      .select(col("doc_id"), col("lm_score"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    * language's documents into head / middle / tail by their LM score —
    * the standard corpus partitioning that lets a training mixture
    * over-sample the fluent head without dropping the tail outright.
    * Buckets are per-language quartiles of [[TA.lmScore]] (higher score =
    * more probable = head), so a verbose language's absolute scores never
    * leak into a terse one's cut, the same per-group-threshold doctrine
    * as q_adaptive_quality. Shapes: the lmScore pipeline (one corpus
    * scan, groupBy counts joined back), a languages-sized quartile frame
    * broadcast onto the scored stream, then a narrow bucket projection —
    * nothing new shuffles at 100 TB beyond lmScore itself. The quartile
    * step carries both regimes exactly like
    * [[graft.operators.Sampling.adaptiveGate]]: `exact = true` (the
    * declared query — bit-matches the oracle's `quantile_cont`, but
    * buffers a language's whole score multiset in one aggregation
    * buffer) and `exact = false`, the 100 TB path — bounded-memory
    * `percentile_approx` with the bucket projection unchanged. Rank
    * error ≤ 1/accuracy means bucket flips are confined to documents
    * whose score sits between the exact and approx cut of the SAME
    * boundary (head↔middle at q75, middle↔tail at q25) —
    * PercentileParitySpec is that contract. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    perplexityBuckets(spark, dir, exact = true)

  /** The 100 TB regime of [[perplexityBuckets]] as its own declared
    * query: bounded-memory `percentile_approx` quartiles, bucket
    * projection unchanged. Deliberately ABSENT from the oracle map
    * (no SQL engine restates the GK sketch) — the driver records the
    * weaker rows+schema check; PercentileParitySpec carries the
    * exact-vs-approx numeric contract. */
  def perplexityBucketsApprox(spark: SparkSession, dir: String): DataFrame =
    perplexityBuckets(spark, dir, exact = false)

  def perplexityBuckets(spark: SparkSession, dir: String, exact: Boolean,
      accuracy: Int = 10000): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = sharedLmScores(spark, dir)
    val withLang = docs.select(col("doc_id"), col("lang"))
      .join(scored.select(col("doc_id"), col("lm_score")), Seq("doc_id"))
    val thresholds = withLang.groupBy("lang").agg(
      pctl(exact, accuracy)(col("lm_score"), 0.75).as("q75"),
      pctl(exact, accuracy)(col("lm_score"), 0.25).as("q25"))
    withLang.join(broadcast(thresholds), "lang")
      .withColumn("bucket",
        when(col("lm_score") >= col("q75"), lit("head"))
          .when(col("lm_score") >= col("q25"), lit("middle"))
          .otherwise(lit("tail")))
      .select("doc_id", "lang", "lm_score", "bucket")
      .orderBy("doc_id")
  }

  /** DSIR selection ([[TA.dsirScores]] — Xie et al. 2023): the English
    * slice plays the TARGET distribution, every document scores by its
    * hashed-bigram log importance weight against it, and the top 100 by
    * (score desc, doc_id) are the selected training subset — the
    * deterministic variant of the paper's Gumbel resampling, so the
    * kept set is oracle-checkable. The ln is floor-quantized to 1e-6
    * per bucket before any summation (see dsirScores), so scores are
    * engine-exact integers over 1e6. The selection itself is
    * orderBy+limit — TakeOrderedAndProject's per-partition partial
    * top-k, never a global sort or a single-partition window. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = sharedDsirScores(spark, dir)
    scored.orderBy(col("dsir_score").desc, col("doc_id").asc)
      .limit(100)
      .select("doc_id", "n_grams", "dsir_score")
      .orderBy("doc_id")
  }

  private val DsirBuckets = 4096

  /** Classifier-based data selection ([[TA.nbClassify]]): a multinomial
    * Naive-Bayes language classifier trained on the deterministic 80%
    * doc_id-mod train slice, predicting the 20% holdout — the GPT-3 /
    * PaLM "train a cheap classifier on a trusted slice, score the rest"
    * quality-filtering shape, with NB as the closed-form member (the
    * model is two count tables; training is one aggregation pass). All
    * log-probabilities floor-quantize to fixed point before summation,
    * so predictions and scores are engine-exact. */
  def nbClassify(spark: SparkSession, dir: String): DataFrame =
    sharedNbHoldout(spark, dir).orderBy("doc_id")

  private val NbBuckets = 1024

  /** Per-class precision / recall / F1 of [[nbClassify]]'s holdout
    * predictions — the evaluation table a pipeline publishes BEFORE
    * trusting any classifier-gated selection (a class with precision
    * 0.6 means 40% of what the gate admits under that label is
    * mislabeled). All counts are exact integers off the classify
    * result; the derived doubles run one mirrored IEEE op order; a
    * never-predicted class reports NULL precision/F1 rather than 0/0.
    * Scale shape: two tiny aggregations over the classified holdout
    * (classes-sized frames) and a broadcast join — the expensive part
    * is the classify chain itself, already plan-proven. */
  def nbEval(spark: SparkSession, dir: String): DataFrame = {
    val cls = sharedNbHoldout(spark, dir)
      // the classify chain (train aggregation + scoring scan) is the
      // audit's dominant cost and feeds BOTH aggregations below —
      // checkpoint the holdout-sized result so it runs once, not twice
      // (artifact-backed reads make this a cheap parquet re-read either
      // way; the checkpoint covers the stamp-0 inline fallback)
      .localCheckpoint()
    val byTrue = cls.groupBy("label")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
    val byPred = cls.groupBy(col("predicted").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val prec = when(col("n_pred") > 0,
      col("n_correct").cast(DoubleType) / col("n_pred").cast(DoubleType))
      .otherwise(lit(null).cast(DoubleType))
    val recall = when(col("n_true") > 0,
      col("n_correct").cast(DoubleType) / col("n_true").cast(DoubleType))
      .otherwise(lit(null).cast(DoubleType))
    // FULL outer: a class predicted for other classes' holdout docs but
    // with no holdout true rows of its own (precision 0) must still
    // appear — a left join anchored on the true side would hide it
    byTrue.join(broadcast(byPred), Seq("label"), "full")
      .withColumn("n_true", coalesce(col("n_true"), lit(0L)))
      .withColumn("n_correct", coalesce(col("n_correct"), lit(0L)))
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .withColumn("prec", prec)
      .withColumn("recall", recall)
      .select(col("label"), col("n_true"), col("n_pred"), col("n_correct"),
        col("prec"), col("recall"),
        when(col("prec").isNotNull && col("prec") + col("recall") > 0.0,
          lit(2.0) * col("prec") * col("recall") / (col("prec") + col("recall")))
          .otherwise(lit(null).cast(DoubleType)).as("f1"))
      .orderBy("label")
  }

  /** Language-ID confusion matrix — the heuristic [[langId]] guess
    * against the stored label, per (true, guessed) cell with the
    * within-true-class share: the audit that says WHERE the cheap
    * n-gram marker heuristic is safe to gate on and where it routes to
    * `und`/wrong (the fixture's zh has no marker list, so its row is
    * the designed failure case a curator must see). One narrow codegen
    * scan + one map-side-combined aggregate on the langs²-bounded key;
    * totals attach broadcast. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.documents(spark, dir)
      .select(col("lang").as("lang_true"), TA.langId(col("text")).as("lang_guess"))
      .groupBy("lang_true", "lang_guess").agg(count(lit(1)).as("n"))
    val t = c.groupBy("lang_true").agg(sum(col("n")).as("n_true"))
    c.join(broadcast(t), Seq("lang_true"))
      .select(col("lang_true"), col("lang_guess"), col("n"),
        (col("n").cast(DoubleType) / col("n_true").cast(DoubleType)).as("frac"),
        (col("lang_true") === col("lang_guess")).as("correct"))
      .orderBy("lang_true", "lang_guess")
  }

  /** BPE tokenizer training ([[TA.bpeTrain]]): the 40-merge table
    * learned from the corpus word-frequency profile — rank, merged
    * pair, and the pair's weighted count at learn time. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    TA.bpeTrain(Tables.documents(spark, dir), "text",
        numMerges = BpeNumMerges, maxWords = BpeMaxWords)
      .orderBy("rank")

  private val BpeNumMerges = 40
  private val BpeMaxWords = 4096

  /** The learned BPE vocabulary ([[TA.bpeVocab]]): weighted symbol
    * counts of the corpus's final segmentations — the loader-facing
    * artifact beside the merge table. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    TA.bpeVocab(Tables.documents(spark, dir), "text",
        numMerges = BpeNumMerges, maxWords = BpeMaxWords)
      .orderBy("symbol")

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

  /** The round-12 operators composed END-TO-END as one curation run:
    * strict lexicon gate (any "dup" hit rejects — the C4 badword rule,
    * one Aho–Corasick pass) → character-entropy gate (≥ 2.7 nats — drops
    * low-entropy junk) → within-document repeated-chunk scrub → exact
    * dedup keep-first on the SCRUBBED text → learned-BPE token
    * accounting of the survivors (model trained once per dataset and
    * read back from the persisted [[sharedBpeModel]] artifact after).
    * One narrow codegen scan carries all three gates and the scrub; the
    * only shuffles are the hex-digest dedup window and the output
    * sort. Oracle-exactness: each stage reuses its own proven oracle
    * restatement, chained as CTEs; the BPE count reads survivors' words
    * off the training chain's final states (every scrubbed word is a
    * corpus word, so the [[bpeEncode]] precondition carries over). */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lex = new graft.functions.LexiconAutomaton(CurationLex)
    val model = sharedBpeModel(spark, dir)
    val gated = docs
      .filter(graft.functions.LexiconHits.total(col("text"), lex) === 0L)
      .filter(entropyNats(col("text")) >= lit(CurationMinEntropy))
    val scrubbed = gated.select(col("doc_id"), col("lang"),
      graft.functions.SelfDedupChunks.dedup(col("text"), SelfDedupW)
        .as("text_clean"))
    Dedup.keepFirst(
        scrubbed.withColumn("digest", md5(col("text_clean"))),
        Seq("digest"), Seq(col("doc_id").asc))
      .select(col("doc_id"), col("lang"),
        size(split(col("text_clean"), " ")).cast(LongType).as("n_words_clean"),
        graft.functions.BpeEncodeCount.count(col("text_clean"), model)
          .as("n_bpe"))
      .orderBy("doc_id")
  }

  /** Per-stage rejection audit of [[curationPipeline]] — the funnel
    * report a curator reads beside the pipeline output: how many
    * documents each gate rejected (attributed to the FIRST rejecting
    * stage, in pipeline order), how many the exact post-scrub dedup
    * dropped, and how many survived. ONE narrow codegen scan computes
    * every per-document verdict (lexicon, entropy, scrub digest), then
    * a single map-side-combined aggregation folds them to the 1-row
    * report — the only shuffle is the digest countDistinct's two-phase
    * aggregate; nothing corpus-sized moves. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val lex = new graft.functions.LexiconAutomaton(CurationLex)
    // NULL text coalesces to lexicon-rejected: the pipeline's first
    // filter drops such rows (a null predicate filters out), so
    // attributing them to stage 1 keeps the funnel ADDITIVE — without
    // the coalesce a null-text doc lands in n_input but in NO stage
    // bucket and the report stops summing
    val flagged = Tables.documents(spark, dir).select(
      coalesce(graft.functions.LexiconHits.total(col("text"), lex) === 0L,
        lit(false)).as("lex_ok"),
      coalesce(entropyNats(col("text")) >= lit(CurationMinEntropy),
        lit(false)).as("ent_ok"),
      graft.functions.SelfDedupChunks.dedup(col("text"), SelfDedupW)
        .as("text_clean"))
    flagged.agg(
        count(lit(1)).cast(LongType).as("n_input"),
        count(when(!col("lex_ok"), 1)).cast(LongType).as("n_lexicon_rejected"),
        count(when(col("lex_ok") && !col("ent_ok"), 1)).cast(LongType)
          .as("n_entropy_rejected"),
        count(when(col("lex_ok") && col("ent_ok"), 1)).cast(LongType)
          .as("n_gated"),
        countDistinct(when(col("lex_ok") && col("ent_ok"),
          md5(col("text_clean")))).cast(LongType).as("n_survivors"))
      .withColumn("n_dedup_dropped",
        (col("n_gated") - col("n_survivors")).cast(LongType))
      .select("n_input", "n_lexicon_rejected", "n_entropy_rejected",
        "n_gated", "n_dedup_dropped", "n_survivors")
      .orderBy("n_input")
  }

  /** Selection-bias report of [[curationPipeline]] — the distribution-
    * shift audit run before shipping a curated corpus: per feature
    * bucket (language, source), the corpus share before curation vs
    * among survivors, the keep rate, and the quantized log-ratio
    * `bias_log` = ln(p_kept / p_corpus). A gate that is CONTENT-fair
    * should be close to 0 everywhere; a strongly negative bucket means
    * the pipeline is silently filtering out a language or source (the
    * classic failure: an English-tuned quality gate halving the
    * non-English share). Scale shape: ONE codegen scan computes every
    * per-document verdict; the survivor flag needs only the digest-keyed
    * keep-first window (gated rows sort first within each digest group,
    * so rank 1 ∧ gated ≡ the pipeline's keep-first-among-gated rule —
    * never a second pass); then a 2-element explode, one map-side-
    * combined aggregate, and a broadcast totals join. The log rides the
    * 1e-6 floor-quantized doctrine; an all-rejected bucket reports NULL
    * rather than −∞. */
  def curationBias(spark: SparkSession, dir: String): DataFrame = {
    val lexAut = new graft.functions.LexiconAutomaton(CurationLex)
    val flagged = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("source"),
      (graft.functions.LexiconHits.total(col("text"), lexAut) === 0L &&
        entropyNats(col("text")) >= lit(CurationMinEntropy)).as("gated"),
      md5(graft.functions.SelfDedupChunks.dedup(col("text"), SelfDedupW))
        .as("digest"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("digest")).orderBy(col("gated").desc, col("doc_id").asc)
    val counts = flagged
      .withColumn("kept", col("gated") && row_number().over(w) === 1)
      .select(col("kept"), explode(array(
          struct(lit("lang").as("feature"), col("lang").as("bucket")),
          struct(lit("source").as("feature"), col("source").as("bucket"))))
        .as("fb"))
      .select(col("kept"), col("fb.feature").as("feature"),
        col("fb.bucket").as("bucket"))
      .groupBy("feature", "bucket")
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    val totals = counts.groupBy("feature")
      .agg(sum(col("n_corpus")).as("tot_corpus"), sum(col("n_kept")).as("tot_kept"))
    val pc = col("n_corpus").cast(DoubleType) / col("tot_corpus").cast(DoubleType)
    val pk = col("n_kept").cast(DoubleType) / col("tot_kept").cast(DoubleType)
    counts.join(broadcast(totals), Seq("feature"))
      .select(col("feature"), col("bucket"), col("n_corpus"), col("n_kept"),
        (col("n_kept").cast(DoubleType) / col("n_corpus").cast(DoubleType))
          .as("keep_rate"),
        pc.as("p_corpus"),
        when(col("tot_kept") > 0, pk)
          .otherwise(lit(null).cast(DoubleType)).as("p_kept"),
        when(col("n_kept") > 0,
          floor(log(pk / pc) * lit(1000000.0)).cast(LongType)
            .cast(DoubleType) / lit(1000000.0))
          .otherwise(lit(null).cast(DoubleType)).as("bias_log"))
      .orderBy("feature", "bucket")
  }

  private[graft] val CurationLex = Array("dup")
  private[graft] val CurationMinEntropy = 2.7

  /** C4-style lexicon terms for [[lexiconHits]]. Substring semantics
    * (terms match inside words and across spaces — "low" hits inside
    * "slow", "slow merge" is a phrase). Oracle-parity precondition
    * (documented on [[graft.functions.LexiconAutomaton]]): every term is
    * border-free — no proper prefix equals a suffix — so overlapping and
    * non-overlapping per-term counts coincide. */
  private[graft] val LexiconTerms: Array[String] =
    Array("slow", "dup", "low", "a", "slow merge")

  private lazy val lexiconModel =
    new graft.functions.LexiconAutomaton(LexiconTerms)

  /** Canonical text normalization ([[graft.functions.NormalizeText]]:
    * Unicode NFC → ROOT lowercase → ASCII-whitespace-run collapse +
    * trim) — the pass a CCNet/C4-style corpus runs BEFORE dedup so
    * byte-level variants of one content (composed vs decomposed
    * accents, case, ragged whitespace) stop evading hash/shingle
    * matching. The fixture corpus is already clean lowercase ASCII, so
    * the query normalizes a deterministically MESSIED variant (upper-
    * cased prefix echo, tab runs, trailing newline — built from the
    * text itself, no synthetic inputs) and proves the collapse does
    * real work: `n_chars_messy` > `n_chars_norm` on every row. Narrow
    * per-row codegen projection, no shuffle except the output sort;
    * stream-safe. Oracle restates the exact op order over the same
    * messied string (ASCII-only parity precondition documented on the
    * native). */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val messy = concat(lit("  "), upper(substring(col("text"), 1, 40)),
      lit("\t\t"), col("text"), lit(" \n"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), messy.as("messy"))
      .select(col("doc_id"),
        length(col("messy")).cast(LongType).as("n_chars_messy"),
        graft.functions.NormalizeText.normalize(col("messy")).as("text_norm"))
      .withColumn("n_chars_norm", length(col("text_norm")).cast(LongType))
      .orderBy("doc_id")
  }

  /** The lexicon family's REMOVAL form (count → gate → SCRUB): strip
    * every lexicon term from the text by chained literal REPLACE, in
    * lexicon order — Spark's `replace` builtin and DuckDB's REPLACE have
    * identical leftmost non-overlapping semantics, so the oracle is the
    * same chain verbatim and order-sensitivity (a later term matching
    * inside an earlier term's remains) cancels out exactly. Narrow
    * per-row projection, no shuffle except the output sort. */
  def lexiconScrub(spark: SparkSession, dir: String): DataFrame = {
    val masked = LexiconTerms.foldLeft(col("text")) { (c, t) =>
      call_function("replace", c, lit(t), lit(""))
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), masked.as("text_masked"),
        (length(col("text")) - length(masked)).cast(LongType)
          .as("n_chars_removed"))
      .orderBy("doc_id")
  }

  /** Multi-pattern lexicon tagging ([[graft.functions.LexiconAutomaton]]):
    * one Aho–Corasick pass per document counts every occurrence of every
    * lexicon term — the badword-filter / topic-tagger primitive. One row
    * per (document, term present): `doc_id, term, n_hits`. The automaton
    * is a plan-borne broadcast object; per-row work is one codegen scan
    * independent of lexicon size (the naive form is k per-term scans),
    * and the generator's input is evaluated ONCE per row, so the text is
    * scanned once even though the output fans out per term. No shuffle
    * except the output sort. */
  def lexiconHits(spark: SparkSession, dir: String): DataFrame = {
    val termArr = array(LexiconTerms.map(lit): _*)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.LexiconCounts
          .counts(col("text"), lexiconModel)).as(Seq("pos", "n_hits")))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"),
        element_at(termArr, col("pos") + 1).as("term"),
        col("n_hits"))
      .orderBy("doc_id", "term")
  }

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
  private def bpeCtes: String = {
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

  private def bpeTrainSql: String = {
    val sel = (0 until BpeNumMerges)
      .map(k => s"SELECT CAST(${k + 1} AS BIGINT) rank, l AS lhs, r AS rhs, pc AS pair_count FROM b$k")
      .mkString(" UNION ALL ")
    s"$bpeCtes\nSELECT * FROM ($sel) ORDER BY rank"
  }

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

  /** Per-word learned-token counts off the training chain's final state —
    * exact for the engine's greedy encoder because every corpus word is in
    * the training word table at test SFs (see [[bpeEncode]]). */
  private def wtokCte: String = {
    val SS = "chr(31)||chr(31)"
    s"wtok AS MATERIALIZED (SELECT w, CAST(LEN(STRING_SPLIT(TRIM(state, chr(31)), $SS)) AS BIGINT) nt FROM st$BpeNumMerges)"
  }

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

  /** The shared BM25 CTE chain ending in the `scored` select — REPLACE-
    * length term frequencies (exact, see [[bm25TopK]]'s preconditions),
    * the same six corpus scalars, the fixed-point-log IDF, and per-row
    * double arithmetic in the identical association order as the Column
    * tree. Reused verbatim by [[bm25Sql]] and the hybrid-RRF oracle. */
  private def bm25Ctes: String = {
    val Array(t1, t2, t3) = Bm25Terms
    def tfExpr(t: String, n: Int) =
      s"CAST((LENGTH(text) - LENGTH(REPLACE(text, '$t', ''))) // ${t.length} AS BIGINT) tf$n"
    s"""WITH d AS (SELECT doc_id, text, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) dl FROM documents),
       |tf AS (SELECT doc_id, dl, ${tfExpr(t1, 1)}, ${tfExpr(t2, 2)}, ${tfExpr(t3, 3)} FROM d),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) nd, CAST(SUM(dl) AS BIGINT) sdl,
       |              CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) df1,
       |              CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) df2,
       |              CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) df3
       |       FROM tf),
       |idf AS (SELECT nd, sdl,
       |          CAST(FLOOR(LN((CAST(nd AS DOUBLE) - df1 + 0.5) / (df1 + 0.5) + 1.0) * 1000000.0) AS BIGINT) i1,
       |          CAST(FLOOR(LN((CAST(nd AS DOUBLE) - df2 + 0.5) / (df2 + 0.5) + 1.0) * 1000000.0) AS BIGINT) i2,
       |          CAST(FLOOR(LN((CAST(nd AS DOUBLE) - df3 + 0.5) / (df3 + 0.5) + 1.0) * 1000000.0) AS BIGINT) i3
       |        FROM st),
       |sc AS (SELECT doc_id, tf1, tf2, tf3,
       |         1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / nd)) nrm,
       |         CAST(i1 AS DOUBLE) / 1000000.0 id1,
       |         CAST(i2 AS DOUBLE) / 1000000.0 id2,
       |         CAST(i3 AS DOUBLE) / 1000000.0 id3
       |       FROM tf CROSS JOIN idf),
       |scored AS (SELECT doc_id, tf1, tf2, tf3,
       |         id1 * (CAST(tf1 AS DOUBLE) * 2.2) / (CAST(tf1 AS DOUBLE) + nrm)
       |         + id2 * (CAST(tf2 AS DOUBLE) * 2.2) / (CAST(tf2 AS DOUBLE) + nrm)
       |         + id3 * (CAST(tf3 AS DOUBLE) * 2.2) / (CAST(tf3 AS DOUBLE) + nrm) AS score
       |       FROM sc)""".stripMargin
  }

  private def bm25Sql: String = {
    val Array(t1, t2, t3) = Bm25Terms
    s"""$bm25Ctes
       |SELECT doc_id, tf1 AS tf_$t1, tf2 AS tf_$t2, tf3 AS tf_$t3, score
       |FROM scored ORDER BY score DESC, doc_id LIMIT $Bm25K""".stripMargin
  }

  /** RRF restated: each leg's rank list (same orderings as the proven
    * leg oracles) full-outer-joined, 1/(60+rank) with absent = 0. */
  private def hybridRrfSql: String =
    s"""$bm25Ctes,
       |sp AS (SELECT doc_id, bm25_rank FROM (
       |         SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) bm25_rank
       |         FROM scored)
       |       WHERE bm25_rank <= $HybridDepth),
       |de AS (SELECT cid AS doc_id, rank AS cos_rank FROM (
       |         SELECT c.vec_id cid,
       |                CAST(ROW_NUMBER() OVER (ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS BIGINT) rank
       |         FROM embeddings q JOIN embeddings c ON q.vec_id = $HybridQueryVec AND c.vec_id <> $HybridQueryVec)
       |       WHERE rank <= $HybridDepth),
       |f AS (SELECT COALESCE(sp.doc_id, de.doc_id) doc_id, sp.bm25_rank, de.cos_rank,
       |        COALESCE(1.0 / (60.0 + sp.bm25_rank), 0.0)
       |        + COALESCE(1.0 / (60.0 + de.cos_rank), 0.0) AS rrf
       |      FROM sp FULL OUTER JOIN de ON de.doc_id = sp.doc_id)
       |SELECT doc_id, bm25_rank, cos_rank, rrf
       |FROM f ORDER BY rrf DESC, doc_id LIMIT $Bm25K""".stripMargin

  /** cc/dl/fx: the per-document fixed-point entropy CTEs over
    * `documents` — the ONE restatement shared by [[charEntropySql]] and
    * the curation oracle (integer sum ⇒ accumulation order irrelevant). */
  private def entropyFxCtes: String =
    """cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) n
      |       FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, '')) c FROM documents)
      |       GROUP BY doc_id, c),
      |dl AS (SELECT doc_id, CAST(LENGTH(text) AS BIGINT) char_len FROM documents),
      |fx AS (SELECT cc.doc_id,
      |         CAST(-SUM(n * CAST(FLOOR(LN(CAST(n AS DOUBLE) / char_len) * 1000000.0) AS BIGINT)) AS BIGINT) ent_fx
      |       FROM cc JOIN dl ON dl.doc_id = cc.doc_id GROUP BY cc.doc_id)""".stripMargin

  /** Fixed-point entropy restated over the exploded code-point
    * histogram. */
  private def charEntropySql: String =
    s"""WITH $entropyFxCtes
       |SELECT d.doc_id, d.char_len, CAST(COALESCE(f.ent_fx, 0) AS BIGINT) AS ent_fx,
       |       CASE WHEN d.char_len = 0 THEN 0.0
       |            ELSE (CAST(COALESCE(f.ent_fx, 0) AS DOUBLE) / 1000000.0) / d.char_len END AS entropy
       |FROM dl d LEFT JOIN fx f ON f.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The composed curation run: every stage's SHARED oracle fragment
    * chained as CTEs over the BPE training chain ([[entropyFxCtes]],
    * [[scrubAggCtes]], [[wtokCte]] — one restatement each, so a fix to
    * a stage oracle can never silently diverge from the composite). */
  private def curationPipelineSql: String = {
    // total lexicon hits = Σ per-term REPLACE counts — any term set
    val lexHits = CurationLex
      .map(t => s"(LENGTH(text) - LENGTH(REPLACE(text, '$t', ''))) // ${t.length}")
      .mkString(" + ")
    s"""$bpeCtes,
       |$wtokCte,
       |lexgate AS (SELECT doc_id, lang, text FROM documents
       |            WHERE $lexHits = 0),
       |$entropyFxCtes,
       |egate AS (SELECT l.doc_id, l.lang, l.text
       |          FROM lexgate l JOIN dl ON dl.doc_id = l.doc_id
       |          LEFT JOIN fx ON fx.doc_id = l.doc_id
       |          WHERE CASE WHEN dl.char_len = 0 THEN 0.0
       |                     ELSE (CAST(COALESCE(fx.ent_fx, 0) AS DOUBLE) / 1000000.0) / dl.char_len
       |                END >= $CurationMinEntropy),
       |wsp AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') a FROM egate),
       |${scrubAggCtes("wsp")},
       |ek AS (SELECT doc_id, lang, text_clean FROM (
       |         SELECT wsp.doc_id, wsp.lang, sagg.text_dedup AS text_clean,
       |                ROW_NUMBER() OVER (PARTITION BY MD5(sagg.text_dedup) ORDER BY wsp.doc_id) rn
       |         FROM wsp JOIN sagg ON sagg.doc_id = wsp.doc_id) WHERE rn = 1),
       |dwc AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text_clean, ' ')) w FROM ek)
       |SELECT dwc.doc_id, dwc.lang,
       |       CAST(COUNT(*) AS BIGINT) AS n_words_clean,
       |       CAST(SUM(nt) AS BIGINT) AS n_bpe
       |FROM dwc JOIN wtok USING (w)
       |GROUP BY dwc.doc_id, dwc.lang ORDER BY dwc.doc_id""".stripMargin
  }

  /** Funnel restated from the SAME stage fragments as
    * [[curationPipelineSql]] (shared [[entropyFxCtes]] /
    * [[scrubAggCtes]]) with per-stage counts instead of the survivor
    * rows — a count fix in one place fixes both oracles. */
  private def curationFunnelSql: String = {
    val lexHits = CurationLex
      .map(t => s"(LENGTH(text) - LENGTH(REPLACE(text, '$t', ''))) // ${t.length}")
      .mkString(" + ")
    // NULL text → lexicon-rejected (COALESCE FALSE) — the Spark side's
    // additivity rule, mirrored
    s"""WITH $entropyFxCtes,
       |lexf AS (SELECT doc_id, COALESCE(($lexHits) = 0, FALSE) AS lex_ok, text FROM documents),
       |entf AS (SELECT d.doc_id,
       |           COALESCE(CASE WHEN dl.char_len = 0 THEN 0.0
       |                 ELSE (CAST(COALESCE(fx.ent_fx, 0) AS DOUBLE) / 1000000.0) / dl.char_len
       |            END >= $CurationMinEntropy, FALSE) AS ent_ok
       |         FROM documents d JOIN dl ON dl.doc_id = d.doc_id
       |         LEFT JOIN fx ON fx.doc_id = d.doc_id),
       |gated AS (SELECT l.doc_id, l.text FROM lexf l JOIN entf e USING (doc_id)
       |          WHERE l.lex_ok AND e.ent_ok),
       |wsp AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM gated),
       |${scrubAggCtes("wsp")}
       |SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_input,
       |       CAST((SELECT COUNT(*) FROM lexf WHERE NOT lex_ok) AS BIGINT) AS n_lexicon_rejected,
       |       CAST((SELECT COUNT(*) FROM lexf l JOIN entf e USING (doc_id)
       |             WHERE l.lex_ok AND NOT e.ent_ok) AS BIGINT) AS n_entropy_rejected,
       |       CAST((SELECT COUNT(*) FROM gated) AS BIGINT) AS n_gated,
       |       CAST((SELECT COUNT(*) FROM gated) AS BIGINT)
       |         - CAST((SELECT COUNT(DISTINCT MD5(text_dedup)) FROM sagg) AS BIGINT) AS n_dedup_dropped,
       |       CAST((SELECT COUNT(DISTINCT MD5(text_dedup)) FROM sagg) AS BIGINT) AS n_survivors
       |ORDER BY n_input""".stripMargin
  }

  /** q_curation_bias oracle: the SAME stage fragments as
    * [[curationPipelineSql]] ([[entropyFxCtes]] / [[scrubAggCtes]]) but
    * with the gate kept as a per-document flag, the keep-first window
    * ordered (gated DESC, doc_id) over ALL docs per scrub digest — rank
    * 1 ∧ gated ≡ the pipeline's keep-first-among-gated survivors — and
    * per-(feature, bucket) corpus/kept shares with the floor-quantized
    * log-ratio. Division order mirrors the Spark side operation for
    * operation so the IEEE doubles are bitwise identical. */
  private def curationBiasSql: String = {
    val lexHits = CurationLex
      .map(t => s"(LENGTH(text) - LENGTH(REPLACE(text, '$t', ''))) // ${t.length}")
      .mkString(" + ")
    s"""WITH $entropyFxCtes,
       |gf AS (SELECT d.doc_id, d.lang, d.source, d.text,
       |         (($lexHits) = 0 AND
       |          (CASE WHEN dl.char_len = 0 THEN 0.0
       |                ELSE (CAST(COALESCE(fx.ent_fx, 0) AS DOUBLE) / 1000000.0) / dl.char_len
       |           END) >= $CurationMinEntropy) AS gated
       |       FROM documents d JOIN dl ON dl.doc_id = d.doc_id
       |       LEFT JOIN fx ON fx.doc_id = d.doc_id),
       |wsp AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM gf),
       |${scrubAggCtes("wsp")},
       |kf AS (SELECT g.doc_id, g.lang, g.source, g.gated,
       |         ROW_NUMBER() OVER (PARTITION BY MD5(sagg.text_dedup)
       |                            ORDER BY g.gated DESC, g.doc_id ASC) rn
       |       FROM gf g JOIN sagg ON sagg.doc_id = g.doc_id),
       |fb AS (SELECT (gated AND rn = 1) AS kept, 'lang' AS feature, lang AS bucket FROM kf
       |       UNION ALL
       |       SELECT (gated AND rn = 1), 'source', source FROM kf),
       |c AS (SELECT feature, bucket, CAST(COUNT(*) AS BIGINT) n_corpus,
       |        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) n_kept
       |      FROM fb GROUP BY 1, 2),
       |t AS (SELECT feature, CAST(SUM(n_corpus) AS BIGINT) tot_corpus,
       |        CAST(SUM(n_kept) AS BIGINT) tot_kept FROM c GROUP BY 1)
       |SELECT c.feature, bucket, n_corpus, n_kept,
       |       CAST(n_kept AS DOUBLE) / CAST(n_corpus AS DOUBLE) AS keep_rate,
       |       CAST(n_corpus AS DOUBLE) / CAST(tot_corpus AS DOUBLE) AS p_corpus,
       |       CASE WHEN tot_kept > 0
       |            THEN CAST(n_kept AS DOUBLE) / CAST(tot_kept AS DOUBLE) END AS p_kept,
       |       CASE WHEN n_kept > 0
       |            THEN CAST(FLOOR(LN((CAST(n_kept AS DOUBLE) / CAST(tot_kept AS DOUBLE))
       |                               / (CAST(n_corpus AS DOUBLE) / CAST(tot_corpus AS DOUBLE)))
       |                          * 1000000.0) AS BIGINT) / 1000000.0 END AS bias_log
       |FROM c JOIN t USING (feature) ORDER BY feature, bucket""".stripMargin
  }

  /** Integer waterfill restated as a recursive CTE over the
    * mass-ascending language order — the packNextFit oracle pattern:
    * each iteration allocates one language, carrying `remaining`. */
  private def unimaxAllocSql: String =
    """WITH RECURSIVE m AS (SELECT lang, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) mass
      |       FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(SUM(mass) AS BIGINT) total, CAST(COUNT(*) AS BIGINT) n FROM m),
      |s AS (SELECT lang, mass, ROW_NUMBER() OVER (ORDER BY mass ASC, lang ASC) rn FROM m),
      |r AS (
      |  SELECT s.lang, s.mass, s.rn,
      |         LEAST(s.mass, (tot.total * 6 // 10) // tot.n) AS alloc,
      |         (tot.total * 6 // 10) - LEAST(s.mass, (tot.total * 6 // 10) // tot.n) AS remaining
      |  FROM s, tot WHERE s.rn = 1
      |  UNION ALL
      |  SELECT s.lang, s.mass, s.rn,
      |         LEAST(s.mass, r.remaining // (tot.n - r.rn)) AS alloc,
      |         r.remaining - LEAST(s.mass, r.remaining // (tot.n - r.rn))
      |  FROM r JOIN s ON s.rn = r.rn + 1 CROSS JOIN tot)
      |SELECT lang, mass AS lang_tokens, alloc AS alloc_tokens,
      |       CAST(alloc AS DOUBLE) * 1000000.0 / mass AS rate
      |FROM r ORDER BY lang""".stripMargin

  /** Sweep restated: same 20-bucket histogram + suffix-sum. */
  private def gateSweepSql: String =
    s"""WITH q AS (SELECT $qualitySql AS q FROM documents),
       |h AS (SELECT LEAST(CAST(FLOOR(q * 20.0) AS BIGINT), 19) b,
       |             CAST(COUNT(*) AS BIGINT) n
       |      FROM q GROUP BY 1),
       |g AS (SELECT CAST(range AS BIGINT) b FROM RANGE(20)),
       |j AS (SELECT g.b, COALESCE(h.n, 0) n FROM g LEFT JOIN h ON h.b = g.b),
       |c AS (SELECT b, CAST(SUM(n) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) n_ge FROM j),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) total FROM j)
       |SELECT CAST(b AS DOUBLE) / 20.0 AS threshold, n_ge,
       |       CAST(n_ge AS DOUBLE) / total AS frac
       |FROM c CROSS JOIN t ORDER BY threshold""".stripMargin

  /** ch/k2/sagg: non-overlapping chunking + keep-first + ordered
    * STRING_AGG rebuild over a CTE `src`(doc_id, …, a) — the ONE
    * restatement shared by [[selfDedupSql]] and the curation oracle.
    * Emits `sagg`(doc_id, text_dedup). */
  private def scrubAggCtes(src: String): String =
    s"""ch AS (SELECT doc_id, i,
       |         ARRAY_TO_STRING(a[(i*$SelfDedupW+1):((i+1)*$SelfDedupW)], ' ') chunk
       |       FROM $src, UNNEST(RANGE(CAST(CEIL(LEN(a) / $SelfDedupW.0) AS BIGINT))) t(i)),
       |k2 AS (SELECT doc_id, i, chunk,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id, chunk ORDER BY i) rn
       |       FROM ch),
       |sagg AS (SELECT doc_id, STRING_AGG(chunk, ' ' ORDER BY i) text_dedup
       |         FROM k2 WHERE rn = 1 GROUP BY doc_id)""".stripMargin

  /** Keep-first chunk scrub restated relationally: explode the
    * non-overlapping chunks with their position, keep each (doc, chunk
    * content)'s first position, and STRING_AGG the survivors back in
    * position order. */
  private def selfDedupSql: String =
    s"""WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
       |${scrubAggCtes("w")}
       |SELECT w.doc_id, CAST(LEN(a) AS BIGINT) AS n_words, sagg.text_dedup,
       |       CAST(LEN(STRING_SPLIT(sagg.text_dedup, ' ')) AS BIGINT) AS words_kept
       |FROM w JOIN sagg ON sagg.doc_id = w.doc_id
       |ORDER BY w.doc_id""".stripMargin

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

  /** The full NB train→model→score→argmax chain — extracted to a def so
    * the q_nb_eval oracle aggregates the SAME restatement instead of a
    * second copy that could drift. */
  private def nbClassifySql: String =
    s"""WITH tk AS (SELECT doc_id, lang, (doc_id % 10) < 8 AS is_train,
       |                   ('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT % $NbBuckets AS b
       |            FROM (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)),
       |cb AS (SELECT lang AS label, b, CAST(COUNT(*) AS BIGINT) n FROM tk WHERE is_train GROUP BY 1, 2),
       |pri AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) docs_c
       |        FROM documents WHERE (doc_id % 10) < 8 GROUP BY 1),
       |pri2 AS (SELECT label, CAST(FLOOR(LN(CAST(docs_c AS DOUBLE) /
       |                 CAST(SUM(docs_c) OVER () AS DOUBLE)) * 1000000.0) AS BIGINT) prior_fx
       |         FROM pri),
       |ctot AS (SELECT label, CAST(SUM(n) AS BIGINT) n_c FROM cb GROUP BY 1),
       |nc AS (SELECT p.label, COALESCE(c.n_c, 0) AS n_c FROM pri p LEFT JOIN ctot c USING (label)),
       |model AS (SELECT g.label, g.b,
       |                 CAST(FLOOR(LN(CAST(COALESCE(cb.n, 0) + 1 AS DOUBLE) /
       |                   CAST(g.n_c + $NbBuckets AS DOUBLE)) * 1000000.0) AS BIGINT) lp_fx
       |          FROM (SELECT label, n_c, CAST(t.b AS BIGINT) b
       |                FROM nc CROSS JOIN (SELECT UNNEST(RANGE($NbBuckets)) AS b) t) g
       |          LEFT JOIN cb ON cb.label = g.label AND cb.b = g.b),
       |pd AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) cnt FROM tk WHERE NOT is_train GROUP BY 1, 2),
       |tokfx AS (SELECT pd.doc_id, m.label AS cls, CAST(SUM(pd.cnt * m.lp_fx) AS BIGINT) tok_fx
       |          FROM pd JOIN model m ON m.b = pd.b GROUP BY 1, 2),
       |base AS (SELECT d.doc_id, d.lang AS label, p2.label AS cls, p2.prior_fx
       |         FROM documents d CROSS JOIN pri2 p2 WHERE (d.doc_id % 10) >= 8),
       |sc AS (SELECT b2.doc_id, b2.label, b2.cls,
       |              b2.prior_fx + COALESCE(t.tok_fx, 0) AS score_fx
       |       FROM base b2 LEFT JOIN tokfx t ON t.doc_id = b2.doc_id AND t.cls = b2.cls),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |                   ORDER BY score_fx DESC, cls ASC) r FROM sc)
       |SELECT doc_id, label, cls AS predicted, (label = cls) AS correct,
       |       CAST(score_fx AS DOUBLE) / 1000000.0 AS nb_score
       |FROM rk WHERE r = 1 ORDER BY doc_id""".stripMargin

  /** q_nb_eval oracle: the SAME classify chain aggregated to the
    * per-class precision/recall/F1 table, double ops mirrored
    * column-for-column. */
  private def nbEvalSql: String =
    s"""WITH cls AS ($nbClassifySql),
       |p AS (SELECT label, CAST(COUNT(*) AS BIGINT) n_true,
       |        CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) n_correct
       |      FROM cls GROUP BY 1),
       |q AS (SELECT predicted, CAST(COUNT(*) AS BIGINT) n_pred FROM cls GROUP BY 1),
       |m AS (SELECT COALESCE(p.label, q.predicted) AS label,
       |        COALESCE(p.n_true, 0) AS n_true, COALESCE(q.n_pred, 0) AS n_pred,
       |        COALESCE(p.n_correct, 0) AS n_correct,
       |        CASE WHEN COALESCE(q.n_pred, 0) > 0
       |             THEN CAST(COALESCE(p.n_correct, 0) AS DOUBLE) / CAST(q.n_pred AS DOUBLE) END AS prec,
       |        CASE WHEN COALESCE(p.n_true, 0) > 0
       |             THEN CAST(p.n_correct AS DOUBLE) / CAST(p.n_true AS DOUBLE) END AS recall
       |      FROM p FULL OUTER JOIN q ON q.predicted = p.label)
       |SELECT label, n_true, n_pred, n_correct, prec, recall,
       |       CASE WHEN prec IS NOT NULL AND prec + recall > 0.0
       |            THEN 2.0 * prec * recall / (prec + recall) END AS f1
       |FROM m ORDER BY label""".stripMargin

  /** The q_lang_id oracle, extracted so the confusion-matrix oracle
    * aggregates the SAME guess restatement. */
  private val langIdGuessSql: String =
    """WITH hits AS (
      |  SELECT doc_id,
      |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS(['the','and','of'], x))) AS BIGINT) en_hits,
      |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS(['der','und','das'], x))) AS BIGINT) de_hits,
      |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS(['le','et','les'], x))) AS BIGINT) fr_hits,
      |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS(['el','y','los'], x))) AS BIGINT) es_hits
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN GREATEST(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
      |            WHEN de_hits = GREATEST(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
      |            WHEN en_hits = GREATEST(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
      |            WHEN es_hits = GREATEST(en_hits, de_hits, fr_hits, es_hits) THEN 'es'
      |            ELSE 'fr' END AS lang_guess,
      |       en_hits, de_hits, fr_hits, es_hits
      |FROM hits ORDER BY doc_id""".stripMargin

  /** q_langid_confusion oracle: the q_lang_id guess restated (the same
    * hash-green marker CASE) joined to the stored label and aggregated
    * to the confusion matrix. */
  private def langIdConfusionSql: String =
    s"""WITH g AS ($langIdGuessSql),
       |c AS (SELECT d.lang AS lang_true, g.lang_guess, CAST(COUNT(*) AS BIGINT) n
       |      FROM documents d JOIN g ON g.doc_id = d.doc_id GROUP BY 1, 2),
       |t AS (SELECT lang_true, CAST(SUM(n) AS BIGINT) n_true FROM c GROUP BY 1)
       |SELECT lang_true, lang_guess, n,
       |       CAST(n AS DOUBLE) / CAST(n_true AS DOUBLE) AS frac,
       |       (lang_true = lang_guess) AS correct
       |FROM c JOIN t USING (lang_true) ORDER BY lang_true, lang_guess""".stripMargin

  /** Per-term REPLACE-count — identical to the automaton's overlapping
    * count because every lexicon term is border-free. */
  private def lexiconHitsSql: String = {
    val vals = LexiconTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH lex(term) AS (VALUES $vals)
       |SELECT doc_id, term,
       |       CAST((LENGTH(text) - LENGTH(REPLACE(text, term, ''))) // LENGTH(term) AS BIGINT) AS n_hits
       |FROM documents CROSS JOIN lex
       |WHERE LENGTH(text) - LENGTH(REPLACE(text, term, '')) > 0
       |ORDER BY doc_id, term""".stripMargin
  }

  /** The Gopher rule-based quality filter ([[TA.gopherRules]]) as a
    * first-class audit table: one row per document with every rule's
    * signal, its boolean, and the fused keep flag. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    TA.gopherRules(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy("doc_id")

  /** FineWeb-style multi-signal quality selection: three per-document
    * signals (token count, type-token ratio, mean word length) fuse as
    * the mean of their exact corpus-wide percentile ranks; top-100 by
    * the ensemble. The scale story is HOW the ranks are computed: exact
    * percent_rank normally needs a global sort of the corpus, but each
    * signal here is integer-valued (ratios floor-quantized to 1e-6
    * fixed point), so its value HISTOGRAM is cardinality-bounded — the
    * strictly-below cumulative count runs as a window over that tiny
    * frame and broadcasts back onto the corpus. cum_below/(N−1) is
    * percent_rank's exact definition, which lets the oracle state it
    * with DuckDB's native PERCENT_RANK — cross-validating the
    * histogram formulation against the engine-native one. */
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame = {
    // one checkpoint of the narrow signal frame instead of the former
    // persist + eager result-checkpoint + unpersist dance (r17): the
    // four consumers (three rank branches + the ranked join) read the
    // materialized blocks, the selection itself executes lazily in the
    // caller's action, and the profiled job count drops 16 → ~8.
    val sigs = Tables.documents(spark, dir).select(col("doc_id") +:
        ensembleSignals(col("text"), col("n_chars"))
          .map { case (n, c) => c.as(n) }: _*)
      .localCheckpoint()
    qualityEnsembleSelected(sigs)
  }

  /** The un-checkpointed selection plan over a signal frame — split out so
    * PlanQualitySpec can assert the physical shape (localCheckpoint above
    * truncates the observable plan to an RDD scan). */
  private[queries] def qualityEnsembleSelected(sigs: DataFrame): DataFrame = {
    val ranked = sigs
      .join(broadcast(rankBySignal(sigs, "s_tokens", "r_tokens")), Seq("s_tokens"))
      .join(broadcast(rankBySignal(sigs, "s_ttr", "r_ttr")), Seq("s_ttr"))
      .join(broadcast(rankBySignal(sigs, "s_mwl", "r_mwl")), Seq("s_mwl"))
      .withColumn("ens",
        (col("r_tokens") + col("r_ttr") + col("r_mwl")) / lit(3.0))
    // Top-100 via orderBy+limit: TakeOrderedAndProject keeps the
    // selection a per-partition partial top-k (the (ens desc, doc_id)
    // tiebreak is total, so rows match the rank formulation exactly) —
    // never a corpus-sized single-partition Window.
    ranked.orderBy(col("ens").desc, col("doc_id").asc).limit(100)
      .select(col("doc_id"), col("s_tokens").as("n_tokens"),
        col("r_tokens"), col("r_ttr"), col("r_mwl"), col("ens"))
      .orderBy("doc_id")
  }

  /** Pairwise Pearson correlation of the ensemble's quality signals —
    * the signal-REDUNDANCY audit read before trusting a multi-signal
    * gate (two signals correlating ≈1 vote twice for the same thing; an
    * ensemble wants complementary members, and this table says which
    * one to drop). Exactness: the signals are already exact integers
    * ([[ensembleSignals]]' 1e-6 fixed points), so every moment (Σx,
    * Σx², Σxy) is an exact DECIMAL(38,0) integer — order- and
    * partitioning-invariant — and each correlation is ONE shared IEEE
    * expression over those integers; zero-variance signals report NULL
    * rather than 0/0. Scale shape: ONE corpus scan into ONE map-side-
    * combined 1-row moment aggregate (a new signal adds columns, never
    * a scan — the constraint-report batching doctrine); the three
    * correlation rows are selects over that single row. The DECIMAL
    * moments hold to ~1e38 (n·Σxy ≤ 1e12·1e24 at 10¹² docs) — past
    * that the ANSI decimal overflow fails loudly, never wraps. */
  def signalCorr(spark: SparkSession, dir: String): DataFrame = {
    val sigCols = ensembleSignals(col("text"), col("n_chars"))
    val names = sigCols.map(_._1)
    // filter BEFORE computing moments: a null-text/null-n_chars row
    // would be skipped by every SUM but counted by n, silently skewing
    // each correlation (possibly past |1|) on BOTH engines — restrict
    // the population to rows every signal covers
    val sigs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(sigCols.map { case (n, c) =>
        c.cast(DecimalType(38, 0)).as(n) }: _*)
    val corrPairs = for {
      i <- names.indices; j <- names.indices if i < j
    } yield (names(i), names(j))
    val aggs =
      names.map(n => sum(col(n)).as(s"sx_$n")) ++
        names.map(n => sum(col(n) * col(n)).as(s"sq_$n")) ++
        corrPairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    val m = sigs
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), aggs: _*)
      .localCheckpoint() // 1 row, consumed once per pair below
    def corrRow(a: String, b: String): DataFrame = {
      val num = col("n") * col(s"sp_${a}_$b") - col(s"sx_$a") * col(s"sx_$b")
      def den(s: String) = col("n") * col(s"sq_$s") - col(s"sx_$s") * col(s"sx_$s")
      m.select(lit(a).as("signal_a"), lit(b).as("signal_b"),
        col("n").cast(LongType).as("n_docs"),
        when(den(a) === 0 || den(b) === 0, lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType)
            / sqrt(den(a).cast(DoubleType) * den(b).cast(DoubleType)))
          .as("corr"))
    }
    corrPairs.map { case (a, b) => corrRow(a, b) }
      .reduce(_ unionAll _)
      .orderBy("signal_a", "signal_b")
  }

  /** The ensemble's three integer-valued quality signals as ONE shared
    * set of Column trees — the batch query, its oracle restatement, and
    * the streaming gate ([[graft.streaming.StreamOps.ensembleGate]]) all
    * evaluate the identical op sequence, so signal values (and so
    * ranks) agree bit-for-bit across paths. Ratios floor-quantize to
    * 1e-6 fixed point, keeping each signal's value set
    * cardinality-bounded (the histogram-rank precondition). */
  private[graft] def ensembleSignals(text: Column,
      nChars: Column): Seq[(String, Column)] = {
    val nTok = TA.tokenCount(text)
    Seq(
      "s_tokens" -> nTok,
      "s_ttr" -> floor(size(array_distinct(TA.tokens(text))).cast(DoubleType) /
        nTok.cast(DoubleType) * lit(1e6)).cast(LongType),
      "s_mwl" -> floor((nChars - (nTok - lit(1))).cast(DoubleType) /
        nTok.cast(DoubleType) * lit(1e6)).cast(LongType))
  }

  /** Exact percent_rank of an integer-valued signal WITHOUT a global
    * sort: (value → strictly-below cumulative count / (N−1)) computed on
    * the signal's value histogram. The two windows here are
    * single-partition by construction, but they run over the
    * cardinality-bounded histogram frame (bytes, not data) — the
    * post-aggregation-window doctrine of [[sourceMixture]]. N == 1
    * degenerates to rank 0.0 rather than 0/0. */
  private[graft] def rankBySignal(sigs: DataFrame, c: String,
      rankName: String): DataFrame = {
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col(c))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    sigs.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      .select(col(c),
        when(sum(col("cnt")).over(wAll) > 1,
          coalesce(sum(col("cnt")).over(wCum), lit(0L)).cast(DoubleType) /
            (sum(col("cnt")).over(wAll) - lit(1L)).cast(DoubleType))
          .otherwise(lit(0.0)).as(rankName))
  }

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("ws_tokens"),
        TA.bpeTokenCount(col("text")).as("bpe_tokens"),
        TA.charsPerToken(col("text")).as("chars_per_token"))
      .orderBy("doc_id")

  /** Exact duplicated-span statistics ([[Dedup.spanDupStats]], n = 5):
    * per document, how many of its 5-token span instances occur verbatim
    * in at least one other document. The Spark side groups on the 8-byte
    * xxhash64 of the span while the oracle groups on the literal span
    * text — the q_decontaminate hash-vs-literal argument: the counts
    * coincide absent a 64-bit collision. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    // consumers re-read the persisted span-rows artifact instead of a
    // persist, and the orderBy sampler reuses the stats pipeline's
    // shuffle outputs instead of an eager checkpoint (r16: 1.15s → 0.83s)
    Dedup.spanDupStatsFrom(sharedSpanRows(spark, dir)).orderBy("doc_id")

  /** Duplicated-span REMOVAL ([[Dedup.spanScrub]], n = 5) — the cleaning
    * transformation behind [[spanDedup]]'s diagnostic: tokens covered by
    * any cross-document duplicated 5-token span are cut and the text
    * rebuilt; fully-covered documents drop. Same hash-vs-literal oracle
    * argument as q_span_dedup. */
  def spanScrub(spark: SparkSession, dir: String): DataFrame =
    // same scaffolding removal as [[spanDedup]] (r16: 1.66s → 1.03s)
    Dedup.spanScrubFrom(Tables.documents(spark, dir), "text", "doc_id",
        n = 5, sharedSpanRows(spark, dir))
      .orderBy("doc_id")

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

  /** Per-source quantile CALIBRATION of the quality score — the raw
    * score made cross-source comparable (a 0.9-quantile document in a
    * noisy crawl and in a clean dump both report q_rank 0.9) so one
    * global keep-threshold stops favoring whichever source's score
    * distribution happens to sit higher: the per-source-threshold
    * practice of the Gopher/FineWeb curation recipes, as a table.
    * `q_rank` is the exact within-source percent_rank (strictly-below
    * count / (n−1); single-member sources report 0). Scale shape: the
    * [[rankBySignal]] histogram doctrine, per source — the score
    * floor-quantizes to 1e-6 fixed point (cardinality-bounded), ONE
    * map-side-combined groupBy builds the (source, value) histogram,
    * the rank windows run PARTITIONED BY SOURCE over that bytes-sized
    * frame (never over documents), and the calibration table broadcasts
    * back onto the corpus scan. Broadcast bound: ≤ min(docs-in-source,
    * 1e6+1) cells per source — the deployment dial for thousands of
    * sources is a coarser quantization (1e-4 caps the table at 10⁴
    * cells/source), which only coarsens rank resolution, never
    * correctness. */
  def qualityCalibrated(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      floor(TA.qualityScore(col("text")) * lit(1000000.0))
        .cast(LongType).as("q_fx"))
      // materialized once (r17, the qualityAgreement rule): the histogram
      // branch and the broadcast-join-back branch each re-ran the
      // qualityScore text pass without the barrier — profiled as two
      // ~300 ms single-task corpus stages. The checkpointed rows are
      // narrow (doc_id, source, q_fx) triples. Isolated A/B below.
      .localCheckpoint()
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("q_fx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val calib = sig.groupBy(col("source"), col("q_fx"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("source"), col("q_fx"),
        when(sum(col("cnt")).over(wAll) > 1,
          coalesce(sum(col("cnt")).over(wCum), lit(0L)).cast(DoubleType) /
            (sum(col("cnt")).over(wAll) - lit(1L)).cast(DoubleType))
          .otherwise(lit(0.0)).as("q_rank"))
    sig.join(broadcast(calib), Seq("source", "q_fx"))
      .select(col("doc_id"), col("source"),
        (col("q_fx").cast(DoubleType) / lit(1000000.0)).as("quality"),
        col("q_rank"))
      .orderBy("doc_id")
  }

  /** Corpus mixture report: per (source, lang), document and token
    * counts plus each cell's share of the whole corpus — the dataset
    * card every training run starts from. One map-side-combined
    * aggregation shuffle over the corpus; the share window runs on the
    * POST-aggregation frame (≤ sources × languages rows), so its
    * single-partition exchange moves a few hundred bytes, not data. */
  def sourceMixture(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TA.tokenCount(col("text"))).as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens").cast(DoubleType) / sum(col("n_tokens")).over(w).cast(DoubleType))
      .withColumn("doc_share",
        col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(w).cast(DoubleType))
      .orderBy("source", "lang")
  }

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
    val base = docs.select(col("doc_id")).join(docTok, Seq("doc_id"))
      .crossJoin(broadcast(maxDoc))
      .select(bucketOf(col("doc_id")).as("bucket"), col("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .join(newWords, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_words"), lit(0L)).as("new_words"))
      .localCheckpoint() // <= 10 rows; feeds the triangular join twice
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
    val top = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(ZipfTopK)
      .localCheckpoint() // <= k rows; feeds the triangular join twice
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

  /** NB-classifier reliability diagram — the calibration table read
    * before trusting classifier-gated selection AT a score threshold
    * (q_nb_eval answers "is the label right overall"; this answers "does
    * a higher score actually mean a higher hit rate"): the scored
    * holdout ([[sharedNbHoldout]]) split into score deciles by EXACT
    * percentile cuts, accuracy per decile. A calibrated scorer shows
    * monotone accuracy; a flat curve means the score carries no ranking
    * signal and a gate threshold is arbitrary. Exactness: the cut list
    * is the proven bit-exact `percentile` (q_doc_percentiles), bucket =
    * COUNT of cuts ≤ score (an in-row filter over the broadcast 9-cut
    * array — ties collapse identically on both engines), and every
    * output is integer counts plus ONE division. Scale shape: one 1-row
    * exact-percentile aggregate (the 100 TB regime swaps in
    * percentile_approx, the q_doc_percentiles_approx precedent), the
    * cuts broadcast back, one map-side-combined bucket aggregate. */
  def nbReliability(spark: SparkSession, dir: String): DataFrame = {
    val cls = sharedNbHoldout(spark, dir)
    val cuts = cls.agg(percentile(col("nb_score"),
      lit((1 to 9).map(_ / 10.0).toArray)).as("cuts"))
    cls.crossJoin(broadcast(cuts))
      .select(col("correct"),
        size(filter(col("cuts"), c => col("nb_score") >= c))
          .cast(LongType).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("bucket"), col("n_docs"), col("n_correct"),
        (col("n_correct").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("accuracy"))
      .orderBy("bucket")
  }

  /** Quality-scorer agreement matrix — do the cheap heuristic score
    * ([[TA.qualityScore]]) and the bigram-LM score agree on which
    * documents are good? Each score splits into corpus terciles by
    * exact percentile cuts; the 3×3 bucket cross-tabulation is the
    * audit (mass on the diagonal = the scorers rank alike; a hot
    * off-diagonal cell = one scorer's "good" is the other's "bad" —
    * exactly the documents a curator inspects by hand), and Cohen's
    * kappa rides every row as the one-number summary (chance-corrected
    * agreement; ~0 means the gates are independent and stacking them
    * multiplies false rejections). Exactness: integer counts
    * throughout; p_o, p_e, kappa in ONE mirrored IEEE op order; the
    * degenerate p_e = 1 corpus (everything in one cell) reports NULL
    * kappa rather than an ANSI x/0 error. Scale shape: one scoring
    * scan joined to the persisted LM-score artifact, a 1-row
    * percentile aggregate broadcast back, then everything is 3×3. */
  def qualityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val thirds = lit(Array(1.0 / 3.0, 2.0 / 3.0))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), TA.qualityScore(col("text")).as("q"))
      .join(sharedLmScores(spark, dir).select(col("doc_id"), col("lm_score")),
        Seq("doc_id"))
      // materialized once (r17): both the percentile-cut aggregate and
      // the bucket-cell pass consume this frame, and without the barrier
      // each re-runs the qualityScore text pass over the corpus — the
      // query's dominant compute, profiled as two ~160 ms corpus stages.
      // The checkpointed rows are 24-byte (doc_id, q, lm_score) triples —
      // ~1000x narrower than the text they summarize, the exactTopKPairs
      // rule. Isolated A/B (7-rep min, back-to-back): 0.665 → 0.511 s.
      .localCheckpoint()
    val cuts = scored.agg(
      percentile(col("q"), thirds).as("qc"),
      percentile(col("lm_score"), thirds).as("lc"))
    val cells = scored.crossJoin(broadcast(cuts))
      .select(
        size(filter(col("qc"), c => col("q") >= c)).cast(LongType)
          .as("q_bucket"),
        size(filter(col("lc"), c => col("lm_score") >= c)).cast(LongType)
          .as("lm_bucket"))
      .groupBy("q_bucket", "lm_bucket").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint() // <= 9 rows; feeds the kappa scalars + output rows
    // kappa from the <= 9 checkpointed cells DRIVER-SIDE (r17): the former
    // total/diag/rowM/colM/chance frame chain ran as ~10 serial one-row
    // Spark jobs plus three broadcast builds — ~0.3 s of pure job overhead
    // per call, profiled at 16 jobs for the whole query (guide §5: the
    // driver should do almost no data work — and nine rows is none; the
    // same bounded-collect pattern as duplicateClusters' union-find and
    // tokenBudget's per-partition subtotal offsets). Arithmetic is
    // identical to the former frame chain: Long sums, Long products
    // (multiplyExact/addExact throw on overflow exactly where ANSI mode
    // threw), and the same IEEE op order for po/pe/kappa.
    val cellRows = cells.select("q_bucket", "lm_bucket", "n_docs").collect()
    val total = cellRows.map(_.getLong(2)).sum
    val agree = cellRows.collect {
      case r if r.getLong(0) == r.getLong(1) => r.getLong(2) }.sum
    val rowM = cellRows.groupBy(_.getLong(0))
      .map { case (b, rs) => b -> rs.map(_.getLong(2)).sum }
    val colM = cellRows.groupBy(_.getLong(1))
      .map { case (b, rs) => b -> rs.map(_.getLong(2)).sum }
    val chance = rowM.foldLeft(0L) { case (acc, (b, nRow)) =>
      colM.get(b) match {
        case Some(nCol) => Math.addExact(acc, Math.multiplyExact(nRow, nCol))
        case None       => acc
      }
    }
    val po = agree.toDouble / total.toDouble
    val pe = chance.toDouble / (total.toDouble * total.toDouble)
    val kappaCol =
      if (1.0 - pe == 0) lit(null).cast(DoubleType)
      else lit((po - pe) / (1.0 - pe))
    cells
      .select(col("q_bucket"), col("lm_bucket"), col("n_docs"),
        (col("n_docs").cast(DoubleType) / lit(total.toDouble)).as("share"),
        kappaCol.as("kappa"))
      .orderBy("q_bucket", "lm_bucket")
  }

  /** Label-separation audit — whether the embedding space can carry the
    * label structure the kNN/IVF propagation queries assume: for every
    * unordered label pair, the L2 distance between the class centroids
    * next to each class's mean member-to-own-centroid distance, and
    * `separation` = centroid_dist / mean(intra) (a Davies-Bouldin-style
    * margin: ≲ 1 means the classes overlap and propagated labels near
    * the boundary are noise — publish THIS before trusting
    * q_knn_labels' votes). Exactness: the sourceDrift fixed-point
    * doctrine end to end — per-(label, dim) sums exact integers on
    * DECIMAL(38,0), per-dim squared differences floor-quantized to
    * 1e-12, per-vector distances floor-quantized to 1e-6 BEFORE the
    * per-class mean (summing raw double distances would be
    * order-dependent), every derived double from one mirrored IEEE op
    * order, NULL separation on the degenerate zero-spread corpus.
    * Scale shape: the explode feeds ONE map-side-combined centroid
    * aggregate; member distances join the labels×dims centroid table
    * back as a BROADCAST; everything else is labels²-sized. */
  def labelSeparation(spark: SparkSession, dir: String): DataFrame = {
    // fanOutToCores measured a net loss here (0.79 → 1.09 s idle min):
    // the posexplode feeds a (label, dim)-keyed decimal hash aggregate,
    // and 32 fanned tasks each allocate a labels×dims BigDecimal agg
    // table — the collocationsTopK lesson; left on the 1-task scan
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cent = x.groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType)
            .cast(DecimalType(38, 0))).as("s_fx"))
        .select(col("label"), col("dim"),
          (col("s_fx").cast(DoubleType) / col("n") / lit(1e6)).as("c"))
        .localCheckpoint() // labels x dims; feeds the pair join AND the
                           // member-distance broadcast
      val pairD = cent.as("a").join(cent.as("b"),
          col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
        .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
          floor((col("a.c") - col("b.c")) * (col("a.c") - col("b.c")) *
            lit(1e12)).cast(LongType).as("d2fx"))
        .groupBy("label_a", "label_b")
        .agg(sqrt(sum(col("d2fx")).cast(DoubleType) / lit(1e12))
          .as("centroid_dist"))
      val intra = x.join(broadcast(cent), Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(floor((col("v").cast(DoubleType) - col("c")) *
          (col("v").cast(DoubleType) - col("c")) * lit(1e12))
          .cast(LongType)).as("d2"))
        .select(col("label"),
          floor(sqrt(col("d2").cast(DoubleType) / lit(1e12)) * lit(1e6))
            .cast(LongType).as("dfx"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("dfx")).cast(DoubleType) / count(lit(1)) / lit(1e6))
            .as("intra"))
        .localCheckpoint() // labels-sized; joined twice below
      pairD
        .join(broadcast(intra.select(col("label").as("label_a"),
          col("n_vecs").as("n_a"), col("intra").as("intra_a"))), Seq("label_a"))
        .join(broadcast(intra.select(col("label").as("label_b"),
          col("n_vecs").as("n_b"), col("intra").as("intra_b"))), Seq("label_b"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          col("centroid_dist"), col("intra_a"), col("intra_b"),
          when(col("intra_a") + col("intra_b") === 0,
            lit(null).cast(DoubleType))
            .otherwise(col("centroid_dist") * lit(2.0) /
              (col("intra_a") + col("intra_b"))).as("separation"))
        .orderBy("label_a", "label_b")
    } finally x.unpersist(blocking = false)
  }

  /** Duplicate-family size histogram — how big near-dup clusters get:
    * one row per observed cluster size with the cluster count, the
    * document mass it holds, and its corpus share. The decision table
    * behind the dedup POLICY choice: a long tail of giant families
    * (template/mirror storms) means naive keep-first deletes huge
    * correlated swaths and soft downweighting ([[dedupWeights]]) or
    * keep-best ([[clusterBest]]) is the safer cut, and the max size
    * bounds the driver union-find budget ([[Dedup.duplicateClusters]]'
    * driverLimit). Reads the persisted cluster-map artifact; everything
    * after is cluster-count-sized then histogram-sized. Singletons are
    * absent by construction (the map holds only documents with at
    * least one duplicate). */
  def clusterHistogram(spark: SparkSession, dir: String): DataFrame = {
    val sizes = nearDupClusters(spark, dir)
      .groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
    val tot = Tables.documents(spark, dir).agg(count(lit(1)).as("total_docs"))
    sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") * col("n_clusters")).cast(DoubleType)
          / col("total_docs").cast(DoubleType)).as("doc_share"))
      .orderBy("cluster_size")
  }

  val queries: Map[String, Q] = Map(
    "q_span_dedup"       -> (spanDedup _),
    "q_cluster_histogram" -> (clusterHistogram _),
    "q_label_separation" -> (labelSeparation _),
    "q_nb_reliability"   -> (nbReliability _),
    "q_quality_agreement" -> (qualityAgreement _),
    "q_vocab_growth"     -> (vocabGrowth _),
    "q_zipf_slope"       -> (zipfSlope _),
    "q_span_scrub"       -> (spanScrub _),
    "q_token_budget"     -> (tokenBudget _),
    "q_source_mixture"   -> (sourceMixture _),
    "q_text_stats"       -> (textStats _),
    "q_lang_id"          -> (langId _),
    "q_fingerprint_dedup" -> (fingerprintDedup _),
    "q_winnow_fingerprint" -> (winnowFingerprint _),
    "q_dedup_exact"      -> (dedupExact _),
    "q_dedup_keep_first" -> (dedupKeepFirst _),
    // q_ngram_jaccard / q_minhash_dedup build candidates with MinHash-LSH
    // (16 bands × 4 rows) and exact-verify them, while their oracle is
    // EXACT Jaccard: no false positives ever, but banding has a ~2e-4
    // per-pair false-NEGATIVE probability for pairs barely above j=0.8 —
    // a theoretical oracle mismatch on adversarial corpora. Deterministic
    // and green on the bench corpora (TextOpsSpec asserts pair-set
    // equality vs the pure exact path, Dedup.jaccardPairsFrom, which
    // remains available as the exact fallback); q_winnow_pairs includes
    // its recall mechanism IN the oracle and has no such gap.
    "q_ngram_jaccard"    -> (ngramJaccard _),
    "q_minhash_dedup"    -> (minhashDedup _),
    "q_winnow_pairs"     -> (winnowPairs _),
    "q_dedup_clusters"   -> (dedupClusters _),
    "q_dedup_incremental" -> (dedupIncremental _),
    "q_winnow_incremental" -> (winnowIncremental _),
    "q_simhash_incremental" -> (simhashIncremental _),
    "q_clean_corpus"     -> (cleanCorpus _),
    "q_decontaminate"    -> (decontaminate _),
    "q_bloom_decontaminate" -> (bloomDecontaminate _),
    "q_contamination_overlap" -> (contaminationOverlap _),
    "q_chunk_docs"       -> (chunkDocuments _),
    "q_simhash"          -> (simhash _),
    "q_simhash_pairs"    -> (simhashPairs _),
    "q_shard_manifest"   -> (shardManifest _),
    "q_collocations"     -> (collocationsTopK _),
    "q_snapshot_diff"    -> (snapshotDiff _),
    "q_similarity_topk"  -> (similarityTopK _),
    "q_knn_join"         -> (knnJoin _),
    "q_knn_labels"       -> (knnLabelPropagation _),
    "q_knn_labels_ivf"   -> (knnLabelPropagationIvf _),
    "q_embedding_quantize" -> (embeddingQuantize _),
    "q_quantized_rerank" -> (quantizedRerank _),
    "q_ivf_rerank"       -> (ivfRerank _),
    "q_pq_rerank"        -> (pqRerank _),
    "q_similarity_lsh"   -> (similarityLsh _),
    "q_similarity_ivf"   -> (similarityIvf _),
    "q_cluster_sizes"    -> (clusterSizes _),
    "q_embedding_outliers" -> (embeddingOutliers _),
    "q_diverse_sample"   -> (diverseSample _),
    "q_adaptive_quality" -> (adaptiveQualityGate _),
    "q_cluster_profile"  -> (clusterProfile _),
    "q_embedding_dedup"  -> (embeddingDedup _),
    "q_semantic_dedup"   -> (semanticDedup _),
    "q_lm_score"         -> (lmScore _),
    "q_lm_gate"          -> (lmGate _),
    "q_dsir_select"      -> (dsirSelect _),
    "q_nb_classify"      -> (nbClassify _),
    "q_nb_eval"          -> (nbEval _),
    "q_langid_confusion" -> (langIdConfusion _),
    "q_quality_ensemble" -> (qualityEnsemble _),
    "q_gopher_rules"     -> (gopherRules _),
    "q_bpe_train"        -> (bpeTrain _),
    "q_bpe_vocab"        -> (bpeVocab _),
    "q_bpe_encode"       -> (bpeEncode _),
    "q_pack_bpe"         -> (packBpe _),
    "q_lexicon_hits"     -> (lexiconHits _),
    "q_bm25_topk"        -> (bm25TopK _),
    "q_char_entropy"     -> (charEntropy _),
    "q_pack_nextfit"     -> (packNextFit _),
    "q_curriculum_pack"  -> (curriculumPack _),
    "q_self_dedup"       -> (selfDedup _),
    "q_gate_sweep"       -> (gateSweep _),
    "q_hybrid_rrf"       -> (hybridRrf _),
    "q_unimax_alloc"     -> (unimaxAlloc _),
    "q_dedup_stats"      -> (dedupStats _),
    "q_source_overlap"   -> (sourceOverlap _),
    "q_oov_rate"         -> (oovRate _),
    "q_gram_novelty"     -> (gramNovelty _),
    "q_label_centroids"  -> (labelCentroids _),
    "q_embedding_moments" -> (embeddingMoments _),
    "q_pca_power"        -> (pcaPower _),
    "q_pca_outliers"     -> (pcaOutliers _),
    "q_pca_residual"     -> (pcaResidual _),
    "q_dataset_card"     -> (datasetCard _),
    "q_rare_tokens"      -> (rareTokens _),
    "q_signal_corr"      -> (signalCorr _),
    "q_length_histogram" -> (lengthHistogram _),
    "q_shard_skew"       -> (shardSkew _),
    "q_ivf_recall"       -> (ivfRecall _),
    "q_ivf_sweep"        -> (ivfSweep _),
    "q_ivf_occupancy"    -> (ivfOccupancy _),
    "q_cluster_best"     -> (clusterBest _),
    "q_source_kl"        -> (sourceKl _),
    "q_proto_prune"      -> (protoPrune _),
    "q_dedup_sweep"      -> (dedupSweep _),
    "q_split_psi"        -> (splitPsi _),
    "q_bpe_fertility"    -> (bpeFertility _),
    "q_curation_pipeline" -> (curationPipeline _),
    "q_curation_funnel"  -> (curationFunnel _),
    "q_curation_bias"    -> (curationBias _),
    "q_dup_sources"      -> (dupSources _),
    "q_quality_calibrated" -> (qualityCalibrated _),
    "q_leakage_safe_split" -> (leakageSafeSplit _),
    "q_cardinality_audit" -> (cardinalityAudit _),
    "q_sketch_union"     -> (sketchUnion _),
    "q_normalize_text"   -> (normalizeText _),
    "q_source_drift"     -> (sourceDrift _),
    "q_dedup_weights"    -> (dedupWeights _),
    "q_lexicon_scrub"    -> (lexiconScrub _),
    "q_hard_negatives"   -> (hardNegatives _),
    "q_perplexity_buckets" -> (perplexityBuckets _),
    "q_perplexity_buckets_approx" -> (perplexityBucketsApprox _),
    "q_doc_percentiles_approx" -> (docPercentilesApprox _),
    "q_token_stats"      -> (tokenStats _),
    "q_pack_sequences"   -> (packSequences _),
    "q_tfidf_topk"       -> (tfidfTopK _),
    "q_doc_percentiles"  -> (docPercentiles _),
    "q_train_split"      -> (trainSplit _),
    "q_vocab_topk"       -> (vocabTopK _),
    "q_quality_repetition" -> (repetitionStats _),
    "q_repetition_profile" -> (repetitionProfile _),
    "q_boilerplate"      -> ((s: SparkSession, d: String) => boilerplate(s, d)),
    "q_pii_scrub"        -> (piiScrub _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_mixture_resample" -> (mixtureResample _),
    "q_mixture_tokens"   -> (mixtureTokens _),
    "q_temperature_mixture" -> (temperatureMixture _),
    "q_sample_per_group" -> (samplePerGroup _))

  private val stopList = TA.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** The q_text_stats quality score as a DuckDB expression over `text` —
    * shared verbatim by the q_token_budget oracle so both restate the
    * same (hash-proven) formula. */
  /** The [[ensembleSignals]] Column trees restated once as the `sig`
    * CTE — SHARED by the q_quality_ensemble and q_signal_corr oracles
    * so a signal-definition edit can never silently decouple the two
    * (the pcaCtes precedent). */
  private def ensembleSigCte: String =
    """sig AS (
      |  SELECT doc_id,
      |         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) s_tokens,
      |         CAST(FLOOR(CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE) /
      |                    CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) * 1000000.0) AS BIGINT) s_ttr,
      |         CAST(FLOOR(CAST(n_chars - (LEN(STRING_SPLIT(text, ' ')) - 1) AS DOUBLE) /
      |                    CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) * 1000000.0) AS BIGINT) s_mwl
      |  FROM documents)""".stripMargin

  private def qualitySql: String =
    s"""(LEAST(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) / 100.0, 1.0)
       |        + CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE) / LEN(STRING_SPLIT(text, ' '))
       |        + LEAST(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS($stopList, x))) AS DOUBLE)
       |                / LEN(STRING_SPLIT(text, ' ')) * 5.0, 1.0)) / 3.0""".stripMargin

  /** q_repetition_profile oracle: per n, explode the n-grams from the
    * shared token array, count per (doc, gram), and restate the two
    * fraction families with the exact tie-break ((cnt DESC, gram ASC))
    * and the integer-multiply-then-divide IEEE order the native uses.
    * Docs shorter than n have no grams → NULL-guarded 0.0, the
    * GramStats edge. */
  private def repetitionProfileSql: String = {
    def gramExpr(n: Int) = (1 to n).map(j => s"a[i+$j]").mkString(" || ' ' || ")
    val ns = RepetitionTopNs ++ RepetitionDupNs
    val gramCtes = ns.map { n =>
      s"""g$n AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-${n - 1}, 0)),
         |          i -> ${gramExpr(n)})) AS g FROM arr),
         |c$n AS (SELECT doc_id, g, COUNT(*) cnt FROM g$n GROUP BY 1, 2)""".stripMargin
    }
    val tops = RepetitionTopNs.map { n =>
      s"""t$n AS (SELECT doc_id, g, cnt FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) rn
         |  FROM c$n) WHERE rn = 1)""".stripMargin
    }
    val dups = RepetitionDupNs.map { n =>
      s"""d$n AS (SELECT doc_id, SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(g) END) dc
         |       FROM c$n GROUP BY 1)""".stripMargin
    }
    val topCols = RepetitionTopNs.map { n =>
      s"""CASE WHEN d.n_chars = 0 OR t$n.cnt IS NULL THEN 0.0
         |     ELSE t$n.cnt * LENGTH(t$n.g) * 1.0 / d.n_chars END AS top_${n}gram_frac""".stripMargin
    }
    val dupCols = RepetitionDupNs.map { n =>
      s"""CASE WHEN d.n_chars = 0 OR d$n.dc IS NULL THEN 0.0
         |     ELSE d$n.dc * 1.0 / d.n_chars END AS dup_${n}gram_frac""".stripMargin
    }
    val joins = RepetitionTopNs.map(n => s"LEFT JOIN t$n ON t$n.doc_id = d.doc_id") ++
      RepetitionDupNs.map(n => s"LEFT JOIN d$n ON d$n.doc_id = d.doc_id")
    s"""WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
       |${(gramCtes ++ tops ++ dups).mkString(",\n")}
       |SELECT d.doc_id,
       |${(topCols ++ dupCols).mkString(",\n")}
       |FROM documents d
       |${joins.mkString("\n")}
       |ORDER BY d.doc_id""".stripMargin
  }

  private val jaccardSql =
    """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
      |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
      |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
      |sz AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
      |inter AS (SELECT x.doc_id da, y.doc_id db, COUNT(*) inter
      |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
      |SELECT da, db, inter, inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS jaccard
      |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
      |ORDER BY da, db""".stripMargin

  /** [[jaccardSql]]'s shingle/intersection chain ending in a `pj`
    * (da, db, j ≥ floor) CTE — shared by the q_dedup_sweep and
    * q_dup_sources oracles so the exact-Jaccard restatement lives in one
    * place. */
  private def jaccardPairCtes(floor: String): String =
    s"""arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
       |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
       |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
       |sz AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id da, y.doc_id db, COUNT(*) inter
       |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
       |pj AS (SELECT da, db, inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS j
       |       FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |       WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= $floor)""".stripMargin

  /** q_dedup_sweep oracle: the shingle CTEs with the Spark side's
    * [[Dedup.AuditDfCap]] restated — candidates from shingles with
    * df ≤ cap (df counted on the shingle STRING where Spark counts the
    * 64-bit hash; identical absent collisions, the standing oracle
    * assumption), exact intersection over the FULL shingle sets
    * restricted to those candidates, and the `hot_shingle_share` ledger
    * as the same SUM(CASE df > cap) / SUM(df) ratio (guarded to 0.0 on
    * an empty corpus, mirroring hotShingleStats). At the verify SFs
    * max df ≪ cap, so the capped chain IS the complete one — the hash
    * compare pins both the curve and the 0.0 ledger. Thresholds are
    * formatted from the same Scala constants the Spark side scans. */
  private def dedupSweepSql: String = {
    val ths = SweepThresholds
      .map(t => s"CAST(${BigDecimal(t).underlying.toPlainString} AS DOUBLE)")
      .mkString("[", ", ", "]")
    val floor = BigDecimal(SweepThresholds.min).underlying.toPlainString
    val cap = Dedup.AuditDfCap
    s"""WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
       |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
       |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
       |sz AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
       |df AS (SELECT s, COUNT(*) df FROM sh GROUP BY s),
       |cold AS (SELECT x.doc_id, x.s FROM sh x JOIN df USING (s) WHERE df.df <= $cap),
       |cand AS (SELECT DISTINCT x.doc_id da, y.doc_id db
       |         FROM cold x JOIN cold y ON x.s = y.s AND x.doc_id < y.doc_id),
       |inter AS (SELECT c.da, c.db, COUNT(*) inter
       |          FROM cand c JOIN sh x ON x.doc_id = c.da
       |          JOIN sh y ON y.doc_id = c.db AND y.s = x.s GROUP BY 1, 2),
       |pj AS (SELECT da, db, inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS j
       |       FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |       WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= $floor),
       |hot AS (SELECT CASE WHEN COALESCE(SUM(df), 0) > 0
       |               THEN CAST(COALESCE(SUM(CASE WHEN df > $cap THEN df END), 0) AS DOUBLE)
       |                    / CAST(SUM(df) AS DOUBLE) ELSE 0.0 END AS hot_shingle_share FROM df),
       |t AS (SELECT UNNEST($ths) AS threshold),
       |sel AS (SELECT threshold, da, db FROM pj, t WHERE j >= threshold),
       |np AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) n_pairs FROM sel GROUP BY 1),
       |nd AS (SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) n_docs
       |       FROM (SELECT threshold, UNNEST([da, db]) d FROM sel) GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) total_docs FROM documents)
       |SELECT t.threshold,
       |       CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
       |       CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
       |       CAST(COALESCE(n_docs, 0) AS DOUBLE) / CAST(total_docs AS DOUBLE) AS doc_share,
       |       hot.hot_shingle_share
       |FROM t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold), tot, hot
       |ORDER BY threshold""".stripMargin
  }

  /** q_dup_sources oracle: the exact ≥ 0.8 pair set ([[jaccardPairCtes]]
    * — the same oracle q_minhash_dedup shares, so the banded candidate
    * recall argument carries over verbatim) attributed to unordered
    * source pairs. */
  private def dupSourcesSql: String =
    s"""WITH ${jaccardPairCtes("0.8")},
       |ps AS (SELECT LEAST(xa.source, xb.source) AS source_a,
       |              GREATEST(xa.source, xb.source) AS source_b
       |       FROM pj JOIN documents xa ON xa.doc_id = pj.da
       |               JOIN documents xb ON xb.doc_id = pj.db),
       |c AS (SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) n_pairs
       |      FROM ps GROUP BY 1, 2),
       |t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) total FROM c)
       |SELECT source_a, source_b, n_pairs,
       |       CAST(n_pairs AS DOUBLE) / CAST(total AS DOUBLE) AS pair_share
       |FROM c, t ORDER BY source_a, source_b""".stripMargin

  /** Decontamination oracle, shared by the exact broadcast path and the
    * Bloom-prefilter path (the latter is exact by construction: the
    * verify join removes bitset false positives). Shingle sets are hashed
    * on the Spark side (xxhash64) and literal on the oracle side; the
    * (doc, matched-distinct-shingle) sets coincide, so the per-doc hit
    * counts agree. */
  private val decontaminateSql =
    """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
      |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
      |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10)
      |SELECT x.doc_id, COUNT(*) AS n_hits
      |FROM sh x JOIN bench b ON x.s = b.s
      |WHERE x.doc_id >= 10
      |GROUP BY x.doc_id ORDER BY x.doc_id""".stripMargin

  /** Graded-decontamination oracle: the q_decontaminate gram CTEs, hits
    * by LEFT join (misses count 0), one int/int division for the
    * fraction; zero-gram docs re-enter with 0.0 via the outer doc scan. */
  private val contaminationOverlapSql =
    """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
      |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
      |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
      |per AS (SELECT x.doc_id, COUNT(*) n_grams,
      |               SUM(CASE WHEN b.s IS NULL THEN 0 ELSE 1 END) n_hits
      |        FROM sh x LEFT JOIN bench b ON x.s = b.s
      |        WHERE x.doc_id >= 10 GROUP BY x.doc_id)
      |SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
      |       CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
      |       CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
      |            ELSE CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE) END AS overlap_frac
      |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      |WHERE d.doc_id >= 10 ORDER BY d.doc_id""".stripMargin

  /** Incremental-ingest oracle, shared by the MinHash-band and
    * winnow-fingerprint index variants: a new (odd-id) doc drops when a
    * ≥ 0.8-exact-Jaccard partner exists among indexed (even-id) docs or
    * earlier odd-id docs. */
  private val incrementalSql =
    """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
      |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
      |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
      |sz AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
      |inter AS (SELECT x.doc_id nd, y.doc_id od, COUNT(*) inter
      |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id % 2 = 1
      |            AND (y.doc_id % 2 = 0 OR y.doc_id < x.doc_id)
      |          GROUP BY 1, 2),
      |dropped AS (SELECT DISTINCT nd AS doc_id
      |            FROM inter JOIN sz sa ON sa.doc_id = nd JOIN sz sb ON sb.doc_id = od
      |            WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8)
      |SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'index' ELSE 'new' END AS src
      |FROM documents
      |WHERE doc_id % 2 = 0 OR doc_id NOT IN (SELECT doc_id FROM dropped)
      |ORDER BY doc_id""".stripMargin

  /** SimHash oracle CTEs: the md5-60-bit algorithm of Dedup.simhashAgg
    * restated in SQL — generated so the bit width stays in one place.
    * Ends with `sig(doc_id, simhash)`; shared by the per-doc signature
    * oracle and the Hamming-pairs oracle. */
  private def simhashCtes: String = {
    val bits = 60
    val sums = (0 until bits)
      .map(b => s"SUM(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(", ")
    val sig = (0 until bits)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, ('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT AS th FROM toks),
       |bits AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  private val simhashSql =
    s"""$simhashCtes
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** Simhash incremental-ingest oracle: even-id docs are the index, an
    * odd-id doc drops when a Hamming-≤3 partner exists among even docs
    * or earlier odd docs — stated as the naive quadratic popcount
    * predicate, which the banded plan provably equals. */
  private val simhashIncrementalSql =
    s"""$simhashCtes,
       |dropped AS (SELECT DISTINCT a.doc_id
       |  FROM sig a JOIN sig b
       |    ON a.doc_id % 2 = 1 AND (b.doc_id % 2 = 0 OR b.doc_id < a.doc_id)
       |   AND BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3)
       |SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'index' ELSE 'new' END AS src
       |FROM documents
       |WHERE doc_id % 2 = 0 OR doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  /** Hamming-pairs oracle: the NAIVE quadratic popcount join the banded
    * Spark plan is provably equivalent to (pigeonhole at radius 3 < 4
    * bands) — the oracle states the semantics, the plan earns the scale. */
  private val simhashPairsSql =
    s"""$simhashCtes
       |SELECT a.doc_id AS da, b.doc_id AS db,
       |  CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3
       |ORDER BY da, db""".stripMargin

  /** LSH ANN oracle: the exact lshTopK computation restated in SQL with the
    * ±1 hyperplane weights inlined as literals (same splitmix64-derived
    * weights the Spark plan bakes in). Projections are written as the same
    * left-associated fold the Spark `aggregate` performs, so the sign tests
    * agree bit-for-bit; LIST_COSINE_SIMILARITY matches the fold-based
    * cosine (proven bit-exact by q_similarity_topk). */
  private val lshSql = {
    val planes = 4; val tables = 16; val dims = 64; val nQueries = 50; val k = 5
    def proj(t: Int, p: Int): String =
      (0 until dims)
        .map(d => s"e[${d + 1}] * ${Similarity.planeWeight(t * planes + p, d)}")
        .mkString("0.0 + ", " + ", "")
    def bucket(t: Int): String =
      (0 until planes)
        .map(p => s"(CASE WHEN (${proj(t, p)}) > 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
    val buckets = (0 until tables).map(bucket).mkString("[", ", ", "]")
    s"""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |bk AS (SELECT id, UNNEST(RANGE($tables)) AS tbl, UNNEST($buckets) AS bucket FROM base),
       |cand AS (SELECT DISTINCT q.id AS qid, c.id AS cid
       |         FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |         WHERE q.id < $nQueries AND q.id <> c.id),
       |scored AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qe.e, ce.e) AS sim
       |           FROM cand JOIN base qe ON qe.id = qid JOIN base ce ON ce.id = cid),
       |ranked AS (SELECT qid, cid, sim,
       |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
       |           FROM scored)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** IVF oracle machinery: the deterministic spherical k-means of
    * [[Ivf]] restated as chained CTEs. Every floating-point fold is
    * spelled out as the same left-associated `0.0 + t1 + t2 + …` chain
    * the Spark `aggregate` performs, and every cross-record mean runs its
    * SUM in DECIMAL(38,18) in both engines, so centroids — and therefore
    * assignments, probes, and pairs — agree bit-for-bit. */
  // 0.0 + (e[1]-c[1])^2 + ... — Ivf.sqDist's fold order; shared by
  // ivfCtes and the probe CTEs oracles append on top of it
  private def ivfDistChain(e: String, c: String): String =
    (0 until IvfDims).map(d => s"($e[${d + 1}]-$c[${d + 1}])*($e[${d + 1}]-$c[${d + 1}])")
      .mkString("0.0 + ", " + ", "")
  /** Name of [[ivfCtes]]' final trained-centroid CTE. */
  private def ivfFinalCent: String = s"cent$IvfIters"

  private def ivfCtes: String = {
    val dims = IvfDims
    def distChain(e: String, c: String): String = ivfDistChain(e, c)
    val normChain = (0 until dims).map(d => s"raw[${d + 1}]*raw[${d + 1}]")
      .mkString("0.0 + ", " + ", "")
    val sb = new StringBuilder
    sb ++= s"""WITH rawv AS (SELECT vec_id id, CAST(embedding AS DOUBLE[]) raw FROM embeddings),
              |base AS (SELECT id, raw, LIST_TRANSFORM(raw, x -> x / sqrt($normChain)) e FROM rawv),
              |ex AS (SELECT id, d, e[d+1] v FROM base, UNNEST(RANGE($dims)) t(d)),
              |c0 AS (SELECT ((id % $IvfNlist) + $IvfNlist) % $IvfNlist cl, d, CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*) cv FROM ex GROUP BY 1,2),
              |cent0 AS (SELECT cl, LIST(cv ORDER BY d) c FROM c0 GROUP BY cl)""".stripMargin
    // each assignment computes the scalar distance in an inner subquery,
    // then windows over (id, cl, dist) only — the 64-double lists are
    // projected away BEFORE the per-id sort, and the unrolled fold chain
    // appears exactly once per stage (the driver's r15 DuckDB run OOMed
    // on accumulated oracle memory; same doubles, same ordering)
    var prev = "cent0"
    for (it <- 1 to IvfIters) {
      sb ++= s""",
                |a$it AS (SELECT id, cl FROM (SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${distChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $prev c)) WHERE rn=1),
                |cs$it AS (SELECT a.cl, x.d, CAST(SUM(CAST(x.v AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*) cv FROM ex x JOIN a$it a ON a.id=x.id GROUP BY 1,2),
                |cent$it AS (SELECT cl, LIST(cv ORDER BY d) c FROM cs$it GROUP BY cl)""".stripMargin
      prev = s"cent$it"
    }
    sb ++= s""",
              |assign AS (SELECT id, cl FROM (SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${distChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $prev c)) WHERE rn=1)""".stripMargin
    sb.result()
  }

  /** Opt-in suffixes on [[ivfCtes]] — only the oracles that read them
    * append them, so the unrolled distance chain is not carried (or
    * parsed) by the dozen queries that only need `assign`. */
  private def ivfOdistCte: String =
    s""",
       |odist AS (SELECT id, cl, dist FROM (SELECT id, cl, dist, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${ivfDistChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $ivfFinalCent c)) WHERE rn=1)""".stripMargin
  private def ivfProbesCte: String =
    s""",
       |probes AS (SELECT id qid, cl FROM (SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${ivfDistChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $ivfFinalCent c WHERE b.id<$IvfNq)) WHERE rn<=$IvfNprobe)""".stripMargin

  /** PQ oracle machinery — [[graft.operators.Pq]] restated per block on
    * top of [[ivfCtes]]'s normalized `base`/`ex` frames: block `j` takes
    * dims [j·len, (j+1)·len), seeds codeword `((id+j) % k + k) % k`
    * (the Scala side's id-offset floorMod init), runs the same
    * decimal-mean Lloyd iterations with the same left-associated
    * squared-L2 chains and lower-index tie-break, then reconstructs each
    * vector as its assigned codewords flattened in dimension order.
    * Produces CTE `precon` (id, r) — the reconstruction every PQ query
    * scores against. */
  private def pqCtes: String = {
    val len = IvfDims / PqM
    def distChain(e: String, c: String): String =
      (0 until len).map(d => s"($e[${d + 1}]-$c[${d + 1}])*($e[${d + 1}]-$c[${d + 1}])")
        .mkString("0.0 + ", " + ", "")
    val sb = new StringBuilder
    for (j <- 0 until PqM) {
      val off = j * len
      sb ++= s""",
                |pex$j AS (SELECT id, d - $off AS d, v FROM ex WHERE d >= $off AND d < ${off + len}),
                |psub$j AS (SELECT id, LIST(v ORDER BY d) e FROM pex$j GROUP BY id),
                |pc0_$j AS (SELECT (((id + $j) % $PqK) + $PqK) % $PqK cw, d, CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*) cv FROM pex$j GROUP BY 1,2),
                |pcent0_$j AS (SELECT cw, LIST(cv ORDER BY d) c FROM pc0_$j GROUP BY cw)""".stripMargin
      var prev = s"pcent0_$j"
      for (it <- 1 to PqIters) {
        // COALESCE(new, previous): a codeword with no members this
        // iteration keeps its previous centroid — Ivf.centroids'
        // empty-cluster rule, which keeps the codebook at cardinality k
        sb ++= s""",
                  |pa${it}_$j AS (SELECT id, cw FROM (SELECT id, cw, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cw ASC) rn FROM (SELECT s.id, c.cw, (${distChain("s.e", "c.c")}) dist FROM psub$j s CROSS JOIN $prev c)) WHERE rn=1),
                  |pcs${it}_$j AS (SELECT a.cw, x.d, CAST(SUM(CAST(x.v AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*) cv FROM pex$j x JOIN pa${it}_$j a ON a.id=x.id GROUP BY 1,2),
                  |pcent${it}_$j AS (SELECT p.cw, COALESCE(n.c, p.c) c FROM $prev p LEFT JOIN (SELECT cw, LIST(cv ORDER BY d) c FROM pcs${it}_$j GROUP BY cw) n ON n.cw = p.cw)""".stripMargin
        prev = s"pcent${it}_$j"
      }
      sb ++= s""",
                |paF$j AS (SELECT id, cw FROM (SELECT id, cw, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cw ASC) rn FROM (SELECT s.id, c.cw, (${distChain("s.e", "c.c")}) dist FROM psub$j s CROSS JOIN $prev c)) WHERE rn=1),
                |ppr$j AS (SELECT a.id, t.d + $off AS gd, c.c[t.d+1] AS cv FROM paF$j a JOIN $prev c ON c.cw = a.cw, UNNEST(RANGE($len)) t(d))""".stripMargin
    }
    sb ++= s""",
              |precon AS (SELECT id, LIST(cv ORDER BY gd) r FROM (${(0 until PqM).map(j => s"SELECT * FROM ppr$j").mkString(" UNION ALL ")}) GROUP BY id)""".stripMargin
    sb.result()
  }

  private val ivfSql =
    s"""$ivfCtes$ivfProbesCte,
       |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probes p JOIN assign a ON a.cl=p.cl WHERE a.id<>p.qid),
       |scored AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) sim FROM cand JOIN rawv q ON q.id=qid JOIN rawv c ON c.id=cid),
       |ranked AS (SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) rank FROM scored)
       |SELECT qid, CAST(rank AS BIGINT) rank, cid, sim FROM ranked WHERE rank<=$IvfK ORDER BY qid, rank""".stripMargin

  /** q_ivf_sweep oracle: the bit-exact [[ivfCtes]] machinery with the
    * probe RANK kept (`probesW`), candidates tagged with the first
    * probe rank that reaches them, one shared scored frame, and a
    * per-threshold rank/hits/recall restatement of the Column tree —
    * the exact side is the proven q_similarity_topk brute-force shape,
    * recall the single micro-averaged double division. */
  private def ivfSweepSql: String =
    s"""$ivfCtes,
       |probesW AS (SELECT id qid, cl, rn FROM (SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn FROM (SELECT b.id, c.cl, (${ivfDistChain("b.e", "c.c")}) dist FROM base b CROSS JOIN $ivfFinalCent c WHERE b.id<$IvfNq)) WHERE rn<=$IvfNprobe),
       |cand AS (SELECT p.qid, a.id cid, CAST(MIN(p.rn) AS BIGINT) first_probe
       |         FROM probesW p JOIN assign a ON a.cl=p.cl WHERE a.id<>p.qid GROUP BY 1, 2),
       |scored AS (SELECT cand.qid, cand.cid, cand.first_probe,
       |             LIST_COSINE_SIMILARITY(q.raw, c.raw) sim
       |           FROM cand JOIN rawv q ON q.id=cand.qid JOIN rawv c ON c.id=cand.cid),
       |th AS (SELECT UNNEST([${IvfSweepProbes.mkString(", ")}]) AS nprobe),
       |exactk AS (SELECT qid, cid FROM (
       |             SELECT q.id qid, c.id cid,
       |               ROW_NUMBER() OVER (PARTITION BY q.id
       |                 ORDER BY LIST_COSINE_SIMILARITY(q.raw, c.raw) DESC, c.id ASC) rk
       |             FROM rawv q JOIN rawv c ON q.id<$IvfNq AND c.id<>q.id)
       |           WHERE rk<=$IvfK),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) n_exact,
       |               CAST(COUNT(DISTINCT qid) AS BIGINT) n_queries FROM exactk),
       |ranked AS (SELECT t.nprobe, s.qid, s.cid,
       |             ROW_NUMBER() OVER (PARTITION BY t.nprobe, s.qid
       |               ORDER BY s.sim DESC, s.cid ASC) rk
       |           FROM th t JOIN scored s ON s.first_probe <= t.nprobe),
       |hits AS (SELECT r.nprobe, CAST(COUNT(*) AS BIGINT) n_hits
       |         FROM ranked r JOIN exactk e ON e.qid=r.qid AND e.cid=r.cid
       |         WHERE r.rk<=$IvfK GROUP BY 1)
       |SELECT CAST(t.nprobe AS BIGINT) nprobe, tot.n_queries, tot.n_exact,
       |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(tot.n_exact AS DOUBLE) AS recall
       |FROM th t CROSS JOIN tot LEFT JOIN hits h ON h.nprobe=t.nprobe
       |ORDER BY nprobe""".stripMargin

  /** q_ivf_recall oracle: the per-QUERY recall table — the bit-exact
    * [[ivfCtes]] machinery (k-means training restated in decimal-mean
    * SQL, identical to what trains — or trained — the persisted
    * centroids the Spark side probes; training is deterministic and the
    * re-read artifact is bit-identical, the standing q_ivf_rerank /
    * q_ivf_sweep argument), the [[ivfSql]] candidate/score/rank chain at
    * the served nprobe, the proven exact brute-force side, then per-qid
    * hit counts — integer counts after the proven rank stages, so the
    * recall ratio is the only floating-point op past them. */
  private def ivfRecallSql: String =
    s"""$ivfCtes$ivfProbesCte,
       |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probes p JOIN assign a ON a.cl=p.cl WHERE a.id<>p.qid),
       |scored AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) sim FROM cand JOIN rawv q ON q.id=qid JOIN rawv c ON c.id=cid),
       |approxk AS (SELECT qid, cid FROM (
       |             SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) rank
       |             FROM scored) WHERE rank<=$IvfK),
       |exactk AS (SELECT qid, cid FROM (
       |             SELECT q.id qid, c.id cid,
       |               ROW_NUMBER() OVER (PARTITION BY q.id
       |                 ORDER BY LIST_COSINE_SIMILARITY(q.raw, c.raw) DESC, c.id ASC) rk
       |             FROM rawv q JOIN rawv c ON q.id<$IvfNq AND c.id<>q.id)
       |           WHERE rk<=$IvfK),
       |hits AS (SELECT e.qid, CAST(COUNT(*) AS BIGINT) n_hits
       |         FROM exactk e JOIN approxk a ON a.qid=e.qid AND a.cid=e.cid GROUP BY 1),
       |ne AS (SELECT qid, CAST(COUNT(*) AS BIGINT) n_exact FROM exactk GROUP BY 1)
       |SELECT ne.qid, ne.n_exact, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(ne.n_exact AS DOUBLE) AS recall
       |FROM ne LEFT JOIN hits h USING (qid)
       |ORDER BY qid""".stripMargin

  /** q_ivf_occupancy oracle: the bit-exact [[ivfCtes]] `assign` table
    * grouped by cluster, with the same (n/total) and (n/total)×nlist
    * double op order as the Column tree. */
  private val ivfOccupancySql =
    s"""$ivfCtes,
       |occ AS (SELECT CAST(cl AS BIGINT) cl, CAST(COUNT(*) AS BIGINT) n_vecs
       |        FROM assign GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) total FROM occ)
       |SELECT cl, n_vecs,
       |       CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |       (CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE)) * ${IvfNlist}.0 AS load_factor
       |FROM occ, tot ORDER BY cl""".stripMargin

  /** q_proto_prune oracle: the bit-exact [[ivfCtes]] assignment joined
    * to the FINAL centroid table, cosine against the centroid list, the
    * same (sim DESC, id ASC) per-cluster rank, and the same
    * CEIL(n × fraction) cut arithmetic. */
  private def protoPruneSql: String =
    s"""$ivfCtes,
       |ps AS (SELECT a.id, CAST(a.cl AS BIGINT) cl,
       |         LIST_COSINE_SIMILARITY(b.raw, c.c) proto_sim
       |       FROM assign a JOIN rawv b ON b.id = a.id
       |       JOIN cent$IvfIters c ON c.cl = a.cl),
       |rk AS (SELECT id, cl, proto_sim,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY cl
       |           ORDER BY proto_sim DESC, id ASC) AS BIGINT) rank,
       |         CAST(COUNT(*) OVER (PARTITION BY cl) AS BIGINT) n_cl
       |       FROM ps)
       |SELECT id, cl, proto_sim, rank,
       |       rank > CAST(CEIL(CAST(n_cl AS DOUBLE) * $ProtoDropFrac) AS BIGINT) AS kept
       |FROM rk ORDER BY id""".stripMargin

  private val semDedupSql =
    s"""$ivfCtes,
       |an AS (SELECT a.cl, a.id, b.raw FROM assign a JOIN rawv b ON b.id = a.id),
       |pairs AS (SELECT x.id da, y.id db, LIST_COSINE_SIMILARITY(x.raw, y.raw) sim
       |          FROM an x JOIN an y ON x.cl=y.cl AND x.id<y.id)
       |SELECT da, db, sim FROM pairs WHERE sim>=$SemDedupThreshold ORDER BY da, db""".stripMargin

  /** SemDeDup end-to-end oracle: the k-means CTEs (q_similarity_ivf,
    * bit-exact), the within-cluster cosine pair set (q_embedding_dedup),
    * then connected components by K-BOUNDED min-label iteration instead of
    * a `WITH RECURSIVE` transitive closure — the closure materializes
    * O(nodes × component-size) `reach` rows and OOMed the driver's
    * memory-squeezed compare process (round 9). Min-label propagates the
    * component minimum one hop per level, so memory stays linear in edges;
    * SemDeDup components are near-cliques (within-cluster cosine balls),
    * so the level budget covers any realistic diameter with margin. Each
    * level is `MATERIALIZED`: levels reference their predecessor three
    * times, and inlining would otherwise multiply the plan per level
    * (exponential blowup). LEFT-joined back onto the full vector universe
    * so unpaired vectors keep themselves. Each level combines two
    * monotone steps: a HOOK (neighbor-min over `edges`, one hop of
    * connectivity per level) and a JUMP (label-of-label — every label IS
    * a node id of the same component, so `l(l(node))` compresses formed
    * label chains, the pointer-doubling step). The jump accelerates only
    * along already-formed chains; into territory whose ids are locally
    * minimal the frontier still moves one hop per level, so the honest
    * bound is "min-eccentricity ≤ K", not 2^K (measured: the round-15
    * sf0.1 oracle drive converges at level 13; sf0.01 within 8; the toy
    * 40-path within 8). K = 24 gives ~2× margin over the worst measured
    * scale. The round-14 form hooked over a materialized 2-HOP closure
    * (edges ∪ edges∘edges, an O(Σ degree²) table) with K = 8 — an sf0.1
    * component breached that 16-eccentricity cap, and the closure was
    * the memory hog that limited K in the first place; the jump form
    * removed the quadratic closure, so each level is a node-count-sized
    * table and 24 levels cost less than 8 closure levels did (the full
    * 32-level probe runs in ~4s at sf0.1). Labels only ever take MINs of
    * node ids inside the same component (hook brings edge-neighbor
    * labels, jump brings a label-node's own label), so the fixpoint is
    * the component minimum — exactly Spark's labeling. The bound stays
    * oracle-side only and GUARDED: the `conv` CTE compares l_K with
    * l_{K-1} and routes any un-converged node through DuckDB's error()
    * with a raise-K message, so an overrun on regenerated/larger data
    * fails loudly as an oracle-bound breach instead of reading as a
    * Spark labeling bug. */
  private val semanticDedupSql = {
    val K = 24
    val levels = (1 to K).map { i =>
      s"""l$i AS MATERIALIZED (SELECT node, MIN(lab) AS lab FROM (
         |       SELECT e.a AS node, LEAST(la.lab, lb.lab) AS lab
         |       FROM edges e JOIN l${i - 1} la ON la.node = e.a
         |       JOIN l${i - 1} lb ON lb.node = e.b
         |       UNION ALL
         |       SELECT c.node, p.lab FROM l${i - 1} c
         |       JOIN l${i - 1} p ON p.node = c.lab
         |     ) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""$ivfCtes,
       |an AS MATERIALIZED (SELECT a.cl, a.id, b.raw FROM assign a JOIN rawv b ON b.id = a.id),
       |sp AS MATERIALIZED (SELECT x.id da, y.id db
       |       FROM an x JOIN an y ON x.cl=y.cl AND x.id<y.id
       |       WHERE LIST_COSINE_SIMILARITY(x.raw, y.raw) >= $SemDedupThreshold),
       |edges AS MATERIALIZED (SELECT da a, db b FROM sp UNION SELECT db a, da b FROM sp),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM edges),
       |$levels,
       |conv AS (SELECT COUNT(*) c FROM l$K k JOIN l${K - 1} p
       |         ON p.node = k.node AND p.lab <> k.lab),
       |cc AS (SELECT node,
       |         CASE WHEN (SELECT c FROM conv) > 0
       |              THEN CAST(error('semantic-dedup oracle: hook+jump min-label did not converge within K=$K levels (component min-eccentricity > $K) — raise K in semanticDedupSql; this is an ORACLE bound, not a Spark labeling bug') AS BIGINT)
       |              ELSE lab END AS rep FROM l$K)
       |SELECT b.id AS vec_id, COALESCE(cc.rep, b.id) AS rep_id,
       |       CAST(COALESCE(cc.rep, b.id) = b.id AS INT) AS kept
       |FROM rawv b LEFT JOIN cc ON cc.node = b.id ORDER BY vec_id""".stripMargin
  }

  /** Bigram-LM score oracle: the collocations gram-construction recipe,
    * counts by plain joins (same numbers the Spark windows produce), the
    * (c2+1)·1.0/(c1+V) smoothed probability (one engine-exact division),
    * and the 1e-15 fixed-point per-doc summation — floor(p·10¹⁵) is the
    * same long on both engines, its sum is order-independent, and the
    * final division is one IEEE op (see [[TA.lmScore]] for why
    * DECIMAL(38,18) is NOT engine-exact here). */
  private val lmScoreSql =
    """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
      |g AS (SELECT doc_id, a[i+1] AS w1, a[i+1] || ' ' || a[i+2] AS g2
      |      FROM arr, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
      |c2 AS (SELECT g2, COUNT(*) c2 FROM g GROUP BY g2),
      |c1 AS (SELECT w1, COUNT(*) c1 FROM g GROUP BY w1),
      |vocab AS (SELECT COUNT(DISTINCT w1) v FROM g),
      |p AS (SELECT g.doc_id, (c2.c2 + 1) * 1.0 / (c1.c1 + vocab.v) AS p
      |      FROM g JOIN c2 USING (g2) JOIN c1 USING (w1) CROSS JOIN vocab),
      |d AS (SELECT doc_id, COUNT(*) n_bigrams,
      |             CAST(SUM(CAST(FLOOR(p * 1e15) AS BIGINT)) AS DOUBLE)
      |               / (COUNT(*) * 1e15) AS lm_score
      |      FROM p GROUP BY doc_id)
      |SELECT dd.doc_id, COALESCE(d.n_bigrams, 0) AS n_bigrams,
      |       COALESCE(d.lm_score, 0.0) AS lm_score
      |FROM documents dd LEFT JOIN d ON d.doc_id = dd.doc_id
      |ORDER BY dd.doc_id""".stripMargin

  /** q_lm_gate oracle: the q_lm_score per-doc score (an UNPRUNED
    * [[graft.functions.BigramLmModel]] scores lmScore-identically —
    * the SurvivorLmSpec exactness contract — so the gate's kept set is
    * exactly "score ≥ threshold" under the proven score recipe), then
    * the threshold filter. Sub-2-token documents score 0 on both
    * engines and fall out identically. */
  private val lmGateSql =
    s"""WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
       |g AS (SELECT doc_id, a[i+1] AS w1, a[i+1] || ' ' || a[i+2] AS g2
       |      FROM arr, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
       |c2 AS (SELECT g2, COUNT(*) c2 FROM g GROUP BY g2),
       |c1 AS (SELECT w1, COUNT(*) c1 FROM g GROUP BY w1),
       |vocab AS (SELECT COUNT(DISTINCT w1) v FROM g),
       |p AS (SELECT g.doc_id, (c2.c2 + 1) * 1.0 / (c1.c1 + vocab.v) AS p
       |      FROM g JOIN c2 USING (g2) JOIN c1 USING (w1) CROSS JOIN vocab),
       |d AS (SELECT doc_id,
       |             CAST(SUM(CAST(FLOOR(p * 1e15) AS BIGINT)) AS DOUBLE)
       |               / (COUNT(*) * 1e15) AS lm_score
       |      FROM p GROUP BY doc_id)
       |SELECT doc_id, lm_score FROM d WHERE lm_score >= $LmGateThreshold
       |ORDER BY doc_id""".stripMargin

  /** q_perplexity_buckets oracle: the q_lm_score recipe (engine-exact by
    * the fixed-point argument), per-language quartiles via quantile_cont
    * (bit-equal to Spark's exact `percentile` — the q_doc_percentiles
    * argument), and the same >= threshold CASE on exact doubles. */
  private val perplexityBucketsSql =
    """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
      |g AS (SELECT doc_id, a[i+1] AS w1, a[i+1] || ' ' || a[i+2] AS g2
      |      FROM arr, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
      |c2 AS (SELECT g2, COUNT(*) c2 FROM g GROUP BY g2),
      |c1 AS (SELECT w1, COUNT(*) c1 FROM g GROUP BY w1),
      |vocab AS (SELECT COUNT(DISTINCT w1) v FROM g),
      |p AS (SELECT g.doc_id, (c2.c2 + 1) * 1.0 / (c1.c1 + vocab.v) AS p
      |      FROM g JOIN c2 USING (g2) JOIN c1 USING (w1) CROSS JOIN vocab),
      |d AS (SELECT doc_id,
      |             CAST(SUM(CAST(FLOOR(p * 1e15) AS BIGINT)) AS DOUBLE)
      |               / (COUNT(*) * 1e15) AS lm_score
      |      FROM p GROUP BY doc_id),
      |s AS (SELECT dd.doc_id, dd.lang, COALESCE(d.lm_score, 0.0) AS lm_score
      |      FROM documents dd LEFT JOIN d ON d.doc_id = dd.doc_id),
      |t AS (SELECT lang, quantile_cont(lm_score, 0.75) q75,
      |             quantile_cont(lm_score, 0.25) q25 FROM s GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.lm_score,
      |       CASE WHEN s.lm_score >= t.q75 THEN 'head'
      |            WHEN s.lm_score >= t.q25 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM s JOIN t USING (lang) ORDER BY s.doc_id""".stripMargin

  // Redact rule patterns injected verbatim (single-quoted SQL strings do
  // not process backslashes, so Java-regex and RE2 see the same pattern;
  // every pattern avoids lookaround for exactly this reason).
  private def rx(r: graft.operators.Redact.Rule): String = r.pattern.replace("'", "''")

  private val piiScrubSql = {
    import graft.operators.Redact
    // single-line: the outer template's stripMargin would otherwise eat
    // the leading | of a line-initial ||
    val contact = "'user' || c_custkey || '@example.com tel +1 555-' || " +
      "lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || " +
      "' ip 10.0.' || c_nationkey || '.' || (c_custkey % 256) || " +
      "' port ' || (c_custkey % 90 + 10) || ' acct ' || (c_custkey + 7000000)"
    val scrub = Redact.defaults.foldLeft("contact") { (acc, r) =>
      s"regexp_replace($acc, '${rx(r)}', '${r.replacement}', 'g')"
    }
    s"""WITH c AS (SELECT c_custkey, $contact AS contact FROM customer)
       |SELECT c_custkey, $scrub AS scrubbed,
       |  CAST(len(regexp_extract_all(contact, '${rx(Redact.email)}')) AS BIGINT) n_emails,
       |  CAST(len(regexp_extract_all(contact, '${rx(Redact.ipv4)}')) AS BIGINT) n_ips,
       |  CAST(len(regexp_extract_all(contact, '${rx(Redact.phone)}')) AS BIGINT) n_phones,
       |  CAST(len(regexp_extract_all(contact, '${rx(Redact.digitRun)}')) AS BIGINT) n_ids
       |FROM c ORDER BY c_custkey""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Spark groups spans by xxhash64, the oracle by the literal span
    // text — counts coincide absent a 64-bit collision (the proven
    // q_decontaminate argument).
    "q_span_dedup" ->
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |g AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-4, 0)),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4] || ' ' || a[i+5])) AS s
        |      FROM arr),
        |df AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY s)
        |SELECT g.doc_id, COUNT(*) AS n_spans,
        |       CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |       CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
        |FROM g JOIN df USING (s)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q_span_scrub" ->
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |g AS (SELECT doc_id, a, UNNEST(RANGE(GREATEST(LEN(a)-4, 0))) AS pos FROM arr),
        |s AS (SELECT doc_id, pos, a[pos+1] || ' ' || a[pos+2] || ' ' || a[pos+3] || ' ' || a[pos+4] || ' ' || a[pos+5] AS s FROM g),
        |dup AS (SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS df FROM s GROUP BY s) WHERE df >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + UNNEST(RANGE(5)) AS tp FROM s JOIN dup USING (s)),
        |toks AS (SELECT doc_id, UNNEST(a) AS tok, UNNEST(RANGE(LEN(a))) AS tp FROM arr),
        |kept AS (SELECT t.doc_id, t.tok, t.tp FROM toks t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp)
        |SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY tp) AS clean_text, COUNT(*) AS n_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_token_budget" ->
      s"""WITH d AS (SELECT doc_id,
         |             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         |             $qualitySql AS quality
         |           FROM documents),
         |s AS (SELECT doc_id, n_tokens, quality,
         |        CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
         |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |      FROM d)
         |SELECT doc_id, n_tokens, quality, cum_tokens
         |FROM s WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,
    "q_source_mixture" ->
      """WITH a AS (SELECT source, lang, COUNT(*) AS n_docs,
        |             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        |       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share,
        |       CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE) AS doc_share
        |FROM a ORDER BY source, lang""".stripMargin,
    "q_simhash" -> simhashSql,
    "q_simhash_pairs" -> simhashPairsSql,
    "q_simhash_incremental" -> simhashIncrementalSql,
    "q_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, MD5(text || ' ' || lang || ' ' || source) d
        |           FROM documents WHERE doc_id % 5 <> 4),
        |v2 AS (SELECT doc_id,
        |         MD5((CASE WHEN doc_id % 7 = 1 THEN text || ' v2' ELSE text END)
        |             || ' ' || lang || ' ' || source) d
        |       FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.d <> n.d THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM v1 o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_collocations" ->
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
        |ORDER BY pmi_ratio DESC, bigram LIMIT 20""".stripMargin,
    "q_shard_manifest" ->
      """SELECT ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY shard ORDER BY shard""".stripMargin,
    // winnowing restated with SQL window functions: trigram per position,
    // md5-60-bit hash (the proven simhash parity recipe), MIN over a
    // 4-position frame, one full-cover window for docs with < 4 grams
    // (pos 0 only), DISTINCT per doc. Gram construction is the
    // q_quality_repetition recipe (hash-green).
    "q_winnow_fingerprint" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok,
        |                  unnest(range(len(string_split(text, ' ')))) pos
        |           FROM documents),
        |g AS (SELECT doc_id, pos,
        |             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS g3
        |      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |h AS (SELECT doc_id, pos, ('0x' || SUBSTR(MD5(g3), 1, 15))::BIGINT AS th,
        |             COUNT(*) OVER (PARTITION BY doc_id) AS n_g
        |      FROM g WHERE g3 IS NOT NULL),
        |m AS (SELECT doc_id, pos, n_g,
        |             MIN(th) OVER (PARTITION BY doc_id ORDER BY pos
        |                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM h)
        |SELECT DISTINCT doc_id, fp FROM m
        |WHERE pos <= GREATEST(n_g - 4, 0)
        |ORDER BY doc_id, fp""".stripMargin,
    "q_repetition_profile" -> repetitionProfileSql,
    "q_quality_repetition" ->
      """WITH t AS (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) tok,
        |                  unnest(range(len(string_split(text, ' ')))) pos
        |           FROM documents),
        |g AS (SELECT doc_id, n_chars,
        |             tok || ' ' || lead(tok, 1) OVER w AS g2,
        |             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS g3
        |      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |c2 AS (SELECT doc_id, n_chars, g2, count(*) cnt FROM g WHERE g2 IS NOT NULL GROUP BY 1, 2, 3),
        |top2 AS (SELECT doc_id, g2, cnt FROM (
        |   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g2 ASC) rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT doc_id, g3, count(*) cnt FROM g WHERE g3 IS NOT NULL GROUP BY 1, 2),
        |d3 AS (SELECT doc_id, SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(g3) END) dupchars FROM c3 GROUP BY doc_id)
        |SELECT d.doc_id, t.g2 AS top_bigram,
        |       CASE WHEN d.n_chars = 0 OR t.cnt IS NULL THEN 0.0
        |            ELSE t.cnt * LENGTH(t.g2) * 1.0 / d.n_chars END AS top_bigram_frac,
        |       CASE WHEN d.n_chars = 0 OR x.dupchars IS NULL THEN 0.0
        |            ELSE x.dupchars * 1.0 / d.n_chars END AS dup_trigram_frac
        |FROM documents d LEFT JOIN top2 t ON t.doc_id = d.doc_id LEFT JOIN d3 x ON x.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_boilerplate" ->
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
        |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
        |boiler AS (SELECT s FROM (SELECT s, COUNT(*) df FROM sh GROUP BY s) WHERE df >= 5)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_grams,
        |       CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_boiler,
        |       SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS boiler_frac
        |FROM sh LEFT JOIN boiler b ON b.s = sh.s
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_pii_scrub" -> piiScrubSql,
    // quantize → dequantize (FLOOR(x·scale+0.5)/scale, scale = 127/max|x|)
    // restated per list element; approximate shortlist of 20 by cosine over
    // the dequantized lists, exact cosine rerank to top-5.
    // LIST_COSINE_SIMILARITY ≡ the native fold (proven by q_similarity_topk).
    "q_quantized_rerank" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT id, e, LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))) ma FROM base),
        |s AS (SELECT id, e, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM m),
        |dq AS (SELECT id, e, LIST_TRANSFORM(e, x -> CASE WHEN scale = 0 THEN 0.0 ELSE FLOOR(x * scale + 0.5) / scale END) AS d FROM s),
        |approx AS (SELECT q.id AS qid, c.id AS cid, LIST_COSINE_SIMILARITY(q.d, c.d) AS asim
        |           FROM dq q JOIN dq c ON q.id < 25 AND q.id <> c.id),
        |cand AS (SELECT qid, cid FROM (
        |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY asim DESC, cid ASC) r
        |           FROM approx) WHERE r <= 20),
        |exact AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qe.e, ce.e) AS sim
        |          FROM cand JOIN base qe ON qe.id = qid JOIN base ce ON ce.id = cid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim FROM (
        |  SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
        |  FROM exact) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // IVF-SQ8: probes + assignment from the SAME deterministic k-means
    // CTEs as q_similarity_ivf (proven bit-exact), approximate scoring
    // over the SAME quantize→dequantize recipe as q_quantized_rerank
    // (proven bit-exact, zero-scale guard mirrored from the native
    // expression), exact rerank on the 20-candidate shortlist only.
    "q_ivf_rerank" ->
      s"""$ivfCtes$ivfProbesCte,
         |qm AS (SELECT id, raw, LIST_MAX(LIST_TRANSFORM(raw, x -> ABS(x))) ma FROM rawv),
         |qs AS (SELECT id, raw, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM qm),
         |dqv AS (SELECT id, LIST_TRANSFORM(raw, x -> CASE WHEN scale = 0 THEN 0.0 ELSE FLOOR(x * scale + 0.5) / scale END) AS d FROM qs),
         |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probes p JOIN assign a ON a.cl = p.cl WHERE a.id <> p.qid),
         |approx AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qd.d, cd.d) AS asim
         |           FROM cand JOIN dqv qd ON qd.id = qid JOIN dqv cd ON cd.id = cid),
         |short AS (SELECT qid, cid FROM (
         |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY asim DESC, cid ASC) r
         |           FROM approx) WHERE r <= 20),
         |exact AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) AS sim
         |          FROM short JOIN rawv q ON q.id = qid JOIN rawv c ON c.id = cid)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim FROM (
         |  SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
         |  FROM exact) WHERE rank <= $IvfK ORDER BY qid, rank""".stripMargin,
    // IVF-PQ: probes + assignment from the proven k-means CTEs,
    // approximate scoring over the per-block PQ reconstruction (pqCtes —
    // the whole train/encode/decode recipe restated), exact rerank on the
    // 50-candidate shortlist only (sized for PQ's tie mass — see
    // pqRerank) — q_ivf_rerank with dqv replaced by precon.
    "q_pq_rerank" ->
      s"""$ivfCtes$ivfProbesCte$pqCtes,
         |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probes p JOIN assign a ON a.cl = p.cl WHERE a.id <> p.qid),
         |approx AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qr.r, cr.r) AS asim
         |           FROM cand JOIN precon qr ON qr.id = qid JOIN precon cr ON cr.id = cid),
         |short AS (SELECT qid, cid FROM (
         |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY asim DESC, cid ASC) r
         |           FROM approx) WHERE r <= 50),
         |exact AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) AS sim
         |          FROM short JOIN rawv q ON q.id = qid JOIN rawv c ON c.id = cid)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim FROM (
         |  SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
         |  FROM exact) WHERE rank <= $IvfK ORDER BY qid, rank""".stripMargin,
    "q_embedding_quantize" ->
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
        |m AS (SELECT vec_id, e, LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))) ma FROM b),
        |s AS (SELECT vec_id, e, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM m)
        |SELECT vec_id, scale,
        |       ARRAY_TO_STRING(LIST_TRANSFORM(e,
        |         x -> CAST(CAST(FLOOR(x * scale + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q
        |FROM s ORDER BY vec_id""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
        |      CASE WHEN lang = 'en' THEN 30 WHEN lang = 'de' THEN 60 ELSE 90 END
        |ORDER BY doc_id""".stripMargin,
    // the mixture recipe restated end to end: counts, the binding ratio
    // T = MIN(n/w) (DOUBLE division), per-source bucket rate w·T/n·mod in
    // the SAME left-to-right IEEE op order as the Scala side, then the
    // proven md5-bucket filter. fr has no weight row: the join drops it.
    "q_mixture_resample" ->
      """WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, CAST(wt AS DOUBLE) AS wt
        |      FROM (VALUES ('en', 0.4), ('de', 0.2), ('es', 0.2), ('zh', 0.2)) AS w(lang, wt)),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS t FROM n JOIN w USING (lang)),
        |r AS (SELECT lang, wt * t.t / n * 1000000 AS rate FROM n JOIN w USING (lang), t)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS DOUBLE) < rate
        |ORDER BY doc_id""".stripMargin,
    // temperature mixture: weights are SQRT(n) (correctly-rounded IEEE on
    // both engines, unlike pow), then the identical T = MIN(n/w) recipe
    // and md5-bucket filter in the same left-to-right IEEE op order
    "q_temperature_mixture" ->
      """WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, SQRT(CAST(n AS DOUBLE)) AS wt, n FROM n),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS t FROM w),
        |r AS (SELECT lang, wt * t.t / n * 1000000 AS rate FROM w, t)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS DOUBLE) < rate
        |ORDER BY doc_id""".stripMargin,
    // token-weighted mixture: identical recipe with n = per-language
    // token sums (the LEN(STRING_SPLIT) token count proven elsewhere)
    "q_mixture_tokens" ->
      """WITH d AS (SELECT doc_id, lang, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) n_tokens FROM documents),
        |n AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS n FROM d GROUP BY lang),
        |w AS (SELECT lang, CAST(wt AS DOUBLE) AS wt
        |      FROM (VALUES ('en', 0.4), ('de', 0.2), ('es', 0.2), ('zh', 0.2)) AS w(lang, wt)),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS t FROM n JOIN w USING (lang)),
        |r AS (SELECT lang, wt * t.t / n * 1000000 AS rate FROM n JOIN w USING (lang), t)
        |SELECT d.doc_id, d.lang, d.n_tokens
        |FROM d JOIN r USING (lang)
        |WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS DOUBLE) < rate
        |ORDER BY doc_id""".stripMargin,
    "q_sample_per_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 ASC,
        |                    doc_id ASC) rn
        |  FROM documents) WHERE rn <= 25 ORDER BY doc_id""".stripMargin,
    "q_similarity_lsh" -> lshSql,
    "q_similarity_ivf" -> ivfSql,
    "q_ivf_recall" -> ivfRecallSql,
    // cluster-size histogram: the q_dedup_clusters recursive closure,
    // sizes per component, counts per size, one mirrored division
    "q_cluster_histogram" ->
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT da a, db b FROM jp UNION SELECT db a, da b FROM jp),
         |reach AS (SELECT a AS node, a AS reachable FROM edges
         |          UNION
         |          SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reachable),
         |clus AS (SELECT node AS doc_id, MIN(reachable) AS canonical_id
         |         FROM reach GROUP BY node),
         |cs AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) cluster_size FROM clus GROUP BY 1),
         |h AS (SELECT cluster_size, CAST(COUNT(*) AS BIGINT) n_clusters FROM cs GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) total_docs FROM documents)
         |SELECT cluster_size, n_clusters,
         |       CAST(cluster_size * n_clusters AS BIGINT) n_docs,
         |       CAST(cluster_size * n_clusters AS DOUBLE) / CAST(total_docs AS DOUBLE) doc_share
         |FROM h, tot ORDER BY cluster_size""".stripMargin,
    // label separation: the q_label_centroids fixed-point sums, pair
    // distances and per-member distances floor-quantized before any
    // cross-row mean, every double in the same mirrored IEEE op order
    "q_label_separation" ->
      """WITH x AS (SELECT vec_id, label, UNNEST(RANGE(LEN(embedding))) dim,
        |                  UNNEST(embedding) v FROM embeddings),
        |s AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) n,
        |             SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) s_fx
        |      FROM x GROUP BY 1, 2),
        |cent AS (SELECT label, dim, CAST(s_fx AS DOUBLE) / n / 1e6 c FROM s),
        |pd AS (SELECT a.label label_a, b.label label_b,
        |              CAST(SUM(CAST(FLOOR((a.c - b.c) * (a.c - b.c) * 1e12) AS BIGINT)) AS BIGINT) dist_fx
        |       FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label GROUP BY 1, 2),
        |pdist AS (SELECT label_a, label_b, SQRT(CAST(dist_fx AS DOUBLE) / 1e12) centroid_dist FROM pd),
        |md AS (SELECT x.vec_id, x.label,
        |              CAST(SUM(CAST(FLOOR((CAST(x.v AS DOUBLE) - c.c) * (CAST(x.v AS DOUBLE) - c.c) * 1e12) AS BIGINT)) AS BIGINT) d2
        |       FROM x JOIN cent c ON c.label = x.label AND c.dim = x.dim GROUP BY 1, 2),
        |mfx AS (SELECT label, CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE) / 1e12) * 1e6) AS BIGINT) dfx FROM md),
        |intra AS (SELECT label, CAST(COUNT(*) AS BIGINT) n_vecs,
        |                 CAST(SUM(dfx) AS DOUBLE) / COUNT(*) / 1e6 AS intra FROM mfx GROUP BY 1)
        |SELECT p.label_a, p.label_b, ia.n_vecs n_a, ib.n_vecs n_b, p.centroid_dist,
        |       ia.intra intra_a, ib.intra intra_b,
        |       CASE WHEN ia.intra + ib.intra = 0 THEN NULL
        |            ELSE p.centroid_dist * 2.0 / (ia.intra + ib.intra) END AS separation
        |FROM pdist p JOIN intra ia ON ia.label = p.label_a
        |             JOIN intra ib ON ib.label = p.label_b
        |ORDER BY p.label_a, p.label_b""".stripMargin,
    // reliability diagram over the proven NB classify chain: exact
    // decile cuts (quantile_cont == Spark percentile, the
    // q_doc_percentiles bit-exact pair), bucket = count of cuts <= score
    // via the same in-row list filter, integer counts + ONE division
    "q_nb_reliability" ->
      s"""WITH cls AS ($nbClassifySql),
         |cuts AS (SELECT quantile_cont(nb_score, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM cls),
         |b AS (SELECT correct, CAST(LEN(LIST_FILTER(cuts.cuts, c -> nb_score >= c)) AS BIGINT) bucket FROM cls, cuts),
         |ag AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) n_docs,
         |              CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) n_correct
         |       FROM b GROUP BY bucket)
         |SELECT bucket, n_docs, n_correct,
         |       CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy
         |FROM ag ORDER BY bucket""".stripMargin,
    // 3x3 tercile cross-tab of the proven heuristic-quality expr against
    // the proven LM score chain; kappa's p_o/p_e/ratio in the same IEEE
    // op order as the Column tree, NULL on the degenerate p_e = 1 corpus
    "q_quality_agreement" ->
      s"""WITH lm AS ($lmScoreSql),
         |sc AS (SELECT d.doc_id, $qualitySql AS q, lm.lm_score
         |       FROM documents d JOIN lm ON lm.doc_id = d.doc_id),
         |cuts AS (SELECT quantile_cont(q, [1.0/3.0, 2.0/3.0]) qc,
         |                quantile_cont(lm_score, [1.0/3.0, 2.0/3.0]) lc FROM sc),
         |bk AS (SELECT CAST(LEN(LIST_FILTER(cuts.qc, c -> q >= c)) AS BIGINT) q_bucket,
         |              CAST(LEN(LIST_FILTER(cuts.lc, c -> lm_score >= c)) AS BIGINT) lm_bucket
         |       FROM sc, cuts),
         |cells AS (SELECT q_bucket, lm_bucket, CAST(COUNT(*) AS BIGINT) n_docs FROM bk GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) total FROM cells),
         |di AS (SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) n_agree FROM cells WHERE q_bucket = lm_bucket),
         |rm AS (SELECT q_bucket, CAST(SUM(n_docs) AS BIGINT) n_row FROM cells GROUP BY 1),
         |cm AS (SELECT lm_bucket, CAST(SUM(n_docs) AS BIGINT) n_col FROM cells GROUP BY 1),
         |ch AS (SELECT CAST(COALESCE(SUM(n_row * n_col), 0) AS BIGINT) n_chance
         |       FROM rm JOIN cm ON cm.lm_bucket = rm.q_bucket),
         |kp AS (SELECT tot.total,
         |         CASE WHEN 1.0 - (CAST(n_chance AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))) = 0 THEN NULL
         |              ELSE (CAST(n_agree AS DOUBLE) / CAST(total AS DOUBLE)
         |                    - CAST(n_chance AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)))
         |                   / (1.0 - CAST(n_chance AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))) END AS kappa
         |       FROM tot, di, ch)
         |SELECT c.q_bucket, c.lm_bucket, c.n_docs,
         |       CAST(c.n_docs AS DOUBLE) / CAST(kp.total AS DOUBLE) AS share, kp.kappa
         |FROM cells c, kp ORDER BY c.q_bucket, c.lm_bucket""".stripMargin,
    // Heaps-law growth: the Spark bucket arithmetic restated digit for
    // digit (BIGINT*10, one IEEE double division, FLOOR, LEAST) and the
    // same triangular cumulative join over the <=10-row bucket frame —
    // every output column an exact integer
    "q_vocab_growth" ->
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
         |FROM cum c JOIN base b ON b.bucket = c.bucket ORDER BY c.bucket""".stripMargin,
    // Zipf fit: same top-k tie-break, same triangular rank join, lns
    // floor-quantized to 1e-6 fixed point, DECIMAL sums, and the
    // slope/intercept doubles in ONE mirrored IEEE op order with the
    // zero-denominator -> NULL guard on both engines
    "q_zipf_slope" ->
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
         |FROM sl""".stripMargin,
    "q_ivf_sweep" -> ivfSweepSql,
    "q_cluster_sizes" ->
      s"""$ivfCtes
         |SELECT cl, COUNT(*) AS n_vectors,
         |       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
         |FROM assign GROUP BY cl ORDER BY cl""".stripMargin,
    "q_embedding_outliers" ->
      s"""$ivfCtes$ivfOdistCte
         |SELECT id, cl, dist AS sqdist FROM odist
         |ORDER BY sqdist DESC, id LIMIT 20""".stripMargin,
    "q_diverse_sample" ->
      s"""$ivfCtes
         |SELECT id, cl FROM (
         |  SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY cl
         |    ORDER BY ('0x' || SUBSTR(MD5(CAST(id AS VARCHAR)), 1, 15))::BIGINT % 1000000 ASC, id ASC) AS rn
         |  FROM assign) WHERE rn <= 5 ORDER BY cl, id""".stripMargin,
    "q_cluster_profile" ->
      s"""$ivfCtes
         |SELECT cl, lang, COUNT(*) AS n_docs,
         |       CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
         |       CAST(COUNT(*) AS DOUBLE)
         |         / CAST(SUM(COUNT(*)) OVER (PARTITION BY cl) AS DOUBLE) AS share
         |FROM documents JOIN assign ON doc_id = id
         |GROUP BY cl, lang ORDER BY cl, lang""".stripMargin,
    "q_adaptive_quality" ->
      s"""WITH scored AS (SELECT doc_id, lang, $qualitySql AS quality FROM documents),
         |th AS (SELECT lang, quantile_cont(quality, 0.25) AS q25 FROM scored GROUP BY lang)
         |SELECT doc_id, s.lang AS lang, quality, q25
         |FROM scored s JOIN th ON s.lang = th.lang
         |WHERE quality >= q25 ORDER BY doc_id""".stripMargin,
    "q_embedding_dedup" -> semDedupSql,
    "q_semantic_dedup" -> semanticDedupSql,
    "q_lm_score" -> lmScoreSql,
    "q_lm_gate" -> lmGateSql,
    // DSIR: the q_lm_score gram recipe, the proven md5-bucket primitive,
    // one (nr, nt) count table, the smoothed ratio in the SAME IEEE op
    // order as the Scala side, ln floor-quantized to 1e-6 per bucket
    // BEFORE summation (exact integer arithmetic from there), CAST on the
    // HUGEINT-prone sums, deterministic (score DESC, doc_id) top-100
    "q_dsir_select" ->
      s"""WITH arr AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') a FROM documents),
         |g AS (SELECT doc_id, lang, a[i+1] || ' ' || a[i+2] AS g2
         |      FROM arr, UNNEST(RANGE(GREATEST(LEN(a)-1, 0))) t(i)),
         |gb AS (SELECT doc_id, lang, ('0x' || SUBSTR(MD5(g2), 1, 15))::BIGINT % $DsirBuckets AS b FROM g),
         |bt AS (SELECT b, CAST(COUNT(*) AS BIGINT) nr,
         |              CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) nt
         |       FROM gb GROUP BY b),
         |tot AS (SELECT CAST(SUM(nr) AS BIGINT) nr_tot, CAST(SUM(nt) AS BIGINT) nt_tot FROM bt),
         |tab AS (SELECT b, CAST(FLOOR(LN(
         |          (CAST(nt + 1 AS DOUBLE) / CAST(nt_tot + $DsirBuckets AS DOUBLE)) /
         |          (CAST(nr + 1 AS DOUBLE) / CAST(nr_tot + $DsirBuckets AS DOUBLE))
         |        ) * 1000000.0) AS BIGINT) lr_fx
         |        FROM bt CROSS JOIN tot),
         |pd AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) cnt FROM gb GROUP BY doc_id, b),
         |sc AS (SELECT pd.doc_id, CAST(SUM(pd.cnt) AS BIGINT) n_grams,
         |              CAST(SUM(pd.cnt * tab.lr_fx) AS BIGINT) fx
         |       FROM pd JOIN tab ON tab.b = pd.b GROUP BY pd.doc_id),
         |scored AS (SELECT d.doc_id, CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
         |                  CAST(COALESCE(sc.fx, 0) AS DOUBLE) / 1000000.0 AS dsir_score
         |           FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
         |rk AS (SELECT doc_id, n_grams, dsir_score,
         |              ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id ASC) r FROM scored)
         |SELECT doc_id, n_grams, dsir_score FROM rk WHERE r <= 100 ORDER BY doc_id""".stripMargin,
    "q_perplexity_buckets" -> perplexityBucketsSql,
    // NB classifier: the dsir fixed-point doctrine applied to a dense
    // classes × buckets model — every LN floor-quantizes to 1e-6 BEFORE
    // summation, so per-(doc, class) scores are exact integers and the
    // argmax (score DESC, class ASC) is engine-independent. Sums CAST to
    // BIGINT (DuckDB HUGEINT dtype trap).
    "q_nb_classify" -> nbClassifySql,
    "q_nb_eval" -> nbEvalSql,
    "q_langid_confusion" -> langIdConfusionSql,
    "q_bpe_train" -> bpeTrainSql,
    "q_bpe_vocab" -> bpeVocabSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_pack_bpe" -> packBpeSql,
    "q_lexicon_hits" -> lexiconHitsSql,
    "q_bm25_topk" -> bm25Sql,
    "q_char_entropy" -> charEntropySql,
    "q_pack_nextfit" -> packNextFitSql,
    "q_curriculum_pack" -> curriculumPackSql,
    "q_self_dedup" -> selfDedupSql,
    "q_gate_sweep" -> gateSweepSql,
    "q_hybrid_rrf" -> hybridRrfSql,
    "q_unimax_alloc" -> unimaxAllocSql,
    "q_curation_pipeline" -> curationPipelineSql,
    "q_curation_funnel" -> curationFunnelSql,
    "q_curation_bias" -> curationBiasSql,
    "q_dup_sources" -> dupSourcesSql,
    // q_quality_calibrated: RANK()−1 ≡ the strictly-below cumulative
    // count the Spark histogram computes; the (rk, n−1) division is the
    // same two-bigint IEEE op on both engines.
    "q_quality_calibrated" ->
      s"""WITH q AS (SELECT doc_id, source,
         |             CAST(FLOOR(($qualitySql) * 1000000.0) AS BIGINT) q_fx
         |           FROM documents),
         |r AS (SELECT doc_id, source, q_fx,
         |        CAST(RANK() OVER (PARTITION BY source ORDER BY q_fx) - 1 AS BIGINT) rk,
         |        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) n
         |      FROM q)
         |SELECT doc_id, source, CAST(q_fx AS DOUBLE) / 1000000.0 AS quality,
         |       CASE WHEN n > 1 THEN CAST(rk AS DOUBLE) / CAST(n - 1 AS DOUBLE)
         |            ELSE 0.0 END AS q_rank
         |FROM r ORDER BY doc_id""".stripMargin,
    // q_normalize_text: the native's exact op order (NFC → lowercase →
    // ASCII-whitespace collapse + trim) over the same messied string;
    // NFC and case are identity on the ASCII corpus (the documented
    // parity precondition), so the collapse logic is what's exercised.
    "q_normalize_text" ->
      """WITH m AS (SELECT doc_id,
        |             '  ' || UPPER(SUBSTR(text, 1, 40)) || CHR(9) || CHR(9)
        |               || text || ' ' || CHR(10) AS messy
        |           FROM documents)
        |SELECT doc_id, CAST(LENGTH(messy) AS BIGINT) AS n_chars_messy,
        |       TRIM(REGEXP_REPLACE(LOWER(NFC_NORMALIZE(messy)),
        |                           '[\t\n\x0B\f\r ]+', ' ', 'g'), ' ') AS text_norm,
        |       CAST(LENGTH(TRIM(REGEXP_REPLACE(LOWER(NFC_NORMALIZE(messy)),
        |                           '[\t\n\x0B\f\r ]+', ' ', 'g'), ' ')) AS BIGINT)
        |         AS n_chars_norm
        |FROM m ORDER BY doc_id""".stripMargin,
    // q_leakage_safe_split: the q_dedup_clusters reachability closure
    // picks each dup doc's canonical, COALESCE defaults singletons to
    // themselves, and the bucket is the q_train_split md5 recipe over
    // the unit id.
    "q_leakage_safe_split" ->
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT da a, db b FROM jp UNION SELECT db a, da b FROM jp),
         |reach AS (SELECT a AS node, a AS reachable FROM edges
         |          UNION
         |          SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reachable),
         |comp AS (SELECT node AS doc_id, MIN(reachable) AS canonical_id
         |         FROM reach GROUP BY node),
         |u AS (SELECT d.doc_id, d.lang,
         |        COALESCE(c.canonical_id, d.doc_id) AS unit_id
         |      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id, lang, unit_id,
         |       ('0x' || SUBSTR(MD5(CAST(unit_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
         |       CASE WHEN ('0x' || SUBSTR(MD5(CAST(unit_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
         |            THEN 'train' ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin,
    // soft dedup: the q_dedup_clusters closure + a size table, LEFT
    // joined back onto the corpus; weight is one IEEE double division
    "q_dedup_weights" ->
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT da a, db b FROM jp UNION SELECT db a, da b FROM jp),
         |reach AS (SELECT a AS node, a AS reachable FROM edges
         |          UNION
         |          SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reachable),
         |comp AS (SELECT node AS doc_id, MIN(reachable) AS canonical_id
         |         FROM reach GROUP BY node),
         |sizes AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) cluster_size
         |          FROM comp GROUP BY canonical_id),
         |lab AS (SELECT c.doc_id, c.canonical_id, s.cluster_size
         |        FROM comp c JOIN sizes s USING (canonical_id))
         |SELECT d.doc_id, d.lang,
         |       CAST(COALESCE(l.canonical_id, d.doc_id) AS BIGINT) AS canonical_id,
         |       CAST(COALESCE(l.cluster_size, 1) AS BIGINT) AS cluster_size,
         |       CAST(1 AS DOUBLE) / CAST(COALESCE(l.cluster_size, 1) AS DOUBLE) AS weight
         |FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_lexicon_scrub" -> {
      val masked = LexiconTerms.foldLeft("text") { (c, t) =>
        s"REPLACE($c, '$t', '')" }
      s"""SELECT doc_id, $masked AS text_masked,
         |       CAST(LENGTH(text) - LENGTH($masked) AS BIGINT) AS n_chars_removed
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // rare tokens: exact integer rarity test (c_w·vocab < total), the
    // one derived double in the shared op order
    "q_rare_tokens" ->
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
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // dataset card: the text-stats token recipe, the calibrated-quality
    // fixed point, and the dedup-stats sentinel digest in one card; the
    // derived doubles run one shared IEEE op order
    "q_dataset_card" ->
      s"""WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) n,
         |             SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) tok,
         |             SUM(CAST(FLOOR(($qualitySql) * 1000000.0) AS BIGINT)) q_fx
         |           FROM documents GROUP BY 1, 2),
         |h AS (SELECT CAST(SUM(n) AS BIGINT) n_docs,
         |             CAST(SUM(tok) AS BIGINT) n_tokens,
         |             CAST(SUM(q_fx) AS BIGINT) q_fx,
         |             CAST(COUNT(DISTINCT lang) AS BIGINT) n_langs,
         |             CAST(COUNT(DISTINCT source) AS BIGINT) n_sources FROM g),
         |u AS (SELECT CAST(COUNT(DISTINCT COALESCE(MD5(text), '<null>')) AS BIGINT) n_unique
         |      FROM documents)
         |SELECT n_docs, n_tokens, n_langs, n_sources, n_unique,
         |       CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_share,
         |       CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
         |       CAST(q_fx AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0 AS mean_quality
         |FROM h CROSS JOIN u ORDER BY n_docs""".stripMargin,
    "q_dedup_stats" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT COALESCE(MD5(text), '<null>')) AS BIGINT) AS n_unique,
        |       CAST(COUNT(*) - COUNT(DISTINCT COALESCE(MD5(text), '<null>')) AS BIGINT) AS n_dupes,
        |       CAST(COUNT(*) - COUNT(DISTINCT COALESCE(MD5(text), '<null>')) AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // Spark joins on xxhash64 of the gram, the oracle on literal gram
    // text — counts coincide absent a 64-bit collision (the proven
    // q_decontaminate argument). Jaccard divides the same three exact
    // integers in the same order on both engines.
    "q_source_overlap" ->
      """WITH arr AS (SELECT source, STRING_SPLIT(text, ' ') a FROM documents),
        |g0 AS (SELECT source, UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-4, 0)),
        |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4] || ' ' || a[i+5])) s
        |       FROM arr),
        |g AS (SELECT DISTINCT source, s FROM g0),
        |sz AS (SELECT source, COUNT(*) n FROM g GROUP BY source),
        |p AS (SELECT a.source sa, b.source sb, COUNT(*) ns
        |      FROM g a JOIN g b ON a.s = b.s AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT p.sa AS source_a, p.sb AS source_b,
        |       CAST(p.ns AS BIGINT) AS n_shared,
        |       CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
        |       CAST(p.ns AS DOUBLE) / (x.n + y.n - p.ns) AS jaccard
        |FROM p JOIN sz x ON x.source = p.sa JOIN sz y ON y.source = p.sb
        |ORDER BY source_a, source_b""".stripMargin,
    "q_oov_rate" ->
      s"""WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) tok FROM documents),
         |cnt AS (SELECT tok, COUNT(*) c FROM toks GROUP BY tok),
         |vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok ASC LIMIT $OovVocabSize)
         |SELECT t.doc_id, COUNT(*) AS n_tokens,
         |       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
         |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    // float → double (exact) → FLOOR(v·1e6) fixed-point BIGINT before
    // summing on both engines: the group sum is an exact integer,
    // order-invariant and free of decimal rounding-mode ties
    "q_label_centroids" ->
      """WITH x AS (SELECT label,
        |             UNNEST(RANGE(LEN(embedding))) dim,
        |             UNNEST(embedding) v
        |           FROM embeddings)
        |SELECT label, CAST(dim AS BIGINT) dim,
        |       CAST(COUNT(*) AS BIGINT) n_vecs,
        |       CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
        |         / COUNT(*) / 1e6 AS centroid
        |FROM x GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    // q_source_drift: the labelCentroids fixed-point sums per source,
    // re-aggregated for the global centroid, squared differences floor-
    // quantized to 1e-12 — every aggregate an exact integer, the doubles
    // derived in one shared IEEE op order
    "q_source_drift" ->
      """WITH p AS (SELECT e.vec_id, d.source, e.embedding
        |           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        |x AS (SELECT source, UNNEST(RANGE(LEN(embedding))) dim,
        |             UNNEST(embedding) v FROM p),
        |s AS (SELECT source, dim, CAST(COUNT(*) AS BIGINT) n,
        |        CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) s_fx
        |      FROM x GROUP BY 1, 2),
        |g AS (SELECT dim, CAST(SUM(n) AS BIGINT) n_g,
        |        CAST(SUM(s_fx) AS BIGINT) g_fx FROM s GROUP BY 1),
        |t AS (SELECT source, n,
        |        CAST(FLOOR((CAST(s_fx AS DOUBLE) / n / 1e6 - CAST(g_fx AS DOUBLE) / n_g / 1e6)
        |                 * (CAST(s_fx AS DOUBLE) / n / 1e6 - CAST(g_fx AS DOUBLE) / n_g / 1e6)
        |                 * 1e12) AS BIGINT) t_fx
        |      FROM s JOIN g USING (dim))
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n_vecs,
        |       SQRT(CAST(CAST(SUM(t_fx) AS BIGINT) AS DOUBLE) / 1e12) AS drift
        |FROM t GROUP BY 1 ORDER BY source""".stripMargin,
    // source KL: per-word 1e-6 fixed-point terms (FLOOR of one shared
    // IEEE product order: (1e6 * p_sw) * LN(ratio)) summed as exact
    // integers — the splitPsi doctrine with a cross-vocab sum
    "q_source_kl" ->
      """WITH sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) c_sw
        |            FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) w
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |bw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) c_w FROM sw GROUP BY 1),
        |bs AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) n_s,
        |              CAST(COUNT(*) AS BIGINT) vocab FROM sw GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_sw) AS BIGINT) n FROM sw),
        |terms AS (SELECT s.source,
        |            CAST(FLOOR(1000000.0
        |              * (CAST(s.c_sw AS DOUBLE) / CAST(b.n_s AS DOUBLE))
        |              * LN((CAST(s.c_sw AS DOUBLE) * CAST(t.n AS DOUBLE))
        |                   / (CAST(b.n_s AS DOUBLE) * CAST(w.c_w AS DOUBLE))))
        |              AS BIGINT) fx
        |          FROM sw s JOIN bw w USING (w) JOIN bs b USING (source)
        |          CROSS JOIN t),
        |kls AS (SELECT source, SUM(fx) kl_fx FROM terms GROUP BY 1)
        |SELECT b.source, b.n_s AS n_tokens, b.vocab,
        |       CAST(k.kl_fx AS DOUBLE) / 1000000.0 AS kl
        |FROM bs b JOIN kls k USING (source) ORDER BY source""".stripMargin,
    // same 1e-6 fixed-point doctrine: Σq and Σq² are exact integers
    // (HUGEINT here, DECIMAL(38,0) on the Spark side), the mean/variance
    // doubles come from one shared IEEE op order
    "q_embedding_moments" ->
      """WITH x AS (SELECT UNNEST(RANGE(LEN(embedding))) dim,
        |                  UNNEST(embedding) v
        |           FROM embeddings),
        |q AS (SELECT dim, CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT) q FROM x)
        |SELECT CAST(dim AS BIGINT) dim, CAST(COUNT(*) AS BIGINT) n_vecs,
        |       CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS mean,
        |       (CAST(SUM(q * q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |         - (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |           * (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))) / 1e12
        |         AS variance
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,
    "q_pca_power" -> pcaPowerSql,
    "q_pca_outliers" -> pcaOutliersSql,
    "q_pca_residual" -> pcaResidualSql,
    "q_length_histogram" -> lengthHistogramSql,
    "q_split_psi" -> splitPsiSql,
    "q_dedup_sweep" -> dedupSweepSql,
    "q_ivf_occupancy" -> ivfOccupancySql,
    "q_proto_prune" -> protoPruneSql,
    "q_bpe_fertility" -> bpeFertilitySql,
    "q_shard_skew" ->
      """WITH m AS (SELECT ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard,
        |                  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY shard),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) n_shards,
        |             CAST(SUM(n_tokens) AS BIGINT) total_tokens,
        |             MAX(n_tokens) max_tokens, MIN(n_tokens) min_tokens,
        |             SUM(n_tokens * n_tokens) s2
        |      FROM m)
        |SELECT n_shards, total_tokens, max_tokens, min_tokens,
        |       CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE) AS avg_tokens,
        |       CASE WHEN total_tokens = 0 THEN NULL
        |            ELSE CAST(max_tokens AS DOUBLE)
        |                 / (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE)) END
        |         AS skew_ratio,
        |       CASE WHEN total_tokens = 0 THEN NULL
        |            ELSE SQRT(GREATEST(CAST(s2 AS DOUBLE) / CAST(n_shards AS DOUBLE)
        |                   - (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE))
        |                     * (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE)), 0.0))
        |                 / (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE)) END
        |         AS cv
        |FROM a""".stripMargin,
    "q_gram_novelty" ->
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |g0 AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
        |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3])) s
        |       FROM arr),
        |g AS (SELECT DISTINCT doc_id, s FROM g0),
        |f AS (SELECT s, MIN(doc_id) first_owner FROM g GROUP BY s)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |       CAST(SUM(CASE WHEN f.first_owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(SUM(CASE WHEN f.first_owner = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
        |FROM g JOIN f USING (s) GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    // Gopher rules: every signal is per-row arithmetic over exact
    // integers (mean word length = (LENGTH − separators)/n, both
    // code-point counts on both engines), so booleans and ratios are
    // engine-exact with no quantization needed.
    "q_gopher_rules" ->
      """WITH s AS (SELECT doc_id, STRING_SPLIT(text, ' ') a,
        |                  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) n,
        |                  CAST(LENGTH(text) AS BIGINT) nc
        |           FROM documents),
        |m AS (SELECT doc_id, n,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(nc - (n - 1) AS DOUBLE) / CAST(n AS DOUBLE) END mwl,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(LEN(LIST_FILTER(a, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / CAST(n AS DOUBLE) END alpha_frac,
        |  CAST(LEN(LIST_FILTER(a, t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS BIGINT) stop_hits,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(LEN(LIST_FILTER(a, t -> contains(t, '#') OR contains(t, '...'))) AS DOUBLE) / CAST(n AS DOUBLE) END sym_frac
        |  FROM s)
        |SELECT doc_id, n AS n_tokens, mwl AS mean_word_len, alpha_frac,
        |       stop_hits, sym_frac AS symbol_frac,
        |       (n BETWEEN 50 AND 100000) AS r_words,
        |       (mwl BETWEEN 3.0 AND 10.0) AS r_mwl,
        |       (alpha_frac >= 0.8) AS r_alpha,
        |       (stop_hits >= 2) AS r_stop,
        |       (sym_frac <= 0.1) AS r_sym,
        |       ((n BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
        |         AND (alpha_frac >= 0.8) AND (stop_hits >= 2)
        |         AND (sym_frac <= 0.1)) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // Ensemble ranks: the Spark side computes percent_rank as
    // cum_below/(N-1) from per-signal value histograms (no global sort);
    // the oracle states the SAME quantity with native PERCENT_RANK —
    // the definitions coincide exactly, so the hash compare
    // cross-validates the histogram formulation. Signals are integers
    // (ratios floor-quantized to 1e-6), rank sum order pinned.
    // signal correlations: the shared ensemble sig CTE's exact integers
    // (null-signal rows excluded so n covers exactly the summed
    // population), all moments in HUGEINT (the Spark side's
    // DECIMAL(38,0)), one shared IEEE expression per correlation
    "q_signal_corr" ->
      s"""WITH $ensembleSigCte,
        |nn AS (SELECT * FROM sig
        |       WHERE s_tokens IS NOT NULL AND s_ttr IS NOT NULL AND s_mwl IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |        SUM(CAST(s_tokens AS HUGEINT)) sx_t,
        |        SUM(CAST(s_ttr AS HUGEINT)) sx_r,
        |        SUM(CAST(s_mwl AS HUGEINT)) sx_m,
        |        SUM(CAST(s_tokens AS HUGEINT) * CAST(s_tokens AS HUGEINT)) sq_t,
        |        SUM(CAST(s_ttr AS HUGEINT) * CAST(s_ttr AS HUGEINT)) sq_r,
        |        SUM(CAST(s_mwl AS HUGEINT) * CAST(s_mwl AS HUGEINT)) sq_m,
        |        SUM(CAST(s_tokens AS HUGEINT) * CAST(s_ttr AS HUGEINT)) sp_tr,
        |        SUM(CAST(s_tokens AS HUGEINT) * CAST(s_mwl AS HUGEINT)) sp_tm,
        |        SUM(CAST(s_ttr AS HUGEINT) * CAST(s_mwl AS HUGEINT)) sp_rm
        |      FROM nn)
        |SELECT * FROM (
        |  SELECT 's_tokens' AS signal_a, 's_ttr' AS signal_b,
        |         CAST(n AS BIGINT) n_docs,
        |         CASE WHEN n*sq_t - sx_t*sx_t = 0 OR n*sq_r - sx_r*sx_r = 0 THEN NULL
        |              ELSE CAST(n*sp_tr - sx_t*sx_r AS DOUBLE)
        |                / SQRT(CAST(n*sq_t - sx_t*sx_t AS DOUBLE)
        |                       * CAST(n*sq_r - sx_r*sx_r AS DOUBLE)) END AS corr
        |  FROM m
        |  UNION ALL
        |  SELECT 's_tokens', 's_mwl', CAST(n AS BIGINT),
        |         CASE WHEN n*sq_t - sx_t*sx_t = 0 OR n*sq_m - sx_m*sx_m = 0 THEN NULL
        |              ELSE CAST(n*sp_tm - sx_t*sx_m AS DOUBLE)
        |                / SQRT(CAST(n*sq_t - sx_t*sx_t AS DOUBLE)
        |                       * CAST(n*sq_m - sx_m*sx_m AS DOUBLE)) END
        |  FROM m
        |  UNION ALL
        |  SELECT 's_ttr', 's_mwl', CAST(n AS BIGINT),
        |         CASE WHEN n*sq_r - sx_r*sx_r = 0 OR n*sq_m - sx_m*sx_m = 0 THEN NULL
        |              ELSE CAST(n*sp_rm - sx_r*sx_m AS DOUBLE)
        |                / SQRT(CAST(n*sq_r - sx_r*sx_r AS DOUBLE)
        |                       * CAST(n*sq_m - sx_m*sx_m AS DOUBLE)) END
        |  FROM m)
        |ORDER BY signal_a, signal_b""".stripMargin,
    "q_quality_ensemble" ->
      s"""WITH $ensembleSigCte,
        |r AS (SELECT doc_id, s_tokens,
        |             PERCENT_RANK() OVER (ORDER BY s_tokens) r_tokens,
        |             PERCENT_RANK() OVER (ORDER BY s_ttr) r_ttr,
        |             PERCENT_RANK() OVER (ORDER BY s_mwl) r_mwl
        |      FROM sig),
        |e AS (SELECT doc_id, s_tokens AS n_tokens, r_tokens, r_ttr, r_mwl,
        |             (r_tokens + r_ttr + r_mwl) / 3.0 AS ens FROM r),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ens DESC, doc_id ASC) rr FROM e)
        |SELECT doc_id, n_tokens, r_tokens, r_ttr, r_mwl, ens
        |FROM rk WHERE rr <= 100 ORDER BY doc_id""".stripMargin,
    "q_doc_percentiles" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |       quantile_cont(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE), 0.5) AS p50,
        |       quantile_cont(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE), 0.9) AS p90,
        |       quantile_cont(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE), 0.99) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_decontaminate" -> decontaminateSql,
    // chunk starts restated with RANGE(0, n, step) (same set as the Spark
    // sequence(0, n-1, step)); chunk_id is start // step = the sequence
    // position; list slicing clamps at the end on both engines.
    "q_chunk_docs" ->
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |st AS (SELECT doc_id, a, LEN(a) n, UNNEST(RANGE(0, LEN(a), 48)) AS start FROM arr)
        |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
        |       ARRAY_TO_STRING(a[start+1 : start+64], ' ') AS chunk_text,
        |       CAST(LEAST(64, n - start) AS BIGINT) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    // the Bloom path is exact by construction (prefilter + exact verify),
    // so it shares the decontamination oracle verbatim — the recall claim
    // "bloom loses nothing" is itself what the hash compare checks
    "q_bloom_decontaminate" -> decontaminateSql,
    "q_contamination_overlap" -> contaminationOverlapSql,
    "q_vocab_topk" ->
      s"""WITH toks AS (SELECT lang, UNNEST(regexp_extract_all(text, '${TA.bpePattern}')) AS token FROM documents),
         |counts AS (SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
         |ranked AS (SELECT lang, token, n,
         |             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
         |           FROM counts)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, token, n
         |FROM ranked WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,
    "q_train_split" ->
      """SELECT doc_id, lang,
        |       ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
        |       CASE WHEN ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |            THEN 'train' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(*) df FROM tf GROUP BY tok),
        |s AS (SELECT doc_id, tok, tf.tf, df.df, tf.tf * 1.0 / df.df AS score
        |      FROM tf JOIN df USING (tok)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                  ORDER BY score DESC, tok ASC) rank FROM s)
        |SELECT doc_id, CAST(rank AS BIGINT) rank, tok AS token, tf, df, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_pack_sequences" ->
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
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_token_stats" ->
      s"""SELECT doc_id,
         |       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ws_tokens,
         |       CAST(LEN(regexp_extract_all(text, '${TA.bpePattern}')) AS BIGINT) AS bpe_tokens,
         |       CASE WHEN LEN(regexp_extract_all(text, '${TA.bpePattern}')) = 0 THEN 0.0
         |            ELSE CAST(LENGTH(text) AS DOUBLE) / LEN(regexp_extract_all(text, '${TA.bpePattern}')) END AS chars_per_token
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id,
         |       CAST(LENGTH(text) AS BIGINT) AS char_len,
         |       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         |       CASE WHEN LEN(STRING_SPLIT(text, ' ')) = 0 THEN 0.0
         |            ELSE CAST(LIST_AGGREGATE(LIST_TRANSFORM(STRING_SPLIT(text, ' '), x -> CAST(LENGTH(x) AS BIGINT)), 'sum') AS DOUBLE)
         |                 / LEN(STRING_SPLIT(text, ' ')) END AS avg_token_len,
         |       CASE WHEN LEN(STRING_SPLIT(text, ' ')) = 0 THEN 0.0
         |            ELSE CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS($stopList, x))) AS DOUBLE)
         |                 / LEN(STRING_SPLIT(text, ' ')) END AS stopword_ratio,
         |       CASE WHEN LEN(STRING_SPLIT(text, ' ')) = 0 THEN 0.0
         |            ELSE CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
         |                 / LEN(STRING_SPLIT(text, ' ')) END AS distinct_ratio,
         |       $qualitySql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" -> langIdGuessSql,
    "q_fingerprint_dedup" ->
      """SELECT MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' ')) AS fp,
        |       MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin,
    "q_dedup_exact" ->
      """SELECT MD5(text) AS digest, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY digest ORDER BY digest""".stripMargin,
    "q_dedup_keep_first" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q_ngram_jaccard" -> jaccardSql,
    // Incremental ingest restated exactly: a new (odd-id) doc is dropped
    // when a >= 0.8-Jaccard partner exists among the indexed (even-id)
    // docs or among earlier odd-id docs; the LSH candidate step recovers
    // all such pairs (same banding argument as q_minhash_dedup), so the
    // exact-Jaccard restatement is the full semantics. The winnow-index
    // variant shares it: ≥2-shared-fingerprint recall recovers every true
    // pair on these corpora (same caveat family as the LSH queries).
    "q_winnow_incremental" -> incrementalSql,
    "q_dedup_incremental" -> incrementalSql,
    // MinHash-LSH must recover exactly the pairs exact Jaccard finds at this
    // threshold (16 bands × 4 rows ⇒ detection p > 0.999 at j ≥ 0.8, and the
    // pipeline is fully deterministic) — so it shares the exact-Jaccard oracle.
    "q_minhash_dedup" -> jaccardSql,
    // Winnow-retrieval pairs: the oracle restates the WHOLE pipeline —
    // candidates from shared winnowing fingerprints (the q_winnow_fingerprint
    // SQL, hash-green) behind the Spark side's AuditDfCap fp-df cap (a
    // no-op at the verify SFs — max fp df 24 — so the capped candidates
    // are the complete ones), verified by exact Jaccard over trigram
    // shingle sets (the q_ngram_jaccard SQL shape, hash-green) — so unlike
    // the LSH queries, the recall mechanism is part of the checked
    // semantics and there is no probabilistic oracle gap.
    "q_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok,
        |                  unnest(range(len(string_split(text, ' ')))) pos
        |           FROM documents),
        |g AS (SELECT doc_id, pos,
        |             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS g3
        |      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |h AS (SELECT doc_id, pos, ('0x' || SUBSTR(MD5(g3), 1, 15))::BIGINT AS th,
        |             COUNT(*) OVER (PARTITION BY doc_id) AS n_g
        |      FROM g WHERE g3 IS NOT NULL),
        |m AS (SELECT doc_id, pos, n_g,
        |             MIN(th) OVER (PARTITION BY doc_id ORDER BY pos
        |                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= GREATEST(n_g - 4, 0)),
        |fpc AS (SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY doc_id) nfp,
        |               COUNT(*) OVER (PARTITION BY fp) fdf FROM fps),
        |cold AS (SELECT doc_id, fp, nfp FROM fpc WHERE fdf <= ${Dedup.AuditDfCap}),
        |cand AS (SELECT x.doc_id da, y.doc_id db
        |         FROM cold x JOIN cold y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |         GROUP BY x.doc_id, y.doc_id, x.nfp, y.nfp
        |         HAVING COUNT(*) >= 2 OR LEAST(x.nfp, y.nfp) < 2),
        |arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |sh AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-2, 0)),
        |         i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]))) AS s FROM arr),
        |sz AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
        |inter AS (SELECT c.da, c.db, COUNT(*) inter
        |          FROM cand c JOIN sh x ON x.doc_id = c.da
        |          JOIN sh y ON y.doc_id = c.db AND y.s = x.s GROUP BY 1, 2)
        |SELECT da, db, inter, inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
        |ORDER BY da, db""".stripMargin,
    // The composed cleaning pipeline: quality gate, exact keep-first by
    // md5 digest, near-dup removal via the same recursive transitive
    // closure; each stage reuses an already-oracled expression.
    "q_clean_corpus" -> {
      val qualityExpr =
        s"""(LEAST(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) / 100.0, 1.0)
           | + CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE) / LEN(STRING_SPLIT(text, ' '))
           | + LEAST(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LIST_CONTAINS($stopList, x))) AS DOUBLE)
           |         / LEN(STRING_SPLIT(text, ' ')) * 5.0, 1.0)) / 3.0""".stripMargin
      s"""WITH RECURSIVE passed AS (
         |  SELECT doc_id, lang, text, $qualityExpr AS quality
         |  FROM documents
         |  WHERE $qualityExpr >= 0.4),
         |exact_kept AS (SELECT doc_id, lang, quality FROM (
         |  SELECT doc_id, lang, quality,
         |         ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) rn
         |  FROM passed) WHERE rn = 1),
         |jp AS ($jaccardSql),
         |edges AS (SELECT da a, db b FROM jp UNION SELECT db a, da b FROM jp),
         |reach AS (SELECT a AS node, a AS reachable FROM edges
         |          UNION
         |          SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reachable),
         |noncanon AS (SELECT node FROM (
         |  SELECT node, MIN(reachable) m FROM reach GROUP BY node) WHERE node <> m)
         |SELECT doc_id, lang, quality FROM exact_kept
         |WHERE doc_id NOT IN (SELECT node FROM noncanon)
         |ORDER BY doc_id""".stripMargin
    },
    // Clusters: transitive closure of the same pair list via a recursive
    // CTE; min-label per component is the unique fixpoint the distributed
    // label propagation converges to.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT da a, db b FROM jp UNION SELECT db a, da b FROM jp),
         |reach AS (SELECT a AS node, a AS reachable FROM edges
         |          UNION
         |          SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reachable)
         |SELECT node AS doc_id, MIN(reachable) AS canonical_id
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    // cluster best: the q_dedup_clusters closure + the q_text_stats
    // distinct_ratio recipe, survivor = ROW_NUMBER (quality DESC, doc_id
    // ASC) = the Column tree's max_by(doc_id, (quality, -doc_id))
    "q_cluster_best" ->
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT da a, db b FROM jp UNION SELECT db a, da b FROM jp),
         |reach AS (SELECT a AS node, a AS reachable FROM edges
         |          UNION
         |          SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reachable),
         |clus AS (SELECT node AS doc_id, MIN(reachable) AS canonical_id
         |         FROM reach GROUP BY node),
         |mem AS (SELECT c.doc_id, c.canonical_id,
         |          CASE WHEN LEN(STRING_SPLIT(d.text, ' ')) = 0 THEN 0.0
         |               ELSE CAST(LEN(LIST_DISTINCT(STRING_SPLIT(d.text, ' '))) AS DOUBLE)
         |                    / LEN(STRING_SPLIT(d.text, ' ')) END AS quality
         |        FROM clus c JOIN documents d USING (doc_id)),
         |best AS (SELECT canonical_id, doc_id AS best_id FROM (
         |           SELECT canonical_id, doc_id,
         |             ROW_NUMBER() OVER (PARTITION BY canonical_id
         |               ORDER BY quality DESC, doc_id ASC) rn
         |           FROM mem) WHERE rn = 1),
         |sz AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) cluster_size
         |       FROM mem GROUP BY 1)
         |SELECT m.doc_id, m.canonical_id, s.cluster_size, m.quality,
         |       (m.doc_id = b.best_id) AS kept
         |FROM mem m JOIN best b USING (canonical_id) JOIN sz s USING (canonical_id)
         |ORDER BY m.doc_id""".stripMargin,
    "q_similarity_topk" ->
      """SELECT qid, rank, cid, sim FROM (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |         LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) sim,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 50 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q_knn_join" ->
      """SELECT qid, rank, cid, sim FROM (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |         LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) sim,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 50 AND c.vec_id >= 50)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // hard negatives: the q_knn_join rank recipe + a CASE pivot — ids
    // BIGINT, sims the proven bit-exact cosine doubles
    "q_hard_negatives" ->
      """WITH ranked AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |         LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) sim,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0)
        |SELECT qid AS anchor_id,
        |       MAX(CASE WHEN rank = 1 THEN cid END) AS pos_id,
        |       MAX(CASE WHEN rank = 1 THEN sim END) AS pos_sim,
        |       MAX(CASE WHEN rank = 8 THEN cid END) AS neg_id,
        |       MAX(CASE WHEN rank = 8 THEN sim END) AS neg_sim
        |FROM ranked WHERE rank IN (1, 8) GROUP BY qid ORDER BY anchor_id""".stripMargin,
    // label propagation: the q_knn_join neighbor recipe (proven cosine +
    // (sim DESC, cid ASC) tie-break), then an integer majority vote with
    // the deterministic (votes DESC, label ASC) pick — no float math past
    // the proven rank stage, so the predicted labels are engine-exact
    "q_knn_labels" ->
      """WITH ranked AS (
        |  SELECT u.vec_id qid, l.vec_id cid, l.label,
        |         ROW_NUMBER() OVER (PARTITION BY u.vec_id
        |           ORDER BY LIST_COSINE_SIMILARITY(CAST(u.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])) DESC, l.vec_id ASC) rk
        |  FROM embeddings u JOIN embeddings l ON u.vec_id % 2 = 1 AND l.vec_id % 2 = 0),
        |votes AS (SELECT qid, label, COUNT(*) votes FROM ranked WHERE rk <= 5 GROUP BY 1, 2),
        |best AS (SELECT qid, label, votes,
        |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) vr
        |         FROM votes)
        |SELECT qid AS vec_id, label AS predicted_label, CAST(votes AS BIGINT) AS votes
        |FROM best WHERE vr = 1 ORDER BY vec_id""".stripMargin,
    // the IVF-shortlist form: k-means CTEs verbatim from q_ivf_rerank
    // (proven bit-exact), probes recomputed for the ODD-id query set,
    // candidates restricted to EVEN-id (labeled) cluster members, the
    // proven int8 dequantize recipe for approximate scores, exact rerank
    // of the 20-candidate shortlist, then q_knn_labels' integer vote —
    // engine-exact past the proven rank stage
    "q_knn_labels_ivf" ->
      s"""$ivfCtes,
         |probesU AS (SELECT id qid, cl FROM (
         |             SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, cl ASC) rn
         |             FROM (SELECT b.id, c.cl, (${ivfDistChain("b.e", "c.c")}) dist
         |                   FROM base b CROSS JOIN $ivfFinalCent c WHERE b.id % 2 = 1)) WHERE rn <= $IvfNprobe),
         |qm AS (SELECT id, raw, LIST_MAX(LIST_TRANSFORM(raw, x -> ABS(x))) ma FROM rawv),
         |qs AS (SELECT id, raw, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale FROM qm),
         |dqv AS (SELECT id, LIST_TRANSFORM(raw, x -> CASE WHEN scale = 0 THEN 0.0 ELSE FLOOR(x * scale + 0.5) / scale END) AS d FROM qs),
         |cand AS (SELECT DISTINCT p.qid, a.id cid FROM probesU p JOIN assign a ON a.cl = p.cl AND a.id % 2 = 0),
         |approx AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(qd.d, cd.d) AS asim
         |           FROM cand JOIN dqv qd ON qd.id = qid JOIN dqv cd ON cd.id = cid),
         |short AS (SELECT qid, cid FROM (
         |           SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY asim DESC, cid ASC) r
         |           FROM approx) WHERE r <= 20),
         |exact AS (SELECT qid, cid, LIST_COSINE_SIMILARITY(q.raw, c.raw) AS sim
         |          FROM short JOIN rawv q ON q.id = qid JOIN rawv c ON c.id = cid),
         |nn AS (SELECT qid, cid FROM (
         |        SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) rk
         |        FROM exact) WHERE rk <= 5),
         |votes AS (SELECT qid, l.label, COUNT(*) votes FROM nn JOIN embeddings l ON l.vec_id = nn.cid GROUP BY 1, 2),
         |best AS (SELECT qid, label, votes,
         |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) vr
         |         FROM votes)
         |SELECT qid AS vec_id, label AS predicted_label, CAST(votes AS BIGINT) AS votes
         |FROM best WHERE vr = 1 ORDER BY vec_id""".stripMargin)
}
