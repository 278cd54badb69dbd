package graft.operators

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash group-by), fingerprint (bag-of-words),
  * n-gram Jaccard (exact set similarity), MinHash+LSH (approximate, the
  * 100 TB-scale path), and SimHash (bitwise near-dup signature).
  *
  * Scale notes:
  *   - exact/fingerprint dedup is one hash-aggregate shuffle on the digest —
  *     the digest (16 bytes) is the shuffle key, never the document body.
  *   - exact Jaccard runs ONLY on candidate pairs (LSH or shared
  *     fingerprints, [[jaccardVerifiedPairs]]), never all-pairs.
  *   - MinHash: the whole shingles → signature → band-keys build is one
  *     codegen'd projection of native expressions (graft.functions) —
  *     O(shingles + k·shingles) primitive long ops per doc, no interpreted
  *     HOFs, no cache barriers. LSH bands shuffle (band, band_key) pairs,
  *     i.e. `bands` longs per doc, never the body.
  */
object Dedup {

  /** Exact-duplicate groups by content digest: digest → (canonical id,
    * member count). One shuffle on the 128-bit digest. */
  def exactDupGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Keep-first dedup: one survivor per key set, earliest by the ordering
    * columns (row_number = 1). */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** (doc, shh array<long>) — each document's distinct shingle-hash set
    * from ONE native codegen'd pass ([[graft.functions.ShingleHashes]]):
    * no interpreted HOFs, no materialized shingle strings. This is the
    * shareable tokenization artifact: the composed dedup paths persist it
    * once and feed it to both the LSH candidate join and the verify join,
    * so the corpus text is tokenized exactly once however many self-join
    * sides consume the hashes. */
  def shingleTable(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("shh"))

  /** One row per (doc, shingle-hash), with the doc's set size carried on
    * every row: the join key is an 8-byte long (never the shingle string),
    * and |A| / |B| ride along into the intersection aggregate — no extra
    * size joins. 64-bit collisions are negligible at any corpus size that
    * fits a join. */
  private def shingleHashRows(sh: DataFrame): DataFrame =
    sh.select(col("doc"), size(col("shh")).as("n_sh"), explode(col("shh")).as("h"))

  /** (da, db, inter, jaccard ≥ threshold) from shared-hash pairs. */
  private def jaccardFromPairs(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter"), min(col("na")).as("n_a"), min(col("nb")).as("n_b"))
      .select(col("da"), col("db"), col("inter"),
        (col("inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash signature of length k over the shingle array: each shingle
    * string is hashed ONCE (xxhash64, codegen'd), then the k-permutation
    * min pass runs inside [[graft.functions.MinHashSignature]] — a single
    * native expression, one JIT loop per row, no interpreted HOFs. */
  def minhashSignature(shingleHashes: Column, k: Int): Column =
    graft.functions.MinHashSignature.signature(shingleHashes, k)

  /** Signatures from a precomputed [[shingleTable]] — the k-min pass only. */
  def minhashSignaturesFrom(sh: DataFrame, k: Int): DataFrame =
    sh.select(col("doc"), minhashSignature(col("shh"), k).as("sig"))

  /** LSH band keys: the signature split into `bands` runs of `rowsPerBand`,
    * each mixed to one long key in a native pass
    * ([[graft.functions.MinHashBandKeys]]). Docs sharing any band key are
    * candidate pairs. banding: with b bands of r rows, a pair with Jaccard
    * j collides with probability 1-(1-j^r)^b — 16×4 catches j≥0.8 with
    * p>0.999. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.MinHashBandKeys.bandKeys(signature, bands, rowsPerBand)

  /** Candidate pairs from LSH bucket collisions over a precomputed (and
    * possibly persisted) [[shingleTable]]: explode band keys, shuffle on
    * (band index, band hash), pair up within buckets. Output is distinct
    * (da < db) pairs — the ONLY pairs that ever see an exact-Jaccard
    * verification at scale. */
  def lshCandidatePairsFrom(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val banded = minhashSignaturesFrom(sh, k)
      .select(col("doc"),
        posexplode(lshBandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "bh")))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("da"), col("y.doc").as("db"))
      .distinct()
  }

  /** MinHash-LSH near-dup detection, end to end, over a precomputed
    * [[shingleTable]]: LSH candidates, then exact Jaccard verification
    * restricted to those candidates. At 100 TB the candidate set is orders
    * of magnitude smaller than all-pairs. When `sh` is held or persisted by
    * the caller, every consumer (both candidate-join sides and both
    * verify-join sides) reads the stored hash arrays — one tokenization
    * scan total instead of four. */
  def minhashDupPairsFrom(sh: DataFrame, k: Int, bands: Int,
      threshold: Double): DataFrame =
    jaccardVerifiedPairs(lshCandidatePairsFrom(sh, k, bands), sh, threshold)

  /** Exact-Jaccard verification of an EXTERNAL candidate pair list: any
    * recall mechanism that proposes (da, db) pairs — MinHash-LSH bands,
    * shared winnowing fingerprints, shared simhash prefixes — composes
    * with this one verifier. The intersection is counted ONLY for
    * candidate pairs: the shingle-hash rows are routed through the
    * candidate set (two equi-joins on 8-byte keys), set sizes ride along,
    * and the output is the exact (da, db, inter, jaccard ≥ threshold)
    * relation restricted to the candidates. */
  def jaccardVerifiedPairs(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val shr = shingleHashRows(sh)
    val pairs = cand
      .join(shr.as("x"), col("da") === col("x.doc"))
      .join(shr.as("y"), col("db") === col("y.doc") && col("x.h") === col("y.h"))
      .select(col("da"), col("db"), col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
    jaccardFromPairs(pairs, threshold)
  }

  /** Document-frequency cap the complete-candidate audits run behind by
    * default: a shingle (or winnow fingerprint) appearing in more than
    * this many documents is boilerplate by construction — a license
    * header, a navigation bar, a template echo — and contributes df²
    * candidate rows while true near-dup pairs almost never depend on it
    * (a j ≥ 0.5 pair shares ≥ ⅓ of its shingles; losing it requires
    * EVERY shared shingle to be corpus-wide boilerplate). At the test
    * SFs the max observed df is 25 (sf0.1), so the cap excludes nothing
    * and the capped form is provably identical to the uncapped one
    * (DedupCapSpec); at 100 TB it bounds the candidate join at
    * Σ_h min(df, cap)² instead of Σ_h df(h)² — the difference between
    * an audit that finishes and one stop-shingle emitting ~10¹⁴ rows. */
  val AuditDfCap = 1000L

  /** Exact Jaccard for every pair sharing at least one RETAINED shingle
    * hash — the complete-candidate form for threshold-sweep audits where
    * banded recall would bend the measured curve (LSH detection
    * probability is a function of the similarity itself, so a banded
    * candidate step under-counts pairs more the further the threshold
    * sits below the banding's design point). Candidate generation
    * excludes shingle hashes with document frequency above `dfCap`
    * ([[AuditDfCap]]): the hot-hash LIST comes from a map-side-combined
    * aggregate — NEVER a window partitioned by the hash, which would
    * funnel all df(h) rows of exactly the hot keys being guarded against
    * into single tasks — and is anti-joined off the row table (empty
    * list ⇒ broadcast no-op at the test SFs; at boilerplate scale AQE
    * broadcasts the still-small list or falls back to an h-keyed shuffle,
    * the key the self-join shuffles on anyway). The capped self-join
    * aggregates shared-COLD-hash counts directly (the original
    * complete-join shape — no candidate distinct, no full-array
    * re-join), and the exact intersection is completed by adding each
    * pair's shared-HOT-hash count from the per-doc hot-hash sets (a
    * pair-bounded left join, empty whenever the cap excludes nothing),
    * so reported Jaccard values are uncapped-exact. A pair is missed
    * only if its every shared shingle is hot — measured impossible at
    * the test SFs (max df 25 ≪ cap; DedupCapSpec proves capped ≡
    * uncapped) and boilerplate-only overlap at 100 TB. Callers auditing
    * completeness read the excluded mass via [[hotShingleStats]]. */
  def allPairsJaccard(sh: DataFrame, threshold: Double,
      dfCap: Long = AuditDfCap): DataFrame = {
    val shr = shingleHashRows(sh)
    val hotList = shr.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("h")
    // the self-join carries ONLY (doc, h): set sizes attach to the (much
    // smaller) aggregated pair list instead of riding as two extra longs
    // on every one of the sum(df^2) candidate rows. Deliberately NO
    // broadcast hint on the doc-sized size table — AQE broadcasts it
    // when it fits and the doc-keyed shuffle join stays the web-scale
    // fallback (a forced broadcast of a 10^11-doc table would OOM the
    // build side at exactly the scale this audit is guarded for).
    val cold = shr.select("doc", "h").join(hotList, Seq("h"), "left_anti")
    val sizes = sh.select(col("doc"), size(col("shh")).as("n_sh"))
    val coldPairs = cold.as("x").join(cold.as("y"),
        col("x.h") === col("y.h") && col("x.doc") < col("y.doc"))
      .groupBy(col("x.doc").as("da"), col("y.doc").as("db"))
      .agg(count(lit(1)).as("cold_inter"))
      .join(sizes.select(col("doc").as("da"), col("n_sh").as("na")), Seq("da"))
      .join(sizes.select(col("doc").as("db"), col("n_sh").as("nb")), Seq("db"))
    // shared-hot-hash correction: per-doc hot sets are tiny (a doc holds
    // few corpus-wide-boilerplate shingles) and join the PAIR-bounDED
    // aggregate, never the row table — size(array_intersect) is null when
    // either side has no hot hashes, hence the coalesce to 0
    val hotSets = shr.join(hotList, Seq("h"), "left_semi")
      .groupBy(col("doc")).agg(collect_set(col("h")).as("hot_shh"))
    coldPairs
      .join(hotSets.select(col("doc").as("da"), col("hot_shh").as("hot_a")),
        Seq("da"), "left")
      .join(hotSets.select(col("doc").as("db"), col("hot_shh").as("hot_b")),
        Seq("db"), "left")
      .withColumn("inter", col("cold_inter") +
        coalesce(size(array_intersect(col("hot_a"), col("hot_b")))
          .cast(LongType), lit(0L)))
      .select(col("da"), col("db"), col("inter"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 1-row honesty ledger for a df-capped audit over `sh`: how much of
    * the (doc, shingle) mass the cap excluded from candidate generation.
    * `hot_share` = excluded rows / total rows — 0.0 means the capped
    * audit IS the complete audit (the test-SF state); a non-zero value
    * quantifies exactly how far the completeness claim is qualified. One
    * map-side-combined aggregate on the hash, then a 1-row reduction. */
  def hotShingleStats(sh: DataFrame, dfCap: Long = AuditDfCap): DataFrame =
    shingleHashRows(sh)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .agg(
        coalesce(sum(when(col("df") > dfCap, col("df"))), lit(0L))
          .as("hot_rows"),
        coalesce(sum(col("df")), lit(0L)).as("total_rows"))
      .select(col("hot_rows"), col("total_rows"),
        when(col("total_rows") > 0, col("hot_rows").cast(DoubleType) /
          col("total_rows").cast(DoubleType)).otherwise(lit(0.0))
          .as("hot_share"))

  /** The persistable MinHash-LSH signature index for incremental dedup:
    * one row per document with its distinct shingle-hash set and LSH band
    * keys — `|shh| + bands` longs per doc, never the body. In production
    * this table is written to parquet once per ingested batch and each
    * daily delta is deduped against it ([[dedupAgainstIndex]]) instead of
    * re-deduping the whole corpus. */
  def signatureIndex(docs: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int, bands: Int): DataFrame =
    shingleTable(docs, textCol, idCol, n)
      .select(col("doc"), col("shh"),
        lshBandKeys(minhashSignature(col("shh"), k), bands, k / bands)
          .as("bandkeys"))

  /** (doc, band, bh) rows of a [[signatureIndex]] — the LSH bucket keys. */
  private def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc"), posexplode(col("bandkeys")).as(Seq("band", "bh")))

  /** Incremental (delta) dedup: dedup a NEW batch against an existing
    * [[signatureIndex]] without touching the already-indexed corpus — the
    * shape that keeps daily ingest at 100 TB from recomputing the world.
    *
    * A new document is dropped when a verified near-dup (exact Jaccard ≥
    * `threshold` over the shingle sets) exists either (a) in the index or
    * (b) earlier in the new batch (lower doc id) — the same pair-level
    * predicate the batch dedup verifies, so a full-corpus batch re-run and
    * the incremental composition agree on which documents survive.
    * Returns the SURVIVORS in `signatureIndex` shape: append them to the
    * index (`index.union(survivors)`) to complete the ingest.
    *
    * Scale shape: candidate generation joins band keys only (`bands` longs
    * per doc, new-batch side is the small delta); verification computes
    * `array_intersect` on the candidate pairs' hash sets only — no
    * re-tokenization of the indexed corpus, no all-pairs anything. */
  def dedupAgainstIndex(newSig: DataFrame, index: DataFrame,
      threshold: Double): DataFrame = {
    val nb = bandRows(newSig)
    val ib = bandRows(index)
    // candidates: new doc × (index doc ∪ earlier new doc) sharing a bucket
    val candIdx = nb.as("x").join(ib.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc").as("nd"), col("y.doc").as("od"))
    val candNew = nb.as("x").join(nb.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("y.doc") < col("x.doc"))
      .select(col("x.doc").as("nd"), col("y.doc").as("od"))
    val cand = candIdx.union(candNew).distinct()
    survivorsAfterVerify(newSig, index, cand, threshold)
  }

  /** Exact-Jaccard verification of incremental-dedup candidates, shared
    * by every recall mechanism ([[dedupAgainstIndex]] band buckets,
    * [[dedupAgainstWinnowIndex]] shared fingerprints): |A∩B| is one
    * native array_intersect per candidate pair over the hash SETS the
    * index rows carry — nothing re-tokenizes. nd resolves from the NEW
    * batch only, od from index ∪ new: if a doc id ever appeared on both
    * sides, resolving nd from the union would attribute the indexed
    * doc's shingle set to the new doc. Returns the surviving new rows. */
  private def survivorsAfterVerify(newSig: DataFrame, index: DataFrame,
      cand: DataFrame, threshold: Double): DataFrame = {
    val allSh = index.select(col("doc"), col("shh"))
      .union(newSig.select(col("doc"), col("shh")))
    // NO pinByKey on the candidate frame (r16 pinned it to spread the
    // exact-Jaccard array_intersect verify; r17 re-adjudicated under the
    // driver's cold-JVM full-suite interleaved protocol and REVERTED):
    // the pinned form lost the suite median in every paired run
    // (q_dedup_incremental 0.87-1.02 s pinned vs 0.80-0.86 s unpinned,
    // q_winnow_incremental 1.30-1.47 vs 1.21-1.26; 4 runs, r17 A/B) —
    // the isolated-idle win never survived suite load, and the added
    // exchange is pure cost at fleet scale where the candidate stream
    // is large enough that AQE sizes its own exchange sensibly.
    val dropped = cand
      .join(newSig.select(col("doc").as("nd"), col("shh").as("sha")), Seq("nd"))
      .join(allSh.select(col("doc").as("od"), col("shh").as("shb")), Seq("od"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .filter(col("inter").cast(DoubleType) /
        (size(col("sha")) + size(col("shb")) - col("inter")) >= threshold)
      .select(col("nd").as("doc")).distinct()
    newSig.join(dropped, Seq("doc"), "left_anti")
  }

  /** The persistable WINNOWING index — the MOSS sibling of
    * [[signatureIndex]]: one row per document with its distinct
    * shingle-hash set and its winnowing fingerprint set (~|grams|/w
    * longs; any shared run of ≥ w+n−1 tokens guarantees a shared
    * fingerprint, so the index also answers "which indexed doc shares a
    * long passage with this one" — the plagiarism-index question band
    * keys cannot). */
  def winnowIndex(docs: DataFrame, textCol: String, idCol: String,
      n: Int, w: Int): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("shh"),
      graft.functions.WinnowFingerprints.winnowFingerprints(col(textCol), n, w)
        .as("fps"))

  private def fpRows(sig: DataFrame): DataFrame =
    sig.select(col("doc"), size(col("fps")).as("nfp"), explode(col("fps")).as("fp"))

  /** [[dedupAgainstIndex]] with winnow-fingerprint recall over a
    * [[winnowIndex]]: candidates are new×(index ∪ earlier-new) pairs
    * sharing at least `minShared` fingerprints (the MOSS confidence
    * filter — one shared fingerprint is a single chance 6-token run;
    * true near-dups share many), verified by the same exact-Jaccard
    * pass. A pair where EITHER doc carries fewer than `minShared`
    * fingerprints is exempt from the filter (≥1 shared suffices): a
    * short document gets one full-cover winnow window — exactly one
    * fingerprint — and can never share two, so the confidence filter
    * would unrecoverably hide true high-Jaccard short near-dups from
    * the verifier. The verifier stays the precision gate either way.
    * Candidate generation equi-joins 8-byte fingerprints with a
    * count aggregate — the delta side stays small, the index side is
    * one (doc, fp) scan. */
  def dedupAgainstWinnowIndex(newSig: DataFrame, index: DataFrame,
      threshold: Double, minShared: Int = 2): DataFrame = {
    // ONE candidate join against index ∪ earlier-in-batch (flagged), one
    // count aggregate — the same single-`inter` shape the oracle SQL
    // states, half the shuffles of separate index/batch passes
    val eligible = fpRows(index).withColumn("idx", lit(true))
      .unionByName(fpRows(newSig).withColumn("idx", lit(false)))
    val cand = fpRows(newSig).as("x").join(eligible.as("y"),
        col("x.fp") === col("y.fp") &&
          (col("y.idx") || col("y.doc") < col("x.doc")))
      .groupBy(col("x.doc").as("nd"), col("y.doc").as("od"),
        col("x.nfp").as("nnfp"), col("y.nfp").as("onfp"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared ||
        least(col("nnfp"), col("onfp")) < minShared)
      .select("nd", "od")
    survivorsAfterVerify(newSig, index, cand, threshold)
  }

  /** Benchmark decontamination: flag corpus documents sharing any n-gram
    * with a benchmark set — the standard pre-training hygiene pass. The
    * benchmark side is tiny (a few hundred eval documents), so its
    * distinct shingle hashes broadcast and the check is one broadcast
    * semi-join against the corpus shingles: a narrow scan of the corpus,
    * no corpus-side shuffle. Output: (doc_id, n_hits) per contaminated
    * corpus document. */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame =
    contaminatedDocsFrom(shingleRowsOf(corpus, textCol, idCol, n),
      shingleRowsOf(benchmark, textCol, idCol, n))

  /** [[contaminatedDocs]] over precomputed (doc, h) distinct-per-doc gram
    * rows — the artifact-backed form (the gramNoveltyFrom treatment):
    * both sides explode straight from the persisted shingle table, no
    * re-tokenization. */
  def contaminatedDocsFrom(corpusSh: DataFrame, benchSh: DataFrame): DataFrame =
    corpusSh.join(broadcast(benchSh.select(col("h")).distinct()), "h")
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"))

  /** Contamination OVERLAP FRACTION — the graded decontamination report
    * ([[contaminatedDocs]] answers "any shared n-gram?"; production
    * pipelines instead threshold on the FRACTION of a document's grams
    * that hit the benchmark, dropping only docs past e.g. 30% overlap —
    * incidental single-gram collisions survive, real eval leakage
    * doesn't). One corpus gram scan, hit-marked by a broadcast LEFT join
    * against the benchmark's distinct gram hashes (the same tiny
    * broadcast side as [[contaminatedDocs]] — marking misses costs
    * nothing extra over the semi-join), then one groupBy(doc) computing
    * n_grams / n_hits / their ratio. Zero-gram documents (shorter than n
    * tokens) re-enter via a LEFT join from the corpus universe with
    * overlap 0.0 — they cannot leak what they cannot contain. The ratio
    * is one int/int IEEE division: engine-exact. */
  def contaminationOverlap(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame =
    contaminationOverlapFrom(
      shingleRowsOf(corpus, textCol, idCol, n),
      shingleRowsOf(benchmark, textCol, idCol, n),
      corpus.select(col(idCol)), idCol)

  /** [[contaminationOverlap]] over precomputed (doc, h) gram rows plus
    * the corpus-universe id frame (zero-gram documents re-enter through
    * it with overlap 0.0) — the artifact-backed form. */
  def contaminationOverlapFrom(corpusSh: DataFrame, benchSh: DataFrame,
      universe: DataFrame, idCol: String): DataFrame = {
    val bench = benchSh.select(col("h")).distinct().withColumn("hit", lit(1L))
    val perDoc = corpusSh
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    universe.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_hits").cast(DoubleType) /
            col("n_grams").cast(DoubleType)).as("overlap_frac"))
  }

  /** [[contaminatedDocs]] behind a Bloom prefilter — the decontamination
    * shape for benchmark suites too large to broadcast as an exact hash
    * relation. The benchmark's distinct shingle hashes aggregate into ONE
    * compact Bloom bitset (~1.2 MB per million grams at 1% fpp), the
    * corpus gram stream is prefiltered by a native might-contain probe
    * ([[graft.functions.BloomMightContain]] — codegen'd, shuffle-free,
    * testing a cache-resident bitset instead of probing a per-row hash
    * relation), and only the ~fpp survivors reach the exact join that
    * removes false positives. The result is EXACTLY [[contaminatedDocs]]:
    * the bitset changes the traffic, never the semantics. The verify
    * join's corpus side is only the prefiltered grams, so it is tiny by
    * construction — AQE broadcasts it or runs a small shuffle join; the
    * full corpus gram stream itself never shuffles. */
  def contaminatedDocsBloom(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int, fpp: Double = 0.01): DataFrame =
    contaminatedDocsBloomFrom(shingleRowsOf(corpus, textCol, idCol, n),
      shingleRowsOf(benchmark, textCol, idCol, n), fpp)

  /** [[contaminatedDocsBloom]] over precomputed (doc, h) gram rows — the
    * artifact-backed form. */
  def contaminatedDocsBloomFrom(corpusSh: DataFrame, benchSh0: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    // pinned: the distinct benchmark gram set has THREE consumers (the
    // count that sizes the bitset, the bloom aggregation, the exact verify
    // join) — on the path whose whole point is large benchmark sets,
    // recomputing that explode+distinct shuffle per consumer is the first
    // thing to cut
    val benchSh = Materialize.pin(benchSh0.select(col("h")).distinct())
    val expected = math.max(benchSh.count(), 1L)
    val bloom = benchSh.stat.bloomFilter("h", expected, fpp)
    val hits = corpusSh
      .filter(graft.functions.BloomMightContain.mightContain(col("h"), bloom))
    hits.join(benchSh, "h")
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Exact duplicated-SPAN statistics — the substring-level dedup
    * diagnostic (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022): every `n`-token span instance
    * of every document, flagged when the same span text occurs in ≥ 2
    * DISTINCT documents. Returns per-document
    * (doc_id, n_spans, n_dup_spans, dup_ratio); documents shorter than
    * `n` tokens have no spans and are absent.
    *
    * Takes span-hash instance rows — any frame carrying (doc_id, h) one
    * row per span OCCURRENCE, typically [[spanPositionRows]] (extra
    * columns are projected away); the caller owns materialization.
    *
    * Scale shape — the suffix-array-free formulation that stays linear
    * in corpus tokens: one native pass emits span strings
    * ([[graft.functions.ShingleText]], every occurrence), hashed to
    * 8 bytes; document frequency is one map-side-combined shuffle on
    * the hash; the flag join is an equi-join on the same 8-byte key.
    * Nothing is quadratic and no span string survives past the hash
    * projection. */
  def spanDupStatsFrom(spanRows: DataFrame): DataFrame = {
    val grams = spanRows.select("doc_id", "h")
    // only the "in ≥ 2 distinct docs" FLAG is consumed, and that is
    // exactly min(doc_id) ≠ max(doc_id) per hash — one map-side-combined
    // aggregate, where the former distinct-then-count pair paid a full
    // exchange of the instance rows first (the dupHashesFrom rewrite)
    val dupFlag = grams.groupBy("h")
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("is_dup"))
    grams.join(dupFlag, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        col("n_dup_spans").cast(DoubleType) / col("n_spans"))
  }

  /** Span hashes occurring in ≥ 2 distinct documents, from (doc_id, h)
    * instance rows. "≥ 2 distinct docs" is exactly `min(doc_id) ≠
    * max(doc_id)` per hash, so ONE map-side-combined aggregate on the
    * 8-byte hash replaces the former distinct-then-count pair — one
    * full exchange of the instance rows FEWER, with the same result
    * set. */
  private def dupHashesFrom(hashRows: DataFrame): DataFrame =
    hashRows.select("doc_id", "h")
      .groupBy("h").agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("h")

  /** (doc_id, pos, h) POSITIONAL span-hash rows — every `n`-token span
    * occurrence with its start-token index: the one tokenization product
    * that serves BOTH the duplicated-span diagnostic
    * ([[spanDupStatsFrom]] projects pos away) and the scrub
    * ([[spanScrubFrom]] needs pos for coverage). Public so composed
    * pipelines can materialize it once (the sharedShingles treatment);
    * deterministic, and every column round-trips parquet bit-exactly. */
  def spanPositionRows(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.ShingleText.shingleText(col(textCol), n))
          .as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        xxhash64(col("s")).as("h"))

  /** Duplicated-span REMOVAL — the transformation [[spanDupStatsFrom]] only
    * diagnoses: every token covered by any `n`-token span instance whose
    * text occurs in ≥ 2 distinct documents is cut, and the survivors are
    * re-joined in order. Documents whose every token is covered (pure
    * duplication) drop entirely; documents shorter than `n` tokens have
    * no spans and pass through whole. Returns
    * (doc_id, clean_text, n_kept). Takes the documents and their
    * [[spanPositionRows]]; the caller owns materialization.
    *
    * Scale shape: span starts come positionally from the same native
    * one-pass emission (array index = start token), so coverage is
    * `explode(sequence(pos, pos+n-1))` — no re-tokenization; duplicated
    * spans are found on the 8-byte hash (one map-side-combined shuffle),
    * their start positions collapse to one per-doc set that joins the
    * corpus once by doc_id, and the rebuild is an in-row positional
    * filter over the doc's own tokens. Everything keys on doc_id or an
    * 8-byte hash; nothing is quadratic in either the corpus or a
    * document. */
  def spanScrubFrom(docs: DataFrame, textCol: String, idCol: String,
      n: Int, spans: DataFrame): DataFrame = {
    val dup = dupHashesFrom(spans)
    // flag join on the 8-byte hash: dup is the (usually small) df ≥ 2
    // fraction, so AQE converts this to a broadcast at runtime when it
    // fits — deliberately NO unconditional broadcast hint, because the
    // duplicated-span set grows with the corpus and the shuffle join
    // must remain the web-scale fallback. Covered POSITIONS then
    // collapse to one per-doc set BEFORE the corpus is touched: the
    // duplicated-instance rows aggregate map-side to doc-keyed position
    // arrays, the corpus joins ONCE by doc_id (a doc-count-row shuffle —
    // the round-13 formulation exploded EVERY token into a (doc, pos)
    // row and shuffled the whole tokenized corpus through a token-keyed
    // anti-join + a collect_list/sort regroup), and the rebuild is an
    // in-row positional filter over the doc's own token array —
    // doc-local, no cross-row state. A doc with no duplicated span
    // never appears in `covered` and passes through whole via the left
    // join; a fully-covered doc filters to an empty array and drops.
    // The per-doc coverage aggregate collects duplicated-span START
    // positions only — the n-token coverage windows are expanded in-row
    // inside the rebuild (flatten∘transform over the position set), so
    // the exchange carries one row per duplicated instance instead of n
    // exploded coverage rows. The exchange itself is pinned
    // (Similarity.pinByKey, placed AFTER the h-join so the join keeps
    // whatever strategy fits the scale): it replaces the planner's
    // ENSURE_REQUIREMENTS doc_id exchange one-for-one — same rows, same
    // key, and collect_set has no map-side reduction to lose on
    // per-doc-unique positions — but its explicit partition count opts
    // the rebuild out of AQE's byte-based coalescing, which otherwise
    // folds this compute-dense tail onto 1-2 tasks of a 32-core box.
    val covered = Similarity.pinByKey(
        spans.join(dup, Seq("h")).select(col("doc_id"), col("pos")),
        col("doc_id"))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("covpos"))
    // kept-index set via array_except (hash-set build over the covered
    // indices, one scan of the index sequence — O(|tokens| + |covered|)):
    // a per-token array_contains probe is O(|tokens| × |covered|),
    // quadratic in document length for a long heavily-duplicated doc.
    // The covered-index set expands in-row from the start positions
    // (flatten∘transform; array_except treats its right argument as a
    // set, so overlapping windows' duplicate indices are harmless) and
    // array_except preserves the left argument's order, so token order
    // survives. The otherwise-branch only runs when covpos is non-null,
    // which implies the doc produced at least one n-token span, so
    // size(a) ≥ n ≥ 1 and the index sequence is never start > stop.
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("a"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("covpos").isNull, col("a")).otherwise(
          transform(
            array_except(
              sequence(lit(0L), size(col("a")).cast(LongType) - 1),
              flatten(transform(col("covpos"),
                p => sequence(p, p + (n - 1))))),
            i => element_at(col("a"), (i + 1).cast(IntegerType))))
          .as("kept"))
      .filter(size(col("kept")) > 0)
      .select(col("doc_id"), concat_ws(" ", col("kept")).as("clean_text"),
        size(col("kept")).cast(LongType).as("n_kept"))
  }

  private def shingleRowsOf(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("doc"),
        explode(graft.functions.ShingleHashes.shingleHashes(col(textCol), n)).as("h"))

  /** Duplicate CLUSTERS from a near-dup pair list: connected components
    * labeled by each component's minimum doc id — a unique fixpoint, so
    * the result is deterministic under any execution schedule.
    *
    * The pair list is orders of magnitude smaller than the corpus (it only
    * holds actual duplicates), so the default path collects it and runs
    * union-find on the driver — one Spark job total. When the list exceeds
    * `driverLimit`, the classic distributed min-label propagation takes
    * over: each iteration is one equi-join plus one min-aggregate,
    * converging in O(diameter) iterations (near-dup clusters are shallow).
    * Both paths compute the same fixpoint.
    * Input: (da, db) pairs with da < db. Output: (doc_id, canonical_id)
    * for every document that has at least one duplicate. */
  def duplicateClusters(pairs: DataFrame, driverLimit: Int = 1 << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val firstBatch = pairs.select(col("da").cast("long"), col("db").cast("long"))
      .limit(driverLimit + 1).as[(Long, Long)].collect()
    if (firstBatch.length <= driverLimit) {
      // driver union-find with path compression; root = component minimum
      // because union always hangs the larger id under the smaller
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for ((a, b) <- firstBatch) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        } else parent.getOrElseUpdate(ra, ra)
      }
      val nodes = firstBatch.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
      nodes.map(n => (n, find(n))).toDF("doc_id", "canonical_id")
    } else distributedClusters(pairs)
  }

  /** Label every id of `universe` with its duplicate-cluster survivor
    * decision: `rep_id` = the component minimum of the pair graph's
    * connected component containing the id (the id itself when the id is
    * in no pair), `kept` = 1 for the representative, 0 for the members a
    * dedup pass drops. This is the terminal step every pair-producing
    * dedup family shares (MinHash, SimHash, winnowing, SemDeDup cosine
    * pairs): pairs → components ([[duplicateClusters]]) → one survivor
    * per component. The component table is dup-pairs-sized — tiny
    * relative to the universe — so the labeling join broadcasts and the
    * universe itself never shuffles. */
  def keepRepresentatives(universe: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val cc = duplicateClusters(pairs)
      .select(col("doc_id").as(idCol), col("canonical_id"))
    universe.select(col(idCol))
      .join(broadcast(cc), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("canonical_id"), col(idCol)).as("rep_id"))
      .withColumn("kept", (col("rep_id") === col(idCol)).cast(IntegerType))
  }

  /** Distributed min-label propagation (the >driverLimit path): labels
    * converge to the per-component minimum; the driver only ever sees a
    * changed-count per iteration. */
  private def distributedClusters(pairs: DataFrame): DataFrame = {
    val edgesRaw = pairs.select(col("da").as("a"), col("db").as("b"))
      .union(pairs.select(col("db").as("a"), col("da").as("b")))
    // edges are held for the whole loop (read every iteration). The labels
    // are pinned EVERY iteration, not held: each iteration's plan
    // references `labels` twice (the union arm and the neighbor join), so
    // a held formulation nests the previous InMemoryRelation twice per
    // level and the logical tree DOUBLES per iteration — AQE's plan-change
    // logging then renders an exponentially-sized explain string and OOMs
    // the driver near diameter 40. A pinned iteration is a flat
    // LogicalRDD: plan size stays O(1) at any diameter, one (node, lbl)
    // row per duplicated doc. Superseded pins are freed by the
    // ContextCleaner once unreferenced.
    Materialize.during(edgesRaw) { edges =>
      var labels = Materialize.pin(edges.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node")))
      var converged = false
      while (!converged) {
        // min over self + neighbors' labels
        val viaNeighbor = edges
          .join(labels.select(col("node").as("b"), col("lbl")), "b")
          .select(col("a").as("node"), col("lbl"))
        val next = Materialize.pin(labels.union(viaNeighbor)
          .groupBy("node").agg(min("lbl").as("lbl")))
        val changed = next.join(labels.withColumnRenamed("lbl", "old"), "node")
          .filter(col("lbl") =!= col("old")).limit(1).count()
        labels = next
        converged = changed == 0
      }
      // the final label table is pinned, so the caller's consumption does
      // not re-run the iterative lineage
      labels.select(col("node").as("doc_id"), col("lbl").as("canonical_id"))
    }
  }

  /** Oracle-reproducible SimHash: each token hashed to 60 bits of its md5
    * (a hash both this engine and any SQL oracle can compute), per-bit ±1
    * sums signed into the signature. All of a document's tokens live in its
    * own row, so the whole signature is ONE narrow native pass
    * ([[graft.functions.Md5SimHash]]) — no explode, no shuffle, and the
    * same result as the oracle's exploded 60-column aggregate.
    * Output: (doc, simhash long with `bits` significant bits). */
  def simhashAgg(docs: DataFrame, textCol: String, idCol: String,
      bits: Int = 60): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.Md5SimHash.simhash(col(textCol), bits).as("simhash"))

  /** [[dedupAgainstIndex]] with SIMHASH recall over a persisted
    * (doc, simhash) index — the cheapest incremental near-dup state
    * there is: EIGHT BYTES per indexed document (vs `|shingles| + bands`
    * longs for the MinHash index, `|shingles| + |grams|/w` for winnow).
    * A new document drops when a signature within Hamming radius
    * `maxHamming` exists in the index or earlier in the batch.
    * Candidates come from the [[simhashBands]] equi-join; radius < bands
    * makes candidate generation LOSSLESS (pigeonhole), and the popcount
    * filter on the candidate pairs IS the exact verify — unlike the
    * MinHash/winnow paths there is no second verification join, because
    * the predicate ("Hamming ≤ r") is decidable from the two signatures
    * alone. The trade: Hamming radius is a blunter similarity notion
    * than exact Jaccard — the signature cannot reconstruct WHAT
    * overlapped, so this is the Manku-style serving gate, not the
    * audit-grade verifier. Index side shuffles `bands` 8-byte slices per
    * doc; nothing re-tokenizes. */
  def dedupAgainstSimhashIndex(newSig: DataFrame, index: DataFrame,
      maxHamming: Int = 3, bits: Int = 60, bands: Int = 4): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole exactness needs maxHamming ($maxHamming) < bands ($bands)")
    val nb = simhashBands(newSig, bits, bands)
    // ONE candidate join against index ∪ earlier-in-batch (flagged) —
    // the single-pass shape dedupAgainstWinnowIndex established
    val eligible = simhashBands(index, bits, bands).withColumn("idx", lit(true))
      .unionByName(nb.withColumn("idx", lit(false)))
    val dropped = nb.as("x").join(eligible.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          (col("y.idx") || col("y.doc") < col("x.doc")))
      .filter(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
        <= maxHamming)
      .select(col("x.doc").as("doc")).distinct()
    newSig.join(dropped, Seq("doc"), "left_anti")
  }

  /** Band keys for a simhash signature: `bands` rows of
    * (band index, band-sized bit slice). The candidate-generation key for
    * [[simhashPairsFrom]] — two signatures within Hamming radius < `bands`
    * MUST agree on at least one slice (pigeonhole: r differing bits can
    * touch at most r < bands of the slices), so an equi-join on
    * (band, key) is EXACT candidate generation for that radius, not a
    * recall/precision trade like MinHash banding. */
  def simhashBands(sig: DataFrame, bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    sig.select(col("doc"), col("simhash"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * bandBits)
            .bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc"), col("simhash"), col("bk.band"), col("bk.key"))
  }

  /** All document pairs within Hamming radius `maxHamming` of each other's
    * simhash — EXACTLY, with no all-pairs join. Candidates come from the
    * [[simhashBands]] equi-join (one shuffle on the 8-byte (band, slice)
    * key, `bands` rows per doc — never the body, never a cartesian);
    * `maxHamming < bands` makes the banding lossless by pigeonhole, so the
    * result set is identical to the naive quadratic
    * `bit_count(xor) <= r` join an oracle states. The Hamming verify runs
    * on candidate pairs only: two longs xor'd and popcounted, codegen'd.
    *
    * This is the signature-level sibling of the MinHash path: MinHash
    * banding trades recall for candidate volume and needs an exact-Jaccard
    * verify to restore precision; simhash banding at radius < bands loses
    * NOTHING, which is why near-dup serving indexes (Manku et al., WWW'07
    * — the Google web-crawl dedup design) key on exactly this slice
    * scheme. At 100 TB the shuffle moves bands × 16 bytes per document,
    * and a hot slice value (all-zero slices from short docs) salts like
    * any skewed equi-key. Takes a (doc, simhash) signature table
    * ([[simhashAgg]]), typically the persisted one. */
  def simhashPairsFrom(sig: DataFrame, maxHamming: Int, bits: Int,
      bands: Int): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole exactness needs maxHamming ($maxHamming) < bands ($bands)")
    val banded = simhashBands(sig, bits, bands)
    val l = banded.select(col("band"), col("key"),
      col("doc").as("da"), col("simhash").as("sa"))
    val r = banded.select(col("band"), col("key"),
      col("doc").as("db"), col("simhash").as("sb"))
    l.join(r, Seq("band", "key"))
      .filter(col("da") < col("db"))
      // popcount filter BEFORE the distinct: the filter is per-pair
      // deterministic, so filter∘distinct ≡ distinct∘filter — but almost
      // all band collisions are far pairs, so filtering first shrinks the
      // dedup shuffle to just the in-radius pairs (≤ bands copies each)
      .select(col("da"), col("db"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

}
