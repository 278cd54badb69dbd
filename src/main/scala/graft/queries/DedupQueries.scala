package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}
import graft.operators.{Dedup, TextAnalysis => TA}
import QualityQueries.{SelfDedupW, scrubAggCtes, stopList}
import SharedArtifacts.{SweepThresholds, nearDupClusters, sharedShingles,
  sharedSignatureIndex, sharedSimhash, sharedSpanRows, sharedWinnowFps,
  sharedWinnowIndex, sweepHotStats, sweepPairs}

/** Deduplication queries over `documents`: exact and fingerprint groups,
  * MinHash, winnow and SimHash pair finding, near-duplicate clusters,
  * incremental ingest against a persisted index, span-level dedup and
  * benchmark decontamination. The MinHash queries are oracled against the
  * exact Jaccard SQL they must agree with; the SimHash queries against a
  * DuckDB restatement of the md5-based signature.
  */
object DedupQueries extends QueryFamily {
  def fingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(TA.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy("fp")
  query("q_fingerprint_dedup", Oracle(
      """SELECT MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' ')) AS fp,
        |       MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin))(fingerprintDedup)

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy("digest")
  query("q_dedup_exact", Oracle(
      """SELECT MD5(text) AS digest, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY digest ORDER BY digest""".stripMargin))(dedupExact)

  /** Keep-first exact dedup on the events stream: one survivor per
    * (user_id, event_type), earliest by (ts, event_id). */
  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame =
    Dedup.keepFirst(
        Tables.events(spark, dir).select("event_id", "ts", "user_id", "event_type"),
        Seq("user_id", "event_type"), Seq(col("ts").asc, col("event_id").asc))
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy("user_id", "event_type")
  query("q_dedup_keep_first", Oracle(
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin))(dedupKeepFirst)

  /** Exact n-gram Jaccard pairs, candidate-restricted: LSH candidates
    * first ([[Dedup.minhashDupPairsFrom]] — 16×4 bands catch j≥0.8 with
    * p>0.999), exact `array_intersect` Jaccard verification on the
    * candidates only. Same oracle as the all-pairs formulation (the SQL
    * IS exact Jaccard); the difference is the plan — candidate-join on
    * 8-byte band keys instead of the prefix-filtered shingle self-join,
    * the shape that stays sub-quadratic on adversarial corpora.
    * TextOpsSpec asserts the same pair set as the prefix-filtered exact
    * all-pairs self-join it keeps as a reference. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    // no persist/localCheckpoint scaffolding (r16, the winnowPairs
    // rationale): the 4 self-join consumers re-read the PERSISTED shingle
    // artifact — a cheap columnar re-scan, not a re-tokenization — and
    // the orderBy sampler reuses the pair pipeline's shuffle outputs
    Dedup.minhashDupPairsFrom(sharedShingles(spark, dir),
        k = 64, bands = 16, threshold = 0.8)
      .orderBy("da", "db")
  // q_ngram_jaccard / q_minhash_dedup build candidates with MinHash-LSH
  // (16 bands × 4 rows) and exact-verify them, while their oracle is
  // EXACT Jaccard: no false positives ever, but banding has a ~2e-4
  // per-pair false-NEGATIVE probability for pairs barely above j=0.8 —
  // a theoretical oracle mismatch on adversarial corpora. Deterministic
  // and green on the bench corpora (TextOpsSpec asserts pair-set
  // equality vs the exact all-pairs reference); q_winnow_pairs includes
  // its recall mechanism IN the oracle and has no such gap.
  query("q_ngram_jaccard", Oracle(jaccardSql))(ngramJaccard)

  def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    // same scaffolding removal as [[ngramJaccard]] (r16)
    Dedup.minhashDupPairsFrom(sharedShingles(spark, dir),
        k = 64, bands = 16, threshold = 0.8)
      .orderBy("da", "db")
  // MinHash-LSH must recover exactly the pairs exact Jaccard finds at this
  // threshold (16 bands × 4 rows ⇒ detection p > 0.999 at j ≥ 0.8, and the
  // pipeline is fully deterministic) — so it shares the exact-Jaccard oracle.
  query("q_minhash_dedup", Oracle(jaccardSql))(minhashDedup)

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
    // pinned so nPairs and nDocs evaluate the pair table ONCE:
    // negligible on the artifact path (the pair list is tiny), and on
    // the stamp-0 / unwritable-root FALLBACK it is what keeps the
    // dominant candidate self-join from running twice in one query
    val pj = Materialize.pin(sweepPairs(spark, dir))
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
  query("q_dedup_sweep", Oracle(dedupSweepSql))(dedupSweep)
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
  query("q_dup_sources", Oracle(dupSourcesSql))(dupSources)
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
    * of the checked semantics. The declared query passes
    * [[Dedup.AuditDfCap]] as `dfCap`; DedupCapSpec drives other caps to
    * prove capped ≡ uncapped at the test SFs. */
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
    // it under the full-suite measurement shape and REVERTED it): the pin's 2x win
    // was real only on an idle box — in cold-JVM full-suite interleaved
    // runs (the local[32] suite protocol) the unpinned form won the per-query
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
  // Winnow-retrieval pairs: the oracle restates the WHOLE pipeline —
  // candidates from shared winnowing fingerprints (the q_winnow_fingerprint
  // SQL, hash-green) behind the Spark side's AuditDfCap fp-df cap (a
  // no-op at the verify SFs — max fp df 24 — so the capped candidates
  // are the complete ones), verified by exact Jaccard over trigram
  // shingle sets (the q_ngram_jaccard SQL shape, hash-green) — so unlike
  // the LSH queries, the recall mechanism is part of the checked
  // semantics and there is no probabilistic oracle gap.
  query("q_winnow_pairs", Oracle(
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
        |ORDER BY da, db""".stripMargin))(winnowPairsWith(_, _, Dedup.AuditDfCap))

  /** Near-dup CLUSTERS: MinHash-LSH pairs → connected components, one
    * (doc, canonical) row per duplicated document. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupClusters(spark, dir).orderBy("doc_id")
  // Clusters: transitive closure of the same pair list via a recursive
  // CTE; min-label per component is the unique fixpoint the distributed
  // label propagation converges to.
  query("q_dedup_clusters", Oracle(
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT da a, db b FROM jp UNION SELECT db a, da b FROM jp),
         |reach AS (SELECT a AS node, a AS reachable FROM edges
         |          UNION
         |          SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reachable)
         |SELECT node AS doc_id, MIN(reachable) AS canonical_id
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin))(dedupClusters)

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
  // soft dedup: the q_dedup_clusters closure + a size table, LEFT
  // joined back onto the corpus; weight is one IEEE double division
  query("q_dedup_weights", Oracle(
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
         |ORDER BY d.doc_id""".stripMargin))(dedupWeights)

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
    // dup-docs-sized; pinned so the scan feeding BOTH consumers below
    // (the argmax and the output join) runs once
    val members = Materialize.pin(docs
      .join(broadcast(clusters), Seq("doc_id"))
      .select(col("doc_id"), col("canonical_id"),
        TA.distinctTokenRatio(col("text")).as("quality")))
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
  // cluster best: the q_dedup_clusters closure + the q_text_stats
  // distinct_ratio recipe, survivor = ROW_NUMBER (quality DESC, doc_id
  // ASC) = the Column tree's max_by(doc_id, (quality, -doc_id))
  query("q_cluster_best", Oracle(
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
         |ORDER BY m.doc_id""".stripMargin))(clusterBest)

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
  // The composed cleaning pipeline: quality gate, exact keep-first by
  // md5 digest, near-dup removal via the same recursive transitive
  // closure; each stage reuses an already-oracled expression.
  query("q_clean_corpus", Oracle({
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
    }))(cleanCorpus)

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
  query("q_dedup_incremental", Oracle(incrementalSql))(dedupIncremental)

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
  // Incremental ingest restated exactly: a new (odd-id) doc is dropped
  // when a >= 0.8-Jaccard partner exists among the indexed (even-id)
  // docs or among earlier odd-id docs; the LSH candidate step recovers
  // all such pairs (same banding argument as q_minhash_dedup), so the
  // exact-Jaccard restatement is the full semantics. The winnow-index
  // variant shares it: ≥2-shared-fingerprint recall recovers every true
  // pair on these corpora (same caveat family as the LSH queries).
  query("q_winnow_incremental", Oracle(incrementalSql))(winnowIncremental)

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
  query("q_simhash_incremental", Oracle(simhashIncrementalSql))(simhashIncremental)
  /** Simhash incremental-ingest oracle: even-id docs are the index, an
    * odd-id doc drops when a Hamming-≤3 partner exists among even docs
    * or earlier odd docs — stated as the naive quadratic popcount
    * predicate, which the banded plan provably equals. */
  private def simhashIncrementalSql: String =
    s"""$simhashCtes,
       |dropped AS (SELECT DISTINCT a.doc_id
       |  FROM sig a JOIN sig b
       |    ON a.doc_id % 2 = 1 AND (b.doc_id % 2 = 0 OR b.doc_id < a.doc_id)
       |   AND BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3)
       |SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'index' ELSE 'new' END AS src
       |FROM documents
       |WHERE doc_id % 2 = 0 OR doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: corpus docs (doc_id ≥ 10) sharing any
    * 3-gram with the "benchmark" docs (doc_id < 10), with hit counts. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // deliberately INLINE tokenization, not the shingle artifact: each
    // side is consumed once, and the native ShingleHashes pass over the
    // text column measured CHEAPER than decoding + exploding the
    // persisted array column (idle 5-rep mins 0.28 vs 0.37 s) — the
    // artifact only wins multi-consumption shapes (q_gram_novelty)
    val docs = Tables.documents(spark, dir)
    Dedup.contaminatedDocs(
        corpus = docs.filter(col("doc_id") >= 10),
        benchmark = docs.filter(col("doc_id") < 10),
        "text", "doc_id", n = 3)
      .orderBy("doc_id")
  }
  query("q_decontaminate", Oracle(decontaminateSql))(decontaminate)

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
  query("q_contamination_overlap", Oracle(contaminationOverlapSql))(contaminationOverlap)
  /** Graded-decontamination oracle: the q_decontaminate gram CTEs, hits
    * by LEFT join (misses count 0), one int/int division for the
    * fraction; zero-gram docs re-enter with 0.0 via the outer doc scan. */
  private def contaminationOverlapSql: String =
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
  // the Bloom path is exact by construction (prefilter + exact verify),
  // so it shares the decontamination oracle verbatim — the recall claim
  // "bloom loses nothing" is itself what the hash compare checks
  query("q_bloom_decontaminate", Oracle(decontaminateSql))(bloomDecontaminate)

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
  query("q_snapshot_diff", Oracle(
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
        |ORDER BY doc_id""".stripMargin))(snapshotDiff)

  def simhash(spark: SparkSession, dir: String): DataFrame =
    sharedSimhash(spark, dir)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id")
  query("q_simhash", Oracle(simhashSql))(simhash)
  private def simhashSql: String =
    s"""$simhashCtes
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** Every document pair within Hamming radius 3 on the 60-bit simhash —
    * exactly (4 bands of 15 bits make the banded equi-join lossless at
    * radius < 4 by pigeonhole), while the oracle states the naive
    * quadratic popcount join. The signature-level near-dup sibling of
    * q_minhash_dedup whose banding, unlike MinHash's, loses nothing. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsFrom(sharedSimhash(spark, dir),
        maxHamming = 3, bits = 60, bands = 4)
      .orderBy("da", "db")
  query("q_simhash_pairs", Oracle(simhashPairsSql))(simhashPairs)
  /** Hamming-pairs oracle: the NAIVE quadratic popcount join the banded
    * Spark plan is provably equivalent to (pigeonhole at radius 3 < 4
    * bands) — the oracle states the semantics, the plan earns the scale. */
  private def simhashPairsSql: String =
    s"""$simhashCtes
       |SELECT a.doc_id AS da, b.doc_id AS db,
       |  CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3
       |ORDER BY da, db""".stripMargin

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
  query("q_dedup_stats", Oracle(
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT COALESCE(MD5(text), '<null>')) AS BIGINT) AS n_unique,
        |       CAST(COUNT(*) - COUNT(DISTINCT COALESCE(MD5(text), '<null>')) AS BIGINT) AS n_dupes,
        |       CAST(COUNT(*) - COUNT(DISTINCT COALESCE(MD5(text), '<null>')) AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin))(dedupStats)

  /** Winnowing fingerprints over the corpus (trigrams, window 4): the
    * rolling-hash document fingerprint set — per doc ~¼ of its gram
    * hashes, with the MOSS guarantee that any shared 6-token run yields
    * a shared fingerprint. Shuffle-free until the final sort. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    sharedWinnowFps(spark, dir).orderBy("doc_id", "fp")
  // winnowing restated with SQL window functions: trigram per position,
  // md5-60-bit hash (the proven simhash parity recipe), MIN over a
  // 4-position frame, one full-cover window for docs with < 4 grams
  // (pos 0 only), DISTINCT per doc. Gram construction is the
  // q_quality_repetition recipe (hash-green).
  query("q_winnow_fingerprint", Oracle(
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
        |ORDER BY doc_id, fp""".stripMargin))(winnowFingerprint)

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
  query("q_self_dedup", Oracle(selfDedupSql))(selfDedup)
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

  /** Exact duplicated-span statistics ([[Dedup.spanDupStatsFrom]], n = 5):
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
  // Spark groups spans by xxhash64, the oracle by the literal span
  // text — counts coincide absent a 64-bit collision (the proven
  // q_decontaminate argument).
  query("q_span_dedup", Oracle(
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |g AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(a)-4, 0)),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4] || ' ' || a[i+5])) AS s
        |      FROM arr),
        |df AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY s)
        |SELECT g.doc_id, COUNT(*) AS n_spans,
        |       CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |       CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
        |FROM g JOIN df USING (s)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin))(spanDedup)

  /** Duplicated-span REMOVAL ([[Dedup.spanScrubFrom]], n = 5) — the cleaning
    * transformation behind [[spanDedup]]'s diagnostic: tokens covered by
    * any cross-document duplicated 5-token span are cut and the text
    * rebuilt; fully-covered documents drop. Same hash-vs-literal oracle
    * argument as q_span_dedup. */
  def spanScrub(spark: SparkSession, dir: String): DataFrame =
    // same scaffolding removal as [[spanDedup]] (r16: 1.66s → 1.03s)
    Dedup.spanScrubFrom(Tables.documents(spark, dir), "text", "doc_id",
        n = 5, sharedSpanRows(spark, dir))
      .orderBy("doc_id")
  query("q_span_scrub", Oracle(
      """WITH arr AS (SELECT doc_id, STRING_SPLIT(text, ' ') a FROM documents),
        |g AS (SELECT doc_id, a, UNNEST(RANGE(GREATEST(LEN(a)-4, 0))) AS pos FROM arr),
        |s AS (SELECT doc_id, pos, a[pos+1] || ' ' || a[pos+2] || ' ' || a[pos+3] || ' ' || a[pos+4] || ' ' || a[pos+5] AS s FROM g),
        |dup AS (SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS df FROM s GROUP BY s) WHERE df >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + UNNEST(RANGE(5)) AS tp FROM s JOIN dup USING (s)),
        |toks AS (SELECT doc_id, UNNEST(a) AS tok, UNNEST(RANGE(LEN(a))) AS tp FROM arr),
        |kept AS (SELECT t.doc_id, t.tok, t.tp FROM toks t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp)
        |SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY tp) AS clean_text, COUNT(*) AS n_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin))(spanScrub)

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
  // cluster-size histogram: the q_dedup_clusters recursive closure,
  // sizes per component, counts per size, one mirrored division
  query("q_cluster_histogram", Oracle(
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
         |FROM h, tot ORDER BY cluster_size""".stripMargin))(clusterHistogram)

  private[queries] val jaccardSql =
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

}
