package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.{Engine, YamlParser}

/** Plan-quality assertions — the 100 TB design claims, checked against the
  * actual physical plans: record_when predicates reach the parquet scan as
  * pushed filters, unused columns prune out of ReadSchema, and the lookup
  * join is a broadcast hash join (no fact-side shuffle). */
class PlanQualitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val dir = "/root/testdata/sf0.001"

  /** The artifact entry points' outcome counts summed over families
    * (`read_fallback:<class>` counts as `read_fallback`); the suite's own
    * outcomes are the delta over the value at construction. */
  private def artifactOutcomes: Map[String, Long] =
    graft.operators.Artifacts.outcomeCounts.toSeq
      .groupMapReduce(_._1._2.takeWhile(_ != ':'))(_._2)(_ + _)
  private val outcomesAtStart = artifactOutcomes

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("record_when filter pushes into the parquet scan") {
    val plan = planOf(Relational.recordWhen(spark, dir))
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"expected pushed quantity filter in:\n$plan")
  }

  test("column pruning: projection reads only referenced columns") {
    val plan = planOf(Relational.recordWhen(spark, dir))
    // query touches 4 of lineitem's 11 columns — the scan must not read
    // l_extendedprice (money column unused here)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice"),
      s"unused column not pruned: $readSchema")
  }

  test("lookup compiles to a broadcast hash join") {
    val plan = planOf(Relational.lookup(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected BroadcastHashJoin in:\n$plan")
  }

  test("rule-engine record_when also reaches the scan as a pushed filter") {
    val rule = YamlParser.parse(
      """version: 2
        |record_when: { gte: ["@input.l_quantity", 30] }
        |mappings:
        |  - target: orderkey
        |    source: l_orderkey
        |""".stripMargin)
    val plan = planOf(Engine.transform(rule, graft.Tables.lineitem(spark, dir)))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(l_quantity"),
      s"expected pushed rule filter in:\n$plan")
    // and the scan reads only the two referenced columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_returnflag"),
      s"rule plan did not prune unused columns: $readSchema")
  }

  test("warnings-mode transform keeps the pure record_when pushed into the scan") {
    // the warnings path must not tax the common case: with no
    // error-capable condition anywhere, a pure record_when still filters
    // (and pushes) instead of becoming a keep column
    val rule = YamlParser.parse(
      """version: 2
        |record_when: { gte: ["@input.l_quantity", 30] }
        |mappings:
        |  - target: orderkey
        |    source: l_orderkey
        |""".stripMargin)
    val jw = Engine.toJsonRecordsWithWarnings(rule, graft.Tables.lineitem(spark, dir))
    val plan = planOf(jw.output)
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(l_quantity"),
      s"warnings-mode plan lost the pushed record_when filter:\n$plan")
  }

  test("a served single-record rule folds into a bare LocalRelation: no job to run") {
    val rule = YamlParser.parse(
      """version: 2
        |record_when: { gt: ["@input.qty", 0] }
        |mappings:
        |  - target: label
        |    expr:
        |      - "@input.qty"
        |      - if:
        |          cond: { gte: ["$", 10] }
        |          then: "bulk"
        |          else: "retail"
        |steps:
        |  - branch:
        |      when: { eq: ["@out.label", "bulk"] }
        |      then: ./big.yaml
        |      else: ./small.yaml
        |""".stripMargin)
    val loader: Engine.RuleLoader = p => YamlParser.parse(
      s"version: 2\nmappings:\n  - target: size\n    expr: [lit:${p.stripPrefix("./").stripSuffix(".yaml")}]\n")
    val input = graft.sources.Sources.jsonNode(spark,
      new com.fasterxml.jackson.databind.ObjectMapper().readTree("""{"qty": 12}"""), Nil)
    val out = Engine.toJsonRecords(rule, input, nullAsMissing = true, ruleLoader = loader)
    val optimized = out.queryExecution.optimizedPlan
    assert(optimized.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected a bare LocalRelation:\n$optimized")
    assert(out.collect().map(_.getString(0)).toSeq == Seq("""{"label":"bulk","size":"big"}"""))
  }

  test("sampling and token stats are narrow: no Exchange, pruned scans") {
    val docs = graft.Tables.documents(spark, dir)
    val splitPlan = planOf(graft.operators.Sampling.trainTestSplit(
      docs.select("doc_id", "lang"), "doc_id", 90))
    assert(!splitPlan.contains("Exchange"),
      s"hash-bucket split must not shuffle:\n$splitPlan")
    val tokPlan = planOf(TokenQueries.tokenStats(spark, dir).limit(1))
    val readSchema = tokPlan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"token stats must scan only doc_id+text: $readSchema")
  }

  test("PII redaction is a narrow codegen projection: no Exchange, no UDF") {
    import org.apache.spark.sql.functions.col
    val cust = graft.Tables.customer(spark, dir)
    val plan = planOf(cust.select(col("c_custkey"),
      graft.operators.Redact.scrub(col("c_name")).as("masked")))
    assert(!plan.contains("Exchange"), s"scrub must not shuffle:\n$plan")
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert(plan.contains("*(1) Project"), s"scrub must stay in codegen:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"scrub must be native regexp_replace, not a UDF:\n$plan")
  }

  test("SemDeDup pairs join only on the cluster id — never all-pairs") {
    val emb = graft.Tables.embeddings(spark, dir)
    val b = graft.operators.Ivf.base(emb, "vec_id", "embedding")
    val plan = planOf(graft.operators.Ivf.semDedupPairsWith(
      b, graft.operators.Ivf.centroids(b, nlist = 10, iters = 1), threshold = 0.35))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"SemDeDup must not build an all-pairs join:\n$plan")
    assert(plan.contains("rm_nearest_clusters") && plan.contains("rm_cosine_similarity"),
      s"expected native assignment + cosine in:\n$plan")
  }

  test("decontamination joins via broadcast; vocab top-k shuffles once") {
    val docs = graft.Tables.documents(spark, dir)
    val decon = planOf(graft.operators.Dedup.contaminatedDocs(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 10),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10),
      "text", "doc_id", n = 3))
    assert(decon.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n$decon")
    val vocab = planOf(TokenQueries.vocabTopK(spark, dir).limit(1))
    // explode + partial agg are narrow; the count and the window share the
    // (lang, token)→lang shuffles — anything beyond 3 exchanges (partial
    // agg, window repartition, final order) signals a regression
    val exchanges = vocab.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"vocab top-k shuffled $exchanges times:\n$vocab")
  }

  test("table profile reads the parquet once; melt pre-aggregates, no Expand") {
    val plan = planOf(Relational.tableProfile(spark, dir))
    val scans = plan.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"profile must scan lineitem exactly once, saw $scans:\n$plan")
    // the melt shape: per-(column, value) partial aggregation collapses
    // map-side; the multi-count_distinct Expand (rows × columns+1 through
    // the aggregate — measured 2.0s vs 0.3s at sf0.1) must not come back
    assert(!plan.contains("Expand"), s"profile must not plan an Expand:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"expected map-side partial aggregation in:\n$plan")
  }

  test("bloom decontamination probes the bitset in the scan stage, before any join") {
    val docs = graft.Tables.documents(spark, dir)
    val plan = planOf(graft.operators.Dedup.contaminatedDocsBloom(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 10),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10),
      "text", "doc_id", n = 3))
    // the native probe is a Filter in the corpus scan stage — the gram
    // stream is cut to ~fpp before anything joins or shuffles
    assert(plan.contains("rm_bloom_might_contain"),
      s"expected the native bloom probe in:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"the probe must be a native expression, not a UDF:\n$plan")
    val filterLine = plan.linesIterator.indexWhere(_.contains("rm_bloom_might_contain"))
    val joinLine = plan.linesIterator.indexWhere(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joinLine >= 0, s"expected a verify join in the plan:\n$plan")
    assert(joinLine < filterLine,
      s"bloom filter must sit below (after) the verify join in the tree:\n$plan")
  }

  test("boilerplate stats shuffle 8-byte hashes, broadcast the set, and never cache") {
    val plan = planOf(graft.operators.TextAnalysis.boilerplateStats(
      graft.Tables.documents(spark, dir), "text", "doc_id", minDf = 5))
    // membership comes back via broadcast — the corpus never reshuffles for it
    assert(plan.contains("BroadcastHashJoin"),
      s"boilerplate membership must broadcast:\n$plan")
    // the df-count exchange hashes the 8-byte shingle hash, not gram strings
    assert(plan.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("h#")),
      s"df count must shuffle the hash column:\n$plan")
    assert(!plan.contains("InMemoryTableScan"),
      s"nothing corpus-sized may be pinned in executor memory:\n$plan")
  }

  test("int8 quantization is a narrow native projection inside WholeStageCodegen") {
    import org.apache.spark.sql.functions.col
    val plan = planOf(AnnQueries.embeddingQuantize(spark, dir).limit(1))
    assert(plan.contains("rm_int8_quantize"),
      s"expected native quantize expression in:\n$plan")
    // the "*(n)" codegen-stage marker sits after the "+-" tree prefix here
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("*(")),
      s"quantize projection fell out of codegen:\n$plan")
    // selecting scale AND q must not shuffle — both are fields of one
    // struct-valued expression in a plain projection
    val narrow = planOf(graft.Tables.embeddings(spark, dir).select(
      graft.operators.Quantize.int8Scale(col("embedding")),
      graft.operators.Quantize.int8Csv(col("embedding"))))
    assert(!narrow.contains("Exchange"), s"quantize must not shuffle:\n$narrow")
  }

  test("salted join shuffles on (key, salt) — the hot key splits across reducers") {
    val plan = planOf(Relational.saltedJoin(spark, dir).limit(1))
    // the fact-side exchange must hash on the salt, not the bare status key
    assert(plan.contains("__salt"),
      s"expected the salt in the shuffle keys:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("__salt")),
      s"salted join must hash-partition on (key, salt):\n$plan")
    // and the whole point is a NON-broadcast join (broadcast needs no salt)
    assert(!plan.contains("BroadcastHashJoin"),
      s"salted join must not degenerate to broadcast:\n$plan")
  }

  test("quantized rerank: one broadcast-NL approx baseline, equi-join exact stage") {
    val plan = planOf(AnnQueries.quantizedRerank(spark, dir).limit(1))
    assert(plan.contains("rm_int8_quantize") && plan.contains("rm_cosine_similarity"),
      s"expected native quantize + cosine in:\n$plan")
    // the approximate shortlist stage is the documented broadcast-nested-loop
    // baseline (tiny query side); the exact rerank must join on ids only —
    // exactly ONE nested-loop join in the whole plan
    val nl = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nl == 1, s"expected exactly one nested-loop stage, got $nl:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian products:\n$plan")
  }

  test("IVF-SQ8 rerank: cluster-id equi-join shortlist, no corpus-wide NL scan") {
    val plan = planOf(AnnQueries.ivfRerank(spark, dir).limit(1))
    // the whole point vs the flat quantizedRerank baseline: NO stage may
    // scan the entire corpus per query batch
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
      s"IVF-SQ8 must never go all-pairs:\n$plan")
    // probes/assignment run the native centroid argmin; approximate scores
    // come off the PERSISTED int8 index through the native dequantize
    assert(plan.contains("rm_nearest_clusters") &&
        plan.contains("rm_int8_dequantize") &&
        plan.contains("rm_cosine_similarity"),
      s"expected native probe + persisted-index dequantize + cosine in:\n$plan")
    // the candidate stage is an equi-join on the cluster id
    assert(plan.linesIterator.exists(l =>
        l.contains("Join") && l.contains("cl#")),
      s"shortlist candidates must join on the cluster id:\n$plan")
  }

  test("tf-idf tokenizes once; as-of and range joins never go all-pairs") {
    // df rides a groupBy+join, not a token-partitioned window (the
    // lmScore doctrine): the invariant is that the exploded token
    // stream is never SORTED by token — the optimizer prunes the df
    // branch into its own (cheap, overlapping) tokenization scan, which
    // is the accepted trade for dropping that full-stream sort.
    val tfidf = planOf(TokenQueries.tfidfTopK(spark, dir).limit(1))
    val scans = tfidf.linesIterator.count(l =>
      l.contains("parquet") && l.contains("documents"))
    assert(scans <= 2, s"tf-idf scans documents at most twice, saw $scans:\n$tfidf")
    assert(!tfidf.linesIterator.exists(l => l.trim.startsWith("Sort [token")),
      s"tf-idf must not sort the token stream (the former df-window shape):\n$tfidf")
    assert(!tfidf.contains("SortMergeJoin"),
      s"the df attach must not shuffle-sort the tf stream:\n$tfidf")

    val asof = planOf(Extensions.asofJoin(spark, dir).limit(1))
    assert(!asof.contains("Join"),
      s"as-of is a union + window, never a join product:\n$asof")

    val range = planOf(Extensions.rangeJoin(spark, dir).limit(1))
    assert(!range.contains("CartesianProduct") &&
        !range.contains("BroadcastNestedLoopJoin"),
      s"banded range join must stay equi:\n$range")

    val winnow = planOf(graft.SparkEntry.queries("q_winnow_pairs")(spark, dir).limit(1))
    assert(!winnow.contains("CartesianProduct") &&
        !winnow.contains("BroadcastNestedLoopJoin"),
      s"winnow candidates must equi-join on the fingerprint:\n$winnow")
  }

  test("token budget windows per range-partition; span dedup equi-joins on the hash") {
    // the cumulative token sum must run WITHIN each range partition
    // (offset added from the driver-side subtotals) — a Window with no
    // partition spec would collapse the corpus onto one task
    val tb = planOf(TokenQueries.tokenBudget(spark, dir).limit(1))
    val winLine = tb.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("__pid"),
      s"prefix-sum window must partition by __pid:\n$tb")

    // the span-dup flag join must be an equi-join on the 8-byte span
    // hash — never a nested-loop or cartesian product — and the span
    // emission must be the native one-pass expression
    val docs = graft.Tables.documents(spark, dir)
    val spans = graft.operators.Dedup.spanPositionRows(docs, "text",
      "doc_id", n = 5)
    val sd = planOf(graft.operators.Dedup.spanDupStatsFrom(spans).limit(1))
    assert(sd.contains("rm_shingle_text"),
      s"expected the native span pass in:\n$sd")
    assert(!sd.contains("CartesianProduct") &&
        !sd.contains("BroadcastNestedLoopJoin"),
      s"span-dup flag join must stay equi:\n$sd")

    // span REMOVAL: covered positions collapse to per-doc sets BEFORE the
    // corpus is touched (collect_set over duplicated-instance rows only),
    // the corpus attaches them through ONE doc-keyed left-outer equi-join
    // (doc-count rows — the pre-round-14 formulation shuffled EVERY token
    // through a (doc, position) anti-join + a collect_list regroup), and
    // the rebuild is an in-row positional filter — never a nested-loop
    // product or a token-level shuffle
    val ss = planOf(graft.operators.Dedup.spanScrubFrom(docs, "text",
      "doc_id", n = 5, spans).limit(1))
    assert(ss.contains("LeftOuter") && ss.contains("collect_set"),
      s"span scrub must attach per-doc covered sets via a left join:\n$ss")
    assert(!ss.contains("CartesianProduct") &&
        !ss.contains("BroadcastNestedLoopJoin"),
      s"span scrub joins must stay equi:\n$ss")
    assert(!ss.contains("LeftAnti") && !ss.contains("collect_list"),
      s"the token-level anti-join/regroup formulation is retired:\n$ss")
    // the rebuild is linear (array_except index set), never a per-token
    // array_contains probe — that form is quadratic in doc length when
    // cov ≈ tokens (round-14 advice)
    assert(!ss.contains("array_contains"),
      s"the quadratic per-token array_contains rebuild is retired:\n$ss")
  }

  test("dedup/ANN hot loops run as native expressions inside WholeStageCodegen") {
    // the interpreted-HOF formulations these replaced sat OUTSIDE codegen;
    // pin both the operator name and its codegen placement
    val docs = graft.Tables.documents(spark, dir)
    val sigPlan = planOf(graft.operators.Dedup.minhashSignaturesFrom(
      graft.operators.Dedup.shingleTable(docs, "text", "doc_id", 3), 64))
    assert(sigPlan.contains("rm_shingle_hashes") && sigPlan.contains("rm_minhash_signature"),
      s"expected native shingle+minhash expressions in:\n$sigPlan")
    // "*(n)" prefixes mark whole-stage-codegen stages in plan toString
    assert(sigPlan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("*(")),
      s"native minhash projection fell out of codegen:\n$sigPlan")

    val simPlan = planOf(graft.operators.Dedup.simhashAgg(docs, "text", "doc_id"))
    assert(simPlan.contains("rm_md5_simhash"), s"expected native simhash in:\n$simPlan")
    assert(!simPlan.contains("Exchange"),
      s"per-row simhash must not shuffle:\n$simPlan")

    val emb = graft.Tables.embeddings(spark, dir)
    val annPlan = planOf(graft.operators.Similarity.bruteForceTopK(emb, "vec_id", "embedding", 5, 3))
    assert(annPlan.contains("rm_cosine_similarity"),
      s"expected native cosine in:\n$annPlan")
    val lshPlan = planOf(graft.operators.Similarity.lshTopK(
      emb, "vec_id", "embedding", 5, 3, planes = 4, tables = 4, dims = 64))
    assert(lshPlan.contains("rm_hyperplane_buckets"),
      s"expected native bucket expression in:\n$lshPlan")
  }

  test("bucketed join: sort-merge with zero Exchange and zero Sort on either side") {
    // the layout claim q_bucket_join exists for: both sides pre-bucketed
    // (and bucket-sorted, one file per bucket) on the order key, so the
    // merge join zips bucket i with bucket i — no shuffle, no sort, ever.
    Relational.bucketJoin(spark, dir).collect() // ensures the bucketed tables
    import org.apache.spark.sql.functions.col
    val li = spark.table(graft.operators.Bucketing.tableFor("graft_bkt_lineitem", dir))
    val o = spark.table(graft.operators.Bucketing.tableFor("graft_bkt_orders", dir))
    val plan = planOf(li.hint("merge")
      .join(o, col("l_orderkey") === col("o_orderkey")))
    assert(plan.contains("SortMergeJoin"),
      s"expected a sort-merge join over the bucketed tables:\n$plan")
    assert(!plan.contains("Exchange"),
      s"co-bucketed join must not shuffle either side:\n$plan")
    // with one sorted file per bucket (what Bucketing's repartition-first
    // write guarantees) the scan may also report its sort order and elide
    // the per-task Sorts — Spark keeps that behind a flag because multi-
    // file buckets can't promise global order
    val orderingConf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(orderingConf, "true")
    try {
      val sortedPlan = planOf(li.hint("merge")
        .join(o, col("l_orderkey") === col("o_orderkey")))
      assert(!sortedPlan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$sortedPlan")
      assert(!sortedPlan.linesIterator.exists(l =>
        l.contains("Sort ") && !l.contains("SortMergeJoin")),
        s"bucket-sorted single-file buckets must stream-merge without Sort:\n$sortedPlan")
    } finally spark.conf.set(orderingConf, "false")
    // bucket pruning: an equality predicate on the bucket key reads 1 of 8
    // buckets (auto-bucketed-scan would disable bucketed reading for a
    // filter-only plan — it only counts distribution needs, not pruning —
    // so pin the behavior with the heuristic off)
    val autoConf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(autoConf, "false")
    try {
      val pruned = planOf(li.filter(col("l_orderkey") === 42))
      assert(pruned.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected bucket pruning on the key predicate:\n$pruned")
    } finally spark.conf.set(autoConf, "true")
  }

  test("pivot and rollup: one parquet scan each; rollup expands, pivot does not") {
    // pinned pivot values: a single scan feeding one aggregation chain —
    // no distinct-discovery job, no Expand (that's rollup's shape)
    val pivotPlan = planOf(Relational.pivotLangs(spark, dir))
    assert(pivotPlan.linesIterator.count(_.contains("FileScan")) == 1,
      s"pivot must read the corpus once:\n$pivotPlan")
    assert(!pivotPlan.contains("Expand"),
      s"pinned-value pivot must not expand rows:\n$pivotPlan")
    // rollup: the 3 grouping sets ride ONE scan through an Expand
    val rollupPlan = planOf(Relational.rollupQty(spark, dir))
    assert(rollupPlan.linesIterator.count(_.contains("FileScan")) == 1,
      s"rollup must read lineitem once:\n$rollupPlan")
    assert(rollupPlan.contains("Expand"),
      s"rollup subtotals must come from one Expand pass, not a union of scans:\n$rollupPlan")
  }

  test("collocations: one corpus scan, broadcast part-frequency lookups") {
    val plan = planOf(graft.operators.TextAnalysis.collocations(
      graft.Tables.documents(spark, dir), "text", minCount = 2))
    // the unigram+bigram tagged stream comes off ONE scan of the corpus —
    // localCheckpoint cuts lineage after the count, so the checkpointed
    // plan must carry no second FileScan and join via broadcast
    assert(!plan.contains("FileScan") || // post-checkpoint: scan already ran
      plan.linesIterator.count(_.contains("FileScan")) <= 1,
      s"collocations must tokenize once:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"part-frequency lookups must broadcast the vocabulary table:\n$plan")
  }

  test("simhash pairs: banded equi-join candidates — no cartesian, popcount in codegen") {
    val plan = planOf(DedupQueries.simhashPairs(spark, dir).limit(1))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"simhash pair generation must never go all-pairs:\n$plan")
    assert(plan.contains("bit_count"),
      s"expected the codegen'd popcount verify in:\n$plan")
  }

  test("survivor labeling broadcasts the component table — the universe never shuffles") {
    import spark.implicits._
    val universe = spark.range(1, 1000).toDF("id")
    val pairs = Seq((2L, 3L), (5L, 6L)).toDF("da", "db")
    val plan = planOf(graft.operators.Dedup.keepRepresentatives(universe, "id", pairs))
    assert(plan.contains("BroadcastHashJoin"),
      s"component labeling must broadcast, got:\n$plan")
    // the only Exchanges allowed are broadcast exchanges (dup-pairs side);
    // a hash-partition Exchange would mean the universe shuffled
    assert(!plan.contains("Exchange hashpartitioning"),
      s"universe side must not shuffle:\n$plan")
  }

  test("bigram-LM gate is a narrow native filter inside WholeStageCodegen") {
    val docs = graft.Tables.documents(spark, dir)
    val model = graft.functions.BigramLmScore.train(docs, "text", topK = 1000)
    val plan = planOf(graft.operators.TextAnalysis.lmGate(docs, "text", model, 0.01))
    assert(plan.contains("rm_bigram_lm_score"),
      s"expected the native LM probe in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the LM gate must be shuffle-free:\n$plan")
    // tree glyphs ("+- ") precede the codegen marker on non-root lines
    assert(plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("*(")),
      s"LM gate filter fell out of codegen:\n$plan")
  }

  test("lmScore corpus counts are groupBy+join — no Window over the gram stream") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = graft.Tables.documents(spark, dir)
    // the gram stream as lmScore builds it (the public entry localCheckpoints
    // the scored table, truncating the observable plan — assert on the
    // package-private un-checkpointed pipeline instead)
    val grams = docs
      .select(col("doc_id"), expr("split(text, ' ')").as("a"))
      .filter(expr("size(a) >= 2"))
      .select(col("doc_id"),
        expr("explode(transform(sequence(0, size(a)-2), i -> " +
          "struct(a[i] AS w1, concat(a[i], ' ', a[i+1]) AS g2)))").as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.g2").as("g2"))
    val plan = planOf(
      graft.operators.TextAnalysis.lmPerDocScores(grams, "doc_id"))
    // count(*) OVER (PARTITION BY g2/w1) shuffles and re-emits every gram
    // occurrence with no map-side combine, on a power-law (skewed) key; the
    // scale-safe shape is vocabulary-sized groupBy counts joined back.
    assert(!plan.contains("Window"),
      s"lmScore must not window over the gram-occurrence stream:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"expected partial-aggregated corpus counts in:\n$plan")
  }

  test("DSIR: one gram pass builds the bucket model; scoring broadcasts it back") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    // the un-checkpointed pipeline (public dsirScores localCheckpoints the
    // scored frame, truncating the observable plan) — lmScore doctrine
    val grams = graft.operators.TextAnalysis.dsirGrams(
      docs, "text", "doc_id", col("lang") === "en", buckets = 4096)
    val counts = graft.operators.TextAnalysis.dsirBucketCounts(grams)
    val countsPlan = planOf(counts)
    // both counts (raw + conditional target) come out of ONE aggregation —
    // no second scan of the gram stream for the target slice
    val aggs = countsPlan.linesIterator
      .count(l => l.contains("HashAggregate") && l.contains("partial"))
    assert(aggs == 1,
      s"bucket counts must be ONE gram aggregation, saw $aggs:\n$countsPlan")
    assert(countsPlan.contains("partial_count") &&
        countsPlan.contains("partial_sum"),
      s"raw + target counts must share the map-side combine:\n$countsPlan")
    assert(!countsPlan.contains("Window"),
      s"no window over the gram stream:\n$countsPlan")

    // totals bake in as driver literals off the materialized B-row table
    val table = graft.operators.TextAnalysis
      .dsirLrTable(counts.localCheckpoint(), 4096)
    val scored = graft.operators.TextAnalysis
      .dsirPerDocScores(grams, table, "doc_id")
    val plan = planOf(scored)
    // the B-row model joins back as a BROADCAST; the only corpus-sized
    // shuffle is the per-(doc, bucket) aggregation
    assert(plan.contains("BroadcastHashJoin"),
      s"the bucket model must broadcast onto the doc counts:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"scoring must not shuffle-join the corpus against the B-row model:\n$plan")
    assert(!plan.contains("Window"), s"no windows in DSIR scoring:\n$plan")
  }

  test("temperature mixture: rates baked as literals, zero-shuffle filter") {
    val plan = planOf(graft.SparkEntry.queries("q_temperature_mixture")(spark, dir))
    // the per-language counts collapse to a CASE literal on the driver;
    // the resample itself must be scan+filter — the ONLY Exchange is the
    // final orderBy's range partitioning
    assert(plan.contains("CASE WHEN"),
      s"expected literal per-language rates in:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"expected exactly the orderBy Exchange, found $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"the mixture filter must not join:\n$plan")
  }

  test("kNN label propagation: partial top-k before the shuffle, broadcast label join") {
    val plan = planOf(graft.SparkEntry.queries("q_knn_labels")(spark, dir))
    // WindowGroupLimit prunes each partition to k rows per query BEFORE
    // the rank shuffle — without it every scored pair shuffles
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must prune before the shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the label lookup must broadcast:\n$plan")
    // the vote is map-side combined: a partial_count before the exchange
    assert(plan.contains("partial_count"),
      s"the vote aggregation must partial-aggregate:\n$plan")
  }

  test("IVF kNN label propagation: cluster-id equi-join neighbors, no all-pairs") {
    val plan = planOf(graft.SparkEntry.queries("q_knn_labels_ivf")(spark, dir))
    // the 100 TB point vs q_knn_labels' exhaustive knnJoin: the neighbor
    // stage must NEVER pair every query with every labeled vector
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
      s"IVF label propagation must never go all-pairs:\n$plan")
    // candidates come from probed clusters: an equi-join on the cluster id,
    // probes via the native centroid argmin, approx scores off the
    // persisted int8 index
    assert(plan.contains("rm_nearest_clusters") &&
        plan.contains("rm_int8_dequantize"),
      s"expected native probe + persisted-index dequantize in:\n$plan")
    assert(plan.linesIterator.exists(l =>
        l.contains("Join") && l.contains("cl#")),
      s"neighbor candidates must equi-join on the cluster id:\n$plan")
    // the vote stage keeps q_knn_labels' shape
    assert(plan.contains("partial_count"),
      s"the vote aggregation must partial-aggregate:\n$plan")
  }

  test("NB classifier: dense model broadcasts; no window over the token stream") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    val isTrain = col("doc_id") % 10 < 8
    val TA = graft.operators.TextAnalysis
    val tk = TA.nbTokenStream(docs, "text", "doc_id", "lang", isTrain, 1024)
    // model counts: ONE map-side-combined aggregation of the token stream
    val cbPlan = planOf(TA.nbCounts(tk))
    assert(cbPlan.contains("partial_count"),
      s"class-bucket counts must map-side combine:\n$cbPlan")
    assert(!cbPlan.contains("Window"),
      s"no window over the token stream:\n$cbPlan")
    // scoring: the C·B model joins back as a BROADCAST hash join; the
    // only nested-loop is the C-row prior attach (the documented tiny
    // crossJoin); nothing shuffle-joins the corpus against the model
    val cb = TA.nbCounts(tk).localCheckpoint()
    val priors = TA.nbPriors(docs, "lang", isTrain).localCheckpoint()
    val model = TA.nbModelTable(cb, priors, 1024)
    val plan = planOf(
      TA.nbScore(tk, docs, priors, model, "doc_id", "lang", isTrain))
    assert(plan.contains("BroadcastHashJoin"),
      s"the dense model must broadcast onto the doc-bucket counts:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian anywhere in NB scoring:\n$plan")
  }

  test("BPE count native runs inside WholeStageCodegen, shuffle-free") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    val TA = graft.operators.TextAnalysis
    val bpe = new graft.functions.BpeMerges(TA.bpeLearn(
      TA.bpeWordCounts(docs, "text", maxWords = 256), numMerges = 10)
      .map(t => (t._1, t._2)))
    val plan = planOf(docs.select(col("doc_id"),
      graft.functions.BpeEncodeCount.count(col("text"), bpe).as("bpe_tokens")))
    assert(plan.contains("rm_bpe_encode_count"),
      s"expected rm_bpe_encode_count in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the BPE count must be a narrow projection:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("*(")),
      s"the BPE probe fell out of whole-stage codegen:\n$plan")
  }

  test("q_bpe_encode: one native codegen scan — only the orderBy exchanges") {
    val plan = planOf(graft.SparkEntry.queries("q_bpe_encode")(spark, dir))
    assert(plan.contains("rm_bpe_encode_count"),
      s"expected the native encoder in:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"expected exactly the orderBy Exchange, found $exchanges:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"encoding must be a pure per-row projection:\n$plan")
  }

  test("q_lexicon_hits: one automaton pass feeds the generator — no lexicon join") {
    val plan = planOf(graft.SparkEntry.queries("q_lexicon_hits")(spark, dir))
    assert(plan.contains("rm_lexicon_counts"),
      s"expected the native automaton pass in:\n$plan")
    assert(plan.contains("Generate"),
      s"expected the per-term generator in:\n$plan")
    assert(!plan.contains("Join"),
      s"terms must fan out from the counts array, not join a lexicon table:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"expected exactly the orderBy Exchange, found $exchanges:\n$plan")
  }

  test("q_pack_bpe: narrow token counting, then one shard shuffle plus the output sort") {
    val plan = planOf(graft.SparkEntry.queries("q_pack_bpe")(spark, dir))
    assert(plan.contains("rm_bpe_encode_count"),
      s"expected the native encoder in:\n$plan")
    assert(!plan.contains("Join"),
      s"the merge table must ride the plan, not join:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 2,
      s"expected the shard window Exchange + the orderBy Exchange, found $exchanges:\n$plan")
  }

  test("q_bm25_topk: one scoring scan into a partial top-k — no global sort, no join") {
    val plan = planOf(graft.SparkEntry.queries("q_bm25_topk")(spark, dir))
    assert(plan.contains("rm_lexicon_counts"),
      s"term frequencies must come from the one-pass automaton:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be the partial TakeOrderedAndProject, not a global sort:\n$plan")
    assert(!plan.contains("Join"),
      s"corpus stats are baked literals — no join in the scoring scan:\n$plan")
  }

  test("q_char_entropy: one narrow native projection — only the orderBy exchanges") {
    val plan = planOf(graft.SparkEntry.queries("q_char_entropy")(spark, dir))
    assert(plan.contains("rm_char_entropy_fx"),
      s"expected the native entropy pass in:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"expected exactly the orderBy Exchange, found $exchanges:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"the entropy histogram is row-local — no aggregate, no join:\n$plan")
  }

  test("q_hybrid_rrf: both legs native, every join input a bounded candidate list") {
    val plan = planOf(graft.SparkEntry.queries("q_hybrid_rrf")(spark, dir))
    assert(plan.contains("rm_lexicon_counts") &&
        plan.contains("rm_cosine_similarity"),
      s"both retrieval legs must run their native passes in:\n$plan")
    // the BM25 leg is a partial top-k and the fused result another one;
    // the dense leg's ranks are WindowGroupLimit-bounded before ranking
    assert(plan.contains("TakeOrderedAndProject(limit=20") &&
        plan.contains("TakeOrderedAndProject(limit=10"),
      s"both top-ks must be partial TakeOrderedAndProject:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"the dense leg must group-limit before ranking:\n$plan")
    // the full-outer fusion join cannot broadcast (Spark restriction) but
    // both its inputs are the ≤depth candidate lists, never the corpus
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian anywhere in the fusion:\n$plan")
  }

  test("q_curation_pipeline: all four natives in one narrow chain — only the dedup window and sort shuffle") {
    val plan = planOf(graft.SparkEntry.queries("q_curation_pipeline")(spark, dir))
    for (fn <- Seq("rm_lexicon_hits", "rm_char_entropy_fx",
        "rm_self_dedup_chunks", "rm_bpe_encode_count"))
      assert(plan.contains(fn), s"expected $fn in the composed chain:\n$plan")
    assert(!plan.contains("Join"),
      s"gates and scrub are row-local — no join anywhere:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 2,
      s"expected the digest-window Exchange + the orderBy Exchange, found $exchanges:\n$plan")
  }

  test("q_dedup_stats: distinct counts aggregate digests — one scan, digest-keyed shuffle") {
    val plan = planOf(graft.SparkEntry.queries("q_dedup_stats")(spark, dir))
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"one corpus scan expected, found $scans:\n$plan")
    // the partial aggregate keys on (source, md5(text)) BEFORE the
    // exchange — full text never shuffles
    assert(plan.contains("md5"),
      s"expected digest-keyed aggregation in:\n$plan")
    assert(plan.contains("partial_count"),
      s"expected map-side partial aggregation in:\n$plan")
  }

  test("q_gate_sweep: the corpus is scanned exactly once — sweep math runs on the 20-row table") {
    val plan = planOf(graft.SparkEntry.queries("q_gate_sweep")(spark, dir))
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1,
      s"the threshold sweep must histogram the corpus in ONE scan, found $scans:\n$plan")
  }

  test("q_self_dedup: one narrow native scrub — only the orderBy exchanges") {
    val plan = planOf(graft.SparkEntry.queries("q_self_dedup")(spark, dir))
    assert(plan.contains("rm_self_dedup_chunks"),
      s"expected the native chunk scrub in:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"expected exactly the orderBy Exchange, found $exchanges:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"the scrub is row-local — no aggregate, no join:\n$plan")
  }

  test("gopher rules: one narrow projection — only the orderBy exchanges") {
    val plan = planOf(graft.SparkEntry.queries("q_gopher_rules")(spark, dir))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1,
      s"expected exactly the orderBy Exchange, found $exchanges:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"the rule gate must be a pure per-row projection:\n$plan")
  }

  test("quality ensemble: histogram ranks broadcast back — corpus never globally sorts for ranking") {
    // qualityEnsemble localCheckpoints its result (truncating the
    // observable plan) — re-derive the un-truncated rank attach from the
    // signal frame instead
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val TA = graft.operators.TextAnalysis
    val nTok = TA.tokenCount(col("text"))
    val sigs = graft.Tables.documents(spark, dir).select(col("doc_id"),
      nTok.as("s_tokens"),
      floor(size(array_distinct(TA.tokens(col("text")))).cast(DoubleType) /
          nTok.cast(DoubleType) * lit(1e6)).cast(LongType).as("s_ttr"),
      floor((col("n_chars") - (nTok - lit(1))).cast(DoubleType) /
          nTok.cast(DoubleType) * lit(1e6)).cast(LongType).as("s_mwl"))
    val ranked = sigs
      .join(broadcast(QualityQueries.rankBySignal(sigs, "s_tokens", "r_tokens")),
        Seq("s_tokens"))
      .join(broadcast(QualityQueries.rankBySignal(sigs, "s_ttr", "r_ttr")),
        Seq("s_ttr"))
      .join(broadcast(QualityQueries.rankBySignal(sigs, "s_mwl", "r_mwl")),
        Seq("s_mwl"))
    val rankedPlan = planOf(ranked)
    // every rank attaches as a broadcast hash join of a histogram frame
    val bhj = rankedPlan.linesIterator
      .count(_.contains("BroadcastHashJoin"))
    assert(bhj == 3,
      s"all three histogram rank tables must broadcast, saw $bhj:\n$rankedPlan")
    // the corpus side itself never sorts or windows: every Window in the
    // plan sits above a HashAggregate (the histogram), none above the scan
    assert(!rankedPlan.contains("SortMergeJoin"),
      s"rank attach must not shuffle-join the corpus:\n$rankedPlan")
  }

  test("q_dedup_weights: cluster sizes attach to the corpus spine by broadcast") {
    val plan = planOf(graft.SparkEntry.queries("q_dedup_weights")(spark, dir))
    // the component/size tables are dup-docs-sized — the corpus-side
    // left join must broadcast them, never shuffle the universe
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"weight attach must be a broadcast left join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus spine must not shuffle for the weight attach:\n$plan")
  }

  test("q_curation_funnel: one scan, three natives, one aggregation — nothing corpus-sized moves") {
    val plan = planOf(graft.SparkEntry.queries("q_curation_funnel")(spark, dir))
    val scans = plan.linesIterator.count(l =>
      l.contains("parquet") && l.contains("documents"))
    assert(scans == 1, s"funnel must scan documents once, saw $scans:\n$plan")
    assert(plan.contains("rm_lexicon_hits") &&
        plan.contains("rm_char_entropy_fx") &&
        plan.contains("rm_self_dedup_chunks"),
      s"all three per-doc verdicts must be native passes:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"the funnel is scan + aggregate only:\n$plan")
  }

  test("q_dsir_select: top-100 is a partial TakeOrderedAndProject, never a global window") {
    val plan = planOf(graft.SparkEntry.queries("q_dsir_select")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection must be the partial top-k, not a global sort:\n$plan")
    assert(!plan.contains("Window"),
      s"no window anywhere in DSIR selection:\n$plan")
  }

  test("quality ensemble selection: partial TakeOrderedAndProject, never a global window") {
    // the declared query localCheckpoints (truncating its observable
    // plan), so assert on the un-checkpointed selection plan directly
    val sigs = graft.Tables.documents(spark, dir).select(
      org.apache.spark.sql.functions.col("doc_id") +:
        QualityQueries.ensembleSignals(
          org.apache.spark.sql.functions.col("text"),
          org.apache.spark.sql.functions.col("n_chars"))
          .map { case (n, c) => c.as(n) }: _*)
    val plan = planOf(QualityQueries.qualityEnsembleSelected(sigs))
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection must be the partial top-k, not a global sort:\n$plan")
    // the only Windows are the cum_below windows over the histogram
    // frames — every window's input subtree must contain the histogram
    // HashAggregate; the corpus-sized ranked frame reaches the top-k
    // without any Window of its own
    val windows = collectWindows(
      QualityQueries.qualityEnsembleSelected(sigs).queryExecution.executedPlan)
    assert(windows.nonEmpty, "expected the histogram cum_below windows")
    windows.foreach { w =>
      assert(w.toString.contains("HashAggregate"),
        s"window not over the histogram aggregate in ensemble selection:\n$w")
    }
  }

  test("q_oov_rate: vocab is a partial top-k that broadcasts onto the token stream") {
    val plan = planOf(graft.SparkEntry.queries("q_oov_rate")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cut must be the partial top-k, not a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocab must broadcast onto the token stream:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no shuffle join for a ${TokenQueries.OovVocabSize}-row vocab:\n$plan")
  }

  test("source overlap: pairs explode from per-gram source sets — no gram self-join") {
    // the declared query localCheckpoints (truncating its observable
    // plan); assert on the un-checkpointed matrix plan directly
    val gs = SharedArtifacts.sourceGrams(graft.Tables.documents(spark, dir))
    val plan = planOf(AuditQueries.sourceOverlapFrom(gs))
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the only joins are the broadcast size attaches:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-source sizes must attach by broadcast:\n$plan")
    assert(plan.contains("Generate"),
      s"pairs must explode in-row from the source sets:\n$plan")
    assert(!plan.contains("Window"), s"no windows in the overlap matrix:\n$plan")
  }

  test("q_event_funnel: one user-keyed aggregate, no windows, no joins") {
    val plan = planOf(graft.SparkEntry.queries("q_event_funnel")(spark, dir))
    assert(!plan.contains("Window"),
      s"the funnel is conditional aggregation, never a window:\n$plan")
    assert(!plan.contains("Join"), s"no joins in the funnel:\n$plan")
    val scans = plan.linesIterator.count(l =>
      l.contains("parquet") && l.contains("events"))
    assert(scans == 1, s"funnel must scan events once, saw $scans:\n$plan")
  }

  test("q_gram_novelty: gram hashes shuffle, gram text never does") {
    import org.apache.spark.sql.functions.{col, explode}
    val plan = planOf(graft.operators.TextAnalysis.gramNoveltyFrom(
      graft.operators.Dedup.shingleTable(graft.Tables.documents(spark, dir),
          "text", "doc_id", n = 3)
        .select(col("doc").as("doc_id"), explode(col("shh")).as("h")),
      "doc_id"))
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"first-owner attribution must be a hash equi-join:\n$plan")
    assert(!plan.contains("Window"), s"no windows in novelty:\n$plan")
  }

  private def collectWindows(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    p match {
      case a: AdaptiveSparkPlanExec => collectWindows(a.executedPlan)
      case other =>
        other.collect { case w: WindowExec => w } ++
          other.collect { case a: AdaptiveSparkPlanExec => a }
            .flatMap(a => collectWindows(a.executedPlan))
    }
  }

  // Justified partition-less-window sites, by declared query name. Every
  // other query's physical plan must be free of Window operators with an
  // empty partition spec — the "moving all data to a single partition"
  // shape that caps a 1000-executor cluster at one task.
  private val justifiedGlobalWindows: Map[String, String] = Map(
    // gateSweep's windows run over the 20-row threshold histogram only
    "q_gate_sweep" -> "windows over the 20-bucket sweep frame",
    // hybridRrf ranks inside HybridDepth-bounded candidate lists
    "q_hybrid_rrf" -> "windows over depth-bounded candidate lists",
    // grand-total share windows over POST-aggregation frames: the
    // single-partition exchange moves ≤ nlist / ≤ sources×langs rows
    "q_cluster_sizes" -> "share window over the ≤nlist post-agg frame",
    "q_ivf_occupancy" -> "share window over the ≤nlist post-agg frame",
    "q_source_mixture" -> "share windows over the sources×langs post-agg frame",
    // the pair_share denominator runs over the ≤|sources|² post-agg
    // counts frame — the former crossJoin against the counts subtree's
    // own aggregate re-executed the whole pair pipeline a second time
    "q_dup_sources" -> "share window over the ≤sources² post-agg frame",
    // the ensemble's percent-rank windows run over each signal's VALUE
    // HISTOGRAM (floor-quantized ⇒ cardinality-bounded — the rankBySignal
    // doctrine, asserted structurally by its own test below). They were
    // always in the executed pipeline; r17's removal of the eager
    // result-checkpoint merely made them visible to this scan.
    "q_quality_ensemble" -> "rank windows over cardinality-bounded value histograms")

  test("q_quality_calibrated: calibration attaches as a broadcast, never a corpus sort-merge") {
    val plan = planOf(QualityQueries.qualityCalibrated(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast calibration attach in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sized shuffle join in the calibration attach:\n$plan")
  }

  test("q_leakage_safe_split: the component table attaches as a broadcast LEFT join") {
    val plan = planOf(SamplingQueries.leakageSafeSplit(spark, dir))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"expected broadcast left-outer unit attach in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sized shuffle join in the split spine:\n$plan")
  }

  test("q_cardinality_audit: one corpus scan, no join; the sketch aggregates map-side") {
    val plan = planOf(AuditQueries.cardinalityAudit(spark, dir))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"expected exactly one documents scan in:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    // HLL partials must combine before the shuffle: a partial_ aggregate
    // mode line containing the approx sketch proves the map-side stage
    assert(plan.contains("partial_approx_count_distinct")
        || plan.contains("approx_count_distinct"),
      s"sketch aggregate missing from:\n$plan")
  }

  test("q_repetition_profile: all nine signals ride one narrow projection — no join, no window, one scan") {
    val plan = planOf(QualityQueries.repetitionProfile(spark, dir))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"expected exactly one documents scan in:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"unexpected join/window in:\n$plan")
    assert(plan.contains("rm_gram_stats"),
      s"native gram-stats pass missing from:\n$plan")
  }

  test("q_normalize_text: a narrow native projection — no join, no aggregate") {
    val plan = planOf(QualityQueries.normalizeText(spark, dir))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"expected exactly one documents scan in:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"unexpected join/aggregate in:\n$plan")
    assert(plan.contains("rm_normalize_text"),
      s"native normalize pass missing from:\n$plan")
  }

  test("q_source_drift: one modality-pairing join; the global centroid attaches broadcast") {
    val plan = planOf(AuditQueries.sourceDrift(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast global-centroid attach in:\n$plan")
    // the only non-broadcast join allowed is the id-keyed modality pairing
    val smj = plan.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"more than the pairing join shuffles:\n$plan")
  }

  test("fleet invariant: no query plan contains a partition-less Window") {
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val plan = q(spark, dir).queryExecution.executedPlan
        collectWindows(plan)
          .filter(_.partitionSpec.isEmpty)
          .filterNot(_ => justifiedGlobalWindows.contains(name))
          .map(w => s"$name:\n  ${w.toString.linesIterator.next()}")
    }
    assert(offenders.isEmpty,
      s"partition-less Window operators found (add to the justified map " +
        s"ONLY with a boundedness argument):\n${offenders.mkString("\n")}")
  }

  // registered last: FunSuite runs tests in order, so every query above has
  // been built by now
  test("artifact outcomes: no read_fallback and no commit_failed on the writable root") {
    val counted = artifactOutcomes.map { case (o, n) =>
      o -> (n - outcomesAtStart.getOrElse(o, 0L)) }.filter(_._2 != 0L)
    assert(counted.values.sum > 0, "the suite's queries never reached an artifact entry point")
    assert(counted.getOrElse("read_fallback", 0L) == 0L &&
      counted.getOrElse("commit_failed", 0L) == 0L,
      s"degraded artifact paths during this suite: $counted")
  }
}
