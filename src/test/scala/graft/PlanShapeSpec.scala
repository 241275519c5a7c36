package graft

/** Structural guarantee over the ENTIRE declared surface: no query
  * may plan a cross product or nested-loop join unless it is on the
  * explicit whitelist below (each entry is a deliberate, documented
  * design choice — a scalar broadcast or an oracle fixture). A new
  * operator that accidentally plans an unblocked n² fails here before
  * it ever reaches a big corpus.
  */
class PlanShapeSpec extends SparkSpec {

  /** Queries allowed to contain BroadcastNestedLoopJoin/Cartesian:
    *  - q_ann_brute: broadcast query panel × streamed corpus with a
    *    non-equi predicate — the exact baseline, corpus never
    *    materializes;
    *  - q_tfidf / q_watermark_filter: scalar (1-row) broadcast factors
    *    joined without a key.
    * (q_ngram_jaccard left this list in round 6: the all-pairs cross
    * join became the posting-list counting join.)
    *
    * Known boundary: joins INSIDE eagerly-checkpointed iterative loops
    * (clusterPairs' label-propagation rounds) have already executed by
    * the time executedPlan is read — the checkpoint truncates them out
    * of the plan text. Those joins are equi-joins by construction
    * (groupBy/join on id); the guard covers every non-iterative stage.
    */
  private val allowed = Set(
    "q_ann_brute", "q_tfidf", "q_watermark_filter",
    "q_lm_score", // scalar (1-row) vocab-size broadcast factor
    "q_ppl_buckets", // inherits lmScored's scalar vocab broadcast
    "q_curriculum", // same lmScored scalar broadcast
    "q_knn_label", // bruteForceTopK baseline — q_ann_brute's shape
    "q_embed_ann", // bruteForceTopK over the 16 learned frame embeddings — same shape
    "q_hard_negatives", // same broadcast-panel shape, label-mismatch predicate
    // broadcast eval-suite panel × streamed corpus, tau filter
    // map-side — only the contaminated sliver shuffles
    "q_decontaminate_semantic",
    "q_index_stats", // 1-row (total, max, k) scalar broadcast factor
    // bruteForceTopK truth side — q_ann_brute's deliberate shape over
    // the fixed 32-query panel
    "q_recall_churn", "q_recall_pq",
    "q_recall_at_k", // grades the LSH index against the brute baseline — inherits both shapes
    "q_bitext_margin", // broadcast label-panel × streamed other-label side (A×B score matrix)
    "q_pagerank", // 1-row (N, base) scalar broadcast factor per iteration
    "q_bm25", "q_rrf_fuse", // 1-row (N, avgdl) corpus-stats broadcast factor
    "q_pmi_pairs", // 1-row total-bigram-count broadcast factor
    "q_zorder_layout", // 1-row (pmax, smax) bucket-scale broadcast factor
    "q_join_estimate", // two 1-row frames (sketch estimate × exact count)
    "q_split_leakage", // 1-row midpoint-timestamp broadcast factor
    "q_corpus_map", // 1-row corpus-total broadcast factor
    "q_psi_drift", // 1-row (max, totals) broadcast factor
    "q_minhash_recall", // three 1-row count frames crossed into the report row
    "q_dedup_tfidf", // 1-row corpus-doc-count broadcast factor in the idf
    // bounded (label-count) centroid side broadcast against a
    // map-only corpus scan — linear in the corpus by design
    "q_nearest_centroid")

  // One sweep, two distinct verdicts: "can't plan" (an ingest/analysis
  // break — round 7's regenerated-testdata ts flip killed 19 queries
  // this way) and "plans badly" (an unlisted n²). Conflating them made
  // the round-7 failure read as a cross-product problem; keep each
  // failure mode its own assertion with its own query names.
  // Formatted explain, NOT executedPlan.toString: toString renders a
  // persisted subtree as an opaque InMemoryTableScan leaf, so a cross
  // product hiding inside a cached stage (tf, funnel prefixes, the
  // semdedup assignment) would be invisible to the sweep. Formatted
  // mode expands cached-relation build plans. Caches drain between
  // queries so one query's registered persist can never substitute an
  // InMemoryRelation into a later query's swept plan.
  private lazy val planSweep: (Map[String, String], Map[String, String]) = {
    val plans = Map.newBuilder[String, String]
    val failures = Map.newBuilder[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try plans += name -> fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      catch { case e: Throwable =>
        failures += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}" }
      InternalCaches.drain()
      spark.catalog.clearCache()
    }
    (plans.result(), failures.result())
  }

  test("every declared query analyzes and plans against the current testdata") {
    val failures = planSweep._2
    assert(failures.isEmpty,
      s"${failures.size} queries fail to plan (ingest/analysis break, NOT a plan-shape problem):\n" +
        failures.toSeq.sortBy(_._1).map { case (n, e) => s"  $n: $e" }.mkString("\n"))
  }

  test("no declared query plans an unlisted cross product or nested loop") {
    val offenders = planSweep._1.toSeq.flatMap { case (name, plan) =>
      val bad = plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct")
      if (bad && !allowed.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unlisted cross-product plans in: ${offenders.map(_.toString).sorted.mkString(", ")}")
  }

  // Plan-shape locks for specific wins: these queries regressed (or
  // nearly did) in past rounds by silently losing a persist or a join
  // strategy; pin the shape so a refactor that re-plans them fails
  // here, not in the bench.

  test("q_decontaminate: one broadcast exchange, shingles read from cache") {
    val plan = SparkEntry.queries("q_decontaminate")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val nBroadcast = "BroadcastExchange".r.findAllIn(plan).length
    // exactly one broadcast: the benchmark-gram set; the corpus side
    // must never broadcast (it is the 100 TB side)
    assert(nBroadcast == 1, s"expected 1 BroadcastExchange, got $nBroadcast:\n$plan")
    // both branches of the persisted shingle frame read the cache —
    // losing this re-runs the tokenize+n-gram stage per branch (the
    // 16.9 s round-3 plan)
    assert(plan.contains("InMemoryTableScan"),
      s"shingle persist not in plan:\n$plan")
    InternalCaches.drain(blocking = true)
    spark.catalog.clearCache()
  }

  test("q_bloom_semi: bloom probe filters the fact scan before the join") {
    val plan = SparkEntry.queries("q_bloom_semi")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the probe must appear as a Filter predicate (scan-side, inside
    // codegen) — if it vanishes, every fact row reaches the join and
    // the operator degenerates to a plain semi join
    assert(plan.contains("bloom_might_contain"),
      s"bloom probe missing from plan:\n$plan")
  }

  test("q_dup_passages: gram doc-counts attach via join, not a window") {
    val plan = SparkEntry.queries("q_dup_passages")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // a Window over the gram key would make every viral gram one
    // unsplittable partition; the join shape stays AQE-skew-splittable
    assert(!plan.contains("Window"), s"window crept into plan:\n$plan")
  }

  test("q_ngram_jaccard: counting-join shape — equi-joins only, bounded exchanges") {
    val plan = SparkEntry.queries("q_ngram_jaccard")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // round 6 replaced the all-pairs cross join with the posting-list
    // counting join (1.68 s → 0.77 s); a regression would reappear as
    // a nested loop or as extra full-pipeline re-computation
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"cross product returned to jaccard plan:\n$plan")
    // the Σdf² intersection is a partial/final aggregate pair over
    // (id_a, id_b); losing it means pairs re-score per shingle row
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"counting aggregate missing:\n$plan")
    val nExchange = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(nExchange <= 8,
      s"exchange count grew to $nExchange (pipeline re-computation?):\n$plan")
  }

  test("q_dedup_simhash: no distinct shuffle after the segment join") {
    val q = SparkEntry.queries("q_dedup_simhash")(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    // the 4-segment pigeonhole join dedups echo pairs ROW-LOCALLY
    // (first-shared-segment filter); a distinct/groupBy after the join
    // would add a pair-keyed shuffle of the whole candidate set. The
    // build side carries 2 aggregate pairs (signature vote + segment
    // rollup) per branch = 4 HashAggregates total; a post-join
    // distinct shows up as a 5th/6th.
    assert("HashAggregate".r.findAllIn(plan).length <= 4,
      s"aggregate appeared after the segment join:\n$plan")
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"segment join degenerated to a cross product:\n$plan")
  }

  test("q_dedup_editdist: length-band candidates join as a hash equi-join") {
    val plan = SparkEntry.queries("q_dedup_editdist")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the candidate generator must stay a key-equi join (shuffled or
    // broadcast hash) on the length band — a nested loop here is the
    // O(n²) failure mode the banding exists to prevent
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin")
        || plan.contains("BroadcastHashJoin"),
      s"no equi-join in editdist plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
      s"editdist planned a cross product:\n$plan")
  }

  test("q_dedup_editdist_lsh: a round-robin exchange spreads the DP") {
    val plan = SparkEntry.queries("q_dedup_editdist_lsh")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the re-spread before levenshtein must be ROUND-ROBIN: a hash
    // repartition on (id_a, id_b) is eliminated as redundant against
    // the candidate distinct's identical partitioning, AQE then
    // coalesces that tiny shuffle to one partition, and the whole
    // O(m·n) DP runs on a single core (measured 3.4 s → 0.85 s at
    // sf0.1 when this exchange is present)
    assert(plan.contains("RoundRobinPartitioning"),
      s"DP re-spread exchange missing from editdist_lsh plan:\n$plan")
  }

  test("q_c4_lines: map-only — the single exchange is the output sort") {
    val plan = SparkEntry.queries("q_c4_lines")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the C4 rules are higher-order column expressions over the line
    // array: no joins, no aggregates — a shuffle here means someone
    // turned a per-row filter into a wide op
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"line filtering grew a wide operator:\n$plan")
    // allowed: the output-sort range exchange + spreadScan's
    // round-robin spread of the single-split smoke-scale scan
    val nExchange = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(nExchange <= 2, s"non-sort exchange in a map-only plan:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"a key shuffle appeared in a map-only plan:\n$plan")
  }

  test("q_line_dedup: line-keyed anti-join, no pair-keyed blowup") {
    val plan = SparkEntry.queries("q_line_dedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // common-line detection and removal must stay keyed on the line
    // value: distinct + count + anti-join + per-doc reassembly. A
    // cross product or a (doc_a, doc_b) pair key is the all-pairs
    // failure the anti-join shape exists to avoid.
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"line dedup planned a cross product:\n$plan")
    val nExchange = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(nExchange <= 8,
      s"exchange count grew to $nExchange (re-computation?):\n$plan")
  }

  test("q_html_extract: map-only — chained regex never grows a wide op") {
    val plan = SparkEntry.queries("q_html_extract")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"markup extraction grew a wide operator:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"a key shuffle appeared in a map-only plan:\n$plan")
  }

  test("q_url_dedup: ONE canonical-key exchange serves both windows") {
    val qe = SparkEntry.queries("q_url_dedup")(spark, sfDir).queryExecution
    val plan = qe.executedPlan.toString
    // canonicalization is per-row regex math; dedup is a window over
    // the canonical key. Group count and keep-best rank share one
    // partitioning, so a second hash exchange means the windows
    // stopped riding the same shuffle.
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"url dedup grew a join/aggregate:\n$plan")
    val nHash = "hashpartitioning".r.findAllIn(plan).length
    assert(nHash == 1, s"expected 1 canonical-key exchange, got $nHash:\n$plan")
    // column pruning reaches the scan: url synthesis needs only
    // doc_id + the quality column
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("doc_id") && scan.contains("n_chars")
        && !scan.contains("text"),
      s"scan reads more than the two needed columns: $scan")
  }

  test("q_domain_stats: two-phase distinct aggregate, nothing wider") {
    val plan = SparkEntry.queries("q_domain_stats")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // exact count(distinct canon_url) per domain costs exactly two
    // hash exchanges ((domain, canon) partial then domain final);
    // a third means the per-row canonicalization got re-planned wide
    assert(!plan.contains("Join"), s"domain stats grew a join:\n$plan")
    val nHash = "hashpartitioning".r.findAllIn(plan).length
    assert(nHash <= 2, s"distinct-agg should need ≤2 hash exchanges, got $nHash:\n$plan")
  }

  test("q_join_salted: salt fan-out present, join keyed on (key, salt)") {
    val plan = SparkEntry.queries("q_join_salted")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the build side must replicate via explode (the salt fan-out) and
    // the join key must include __salt — without both, one hot order
    // key would land on a single reducer
    assert(plan.contains("Generate explode"),
      s"build-side salt replication missing:\n$plan")
    assert(plan.contains("__salt"),
      s"join not keyed on the salt:\n$plan")
  }

  test("weighted/exact-k samples plan as TakeOrderedAndProject, no full sort") {
    for (q <- Seq("q_sample_k", "q_sample_weighted")) {
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      // per-partition top-k with a k·P driver merge; a global Sort +
      // Limit here would shuffle the whole corpus at 100 TB
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q lost the top-k shape:\n$plan")
    }
  }

  test("shuffleShard: one shard-hash exchange, per-shard local sorts, " +
      "no global sort") {
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    val plan = graft.operators.Sharding
      .shuffleShard(docs, "doc_id", 8)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange [a-z]+partitioning".r
      .findAllIn(plan).toSeq
    // the training-export contract: the ONLY wide operation is the
    // hash partition on shard; ordering is per-shard (window-local
    // Sort, global=false), so 100 TB export never ranges-partitions
    assert(exchanges.length == 1 && exchanges.head.contains("hashpartitioning"),
      s"expected exactly one hash exchange:\n$plan")
    assert("Sort \\[[^\\]]*\\], true".r.findFirstIn(plan).isEmpty,
      s"global sort leaked into shuffleShard:\n$plan")
  }

  /** The tokenize→gram→md5 stage under the dup-gram family feeds two
    * consumers (doc-count aggregate + join-back). Reuse only shows in
    * the POST-execution adaptive plan, so these locks collect first.
    */
  private def executedAdaptive(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
  }

  test("q_dup_spans: gram pipeline computes ONCE — exchange reused, single scan") {
    val ep = executedAdaptive("q_dup_spans")
    // the explicit isnotnull(__fp) keeps both exchange subtrees
    // canonical-equal; losing it silently doubles the whole
    // tokenize+gram+md5 stage (regression this lock exists to catch)
    assert(ep.contains("Reused"), s"no reused stage in:\n$ep")
    assert("Scan parquet".r.findAllIn(ep).length == 1,
      s"documents scanned more than once:\n$ep")
  }

  test("q_scrub_dup_spans: gram pipeline reused; no window; bounded scans") {
    val ep = executedAdaptive("q_scrub_dup_spans")
    assert(ep.contains("Reused"), s"no reused stage in:\n$ep")
    // one scan for the gram pipeline + one for the token-array join
    assert("Scan parquet".r.findAllIn(ep).length <= 2,
      s"gram pipeline re-computed:\n$ep")
    // covered-position cut is per-row HOF math — a Window here would
    // mean a token-level fan-out crept in
    assert(!ep.contains("Window"), s"window crept into scrub plan:\n$ep")
  }

  test("q_source_overlap: row-local pair fan-out — no window, no gram self-join") {
    val plan = SparkEntry.queries("q_source_overlap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // pairs explode from each gram's collected source array; a window
    // (old df-cap shape) or a gram-keyed self-join would reintroduce
    // the full-gram sort / m²-per-gram shuffle the cap exists to bound
    assert(!plan.contains("Window"), s"window in source-overlap plan:\n$plan")
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"cross product in source-overlap plan:\n$plan")
    // joins remaining are the two broadcast total-attachments
    assert("(SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(plan).isEmpty,
      s"shuffled join crept into source-overlap plan:\n$plan")
  }

  /** Scan-count locks from the round-8 plan review. Formatted explain
    * expands cached-relation BUILD plans, so these counts see through
    * InMemoryRelations: a lost persist that silently duplicates a
    * tokenize/stage subtree per consumer shows up as extra file scans
    * here (q_tfidf planned TWO full tokenize passes and q_funnel SIX
    * events scans before the review).
    */
  private def scanCount(name: String, tableFile: String): Int = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val ep = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    InternalCaches.drain()
    spark.catalog.clearCache()
    ("InMemoryFileIndex \\[[^\\]]*" + tableFile + "\\.parquet").r
      .findAllIn(ep).length
  }

  test("q_tfidf: one tokenize pass — the tf cache feeds df and the join") {
    val n = scanCount("q_tfidf", "documents")
    assert(n <= 2, s"documents scanned $n times (cache build + count is 2)")
  }

  test("q_funnel: one pushed-filter events scan per stage, prefixes cached") {
    val n = scanCount("q_funnel", "events")
    assert(n == 3, s"events scanned $n times for a 3-stage funnel")
  }

  test("q_ngram_jaccard: set sizes ride the posting rows — no size-lookup rescans") {
    val n = scanCount("q_ngram_jaccard", "documents")
    assert(n <= 2, s"documents scanned $n times (reused-exchange pair is 2)")
  }

  test("q_lm_score: vocabulary derives from the bigram aggregate, not a rescan") {
    val n = scanCount("q_lm_score", "documents")
    assert(n <= 1, s"documents scanned $n times (bigram cache build is 1)")
  }

  test("q_dsir_weights: one tokenize pass — doc-bucket cache feeds model and scoring") {
    val n = scanCount("q_dsir_weights", "documents")
    assert(n <= 1, s"documents scanned $n times (doc-bucket cache build is 1)")
  }

  test("q_ppl_buckets: lm pipeline cached once plus a lang projection") {
    val n = scanCount("q_ppl_buckets", "documents")
    assert(n <= 2, s"documents scanned $n times (bigram cache + lang projection is 2)")
  }

  test("q_select_corpus: two pushed-filter corpus scans, keys-only cache after") {
    val n = scanCount("q_select_corpus", "documents")
    assert(n <= 2,
      s"documents scanned $n times (dsir cache build + semi-join back is 2)")
  }

  test("q_dsir_weights_indexed: one corpus scan — the model loads from parquet") {
    val n = scanCount("q_dsir_weights_indexed", "documents")
    assert(n <= 1, s"documents scanned $n times (score pass is 1)")
  }

  test("q_mixture_alpha: two cheap projections — counts and the rank pass") {
    val n = scanCount("q_mixture_alpha", "documents")
    assert(n <= 2, s"documents scanned $n times (counts + rank is 2)")
  }

  test("q_hard_negatives: one scan per side of the broadcast panel join") {
    val n = scanCount("q_hard_negatives", "embeddings")
    assert(n <= 2, s"embeddings scanned $n times (query panel + corpus is 2)")
  }

  test("q_bm25: one tokenize pass — postings cache feeds df, dl, stats, and scoring") {
    val n = scanCount("q_bm25", "documents")
    assert(n <= 1, s"documents scanned $n times (postings cache build is 1)")
  }

  test("q_rrf_fuse: both rankers read the one postings cache") {
    val n = scanCount("q_rrf_fuse", "documents")
    assert(n <= 1, s"documents scanned $n times (postings cache build is 1)")
  }

  test("q_bitext_margin: one scan per label side") {
    val n = scanCount("q_bitext_margin", "embeddings")
    assert(n <= 2, s"embeddings scanned $n times (side A + side B is 2)")
  }

  test("q_recall_at_k: bounded panel/corpus scans across both pipelines") {
    val n = scanCount("q_recall_at_k", "embeddings")
    assert(n <= 5,
      s"embeddings scanned $n times (brute 2 + lsh 2 + report panel 1 is 5)")
  }

  test("q_pmi_pairs: one tokenize pass — marginals derive from the pair cache") {
    val n = scanCount("q_pmi_pairs", "documents")
    assert(n <= 1, s"documents scanned $n times (bigram cache build is 1)")
  }

  test("q_phrase_hits: one postings pass for every phrase arity") {
    val n = scanCount("q_phrase_hits", "documents")
    assert(n <= 1, s"documents scanned $n times (postings pass is 1)")
  }

  test("q_triangle_count: lineitem read only for the edge-list build") {
    val n = scanCount("q_triangle_count", "lineitem")
    assert(n <= 2,
      s"lineitem scanned $n times (co-order self-join pair is 2)")
  }

  test("q_zorder_layout: maxima + stats in two scans, no per-bit rescans") {
    val n = scanCount("q_zorder_layout", "lineitem")
    assert(n <= 2, s"lineitem scanned $n times (maxima + interleave is 2)")
  }

  test("q_dedup_incremental: only the arriving batch re-tokenizes — corpus from the index") {
    val n = scanCount("q_dedup_incremental", "documents")
    assert(n <= 2,
      s"documents scanned $n times (batch banding ≤ 2; corpus side reads the persisted artifact)")
  }

  test("single-pass reports: one corpus scan each") {
    // the audit/report family's whole scale story is ONE pass over
    // the fact table into a bounded aggregate — lock it per query
    for ((q, t) <- Seq(
      "q_shard_manifest" -> "documents",
      "q_distinct_ngrams" -> "documents",
      "q_psi_drift" -> "documents",
      "q_corpus_expectations" -> "documents",
      "q_langid_eval" -> "documents",
      "q_quality_calibration" -> "documents",
      "q_embedding_expectations" -> "embeddings",
      "q_sessionize_window" -> "events")) {
      val n = scanCount(q, t)
      assert(n <= 1, s"$q scanned $t $n times (one pass expected)")
    }
  }

  test("AQE skew split fires on a hot-key sort-merge join") {
    // the round-10 skew stress (SCALING.md "Skew stress") in
    // miniature: one key holds ~50% of the
    // probe side, broadcast is fenced off (at 100 TB the build side
    // isn't small), and the skew thresholds are scaled to the fixture
    // volume the way that stress scaled them to the corpus. The lock is
    // that the FINAL adaptive plan carries the skew-split marker —
    // proof the runtime mitigation actually engages on skewed input,
    // not just that the config is set.
    import org.apache.spark.sql.functions._
    // 90% of probe rows on one key; payload is a hash so the skewed
    // shuffle partition's BYTE size (what the AQE thresholds compare)
    // can't compress away under the fixture's row count
    val probe = spark.range(0, 2000000).select(
      when(col("id") % 10 < 9, lit(7L)).otherwise(col("id")).as("k"),
      xxhash64(col("id")).as("payload"))
    val build = spark.range(0, 1000).select(
      col("id").as("k"), xxhash64(col("id") * 2).as("w"))
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      // coalescing first would merge the small partitions and can mask
      // the split decision at fixture volume
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the consumer is a partial-agg count (no required distribution):
      // a downstream key-partitioned consumer would make AQE reject the
      // split as "introduces an extra shuffle" — the same reason
      // saltedEquiJoin exists as the declarative fallback
      val df = probe.join(build, Seq("k"))
        .agg(count(lit(1)).as("n"))
      df.collect()
      val ep = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      assert(ep.contains("skew=true") || ep.contains("skewed"),
        s"AQE skew split did not fire on a hot-key join:\n$ep")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("incremental IVF probe: the tombstone mask is a broadcast " +
      "anti-join — the corpus-sized postings never shuffle for a delete") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val cents = operators.Similarity.ensureKmeansQuantizer(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfplan").toString
    operators.Similarity.appendIvfIncrement(spark, dir, e, cents, 0L)
    operators.Similarity.deleteIvfIncrement(spark, dir,
      e.filter(col("vec_id") < 4).select("vec_id"), 1L)
    val plan = operators.Similarity.probeIvfIncremental(spark, dir, cents,
        e.filter(col("vec_id") < 32), k = 3)
      .queryExecution.executedPlan.toString
    val anti = plan.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(anti.nonEmpty, s"tombstone anti-join missing from plan:\n$plan")
    assert(anti.forall(_.contains("BroadcastHashJoin")),
      s"tombstone mask shuffles the postings instead of broadcasting " +
        s"the churn-sized delete set:\n$plan")
    // the probe itself stays a hash equi-join — no cross product ever
    assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
      s"incremental probe degenerated to a cross product:\n$plan")
  }

  test("q_containment: four consumers, ONE executed gram exchange") {
    // the capped counting join feeds 4 subtrees (both join sides +
    // both size frames) — the formatted text shows 4 scans, but the
    // window's g-keyed exchange must dedupe at execution so the
    // tokenize+shingle stage runs once
    val ep = executedAdaptive("q_containment")
    assert(ep.contains("Reused"), s"no reused stage in:\n$ep")
    assert("Scan parquet".r.findAllIn(ep).length <= 1,
      s"executed plan scans documents more than once:\n$ep")
  }
}
