package graft

/** Physical-plan regression tests: the scale properties the catalog relies
  * on — dims broadcast, filters pushed to the parquet scan, columns pruned,
  * no accidental cartesian products — pinned as assertions so a refactor
  * that silently degrades a plan fails CI, not a cluster. (BucketingSpec
  * does the same for exchange-free bucketed joins.) */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    spark.catalog.clearCache() // some catalog entries persist intermediates
    p
  }

  test("q5_region_revenue: dim joins are broadcast, no cartesian product") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q1_pricing_summary: shipdate predicate reaches the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"),
      s"filter not pushed to scan:\n$p")
  }

  test("etl_head_tail: scan reads only the projected columns") {
    val p = plan("etl_head_tail")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning lost:\n$p")
  }

  test("etl_fact_resolve: dim lookups broadcast") {
    val p = plan("etl_fact_resolve")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast SKEY joins:\n$p")
  }

  test("fast minhash dedup: bucket equi-join, never a cartesian") {
    val p = plan("dedup_minhash_fast")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("dedup_fuzzy_weighted: the df weight lookup broadcasts — no " +
      "token-keyed JOIN exchange (stop tokens would hot-key it at scale)") {
    val p = plan("dedup_fuzzy_weighted")
    // the vocab AGGREGATE still exchanges (post-partial-agg, vocabulary-
    // sized rows — harmless); the hot-key risk is the pair-token JOIN, so
    // the pin is on the join strategy: broadcast, never shuffled, on _fj_t
    assert(p.contains("BroadcastHashJoin [_fj_t"),
      s"weight lookup must be a broadcast join on the token:\n$p")
    assert(!p.contains("SortMergeJoin [_fj_t") &&
        !p.contains("ShuffledHashJoin [_fj_t"),
      s"weight join must broadcast the vocab, not shuffle on the token:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("dedup_fuzzy_weighted_served: the store never shuffles — the " +
      "probe's banded candidates broadcast against the streamed store") {
    val p = plan("dedup_fuzzy_weighted_served")
    assert(p.contains("BroadcastHashJoin [band"),
      s"the (band, v) candidate join must broadcast the batch side:\n$p")
    assert(!p.contains("SortMergeJoin [band") &&
        !p.contains("ShuffledHashJoin [band"),
      s"the served store must stream, never shuffle on the band key:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("etl_partitioned_scan: the purchase filter prunes partitions at the scan") {
    val p = plan("etl_partitioned_scan")
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      s"partition pruning lost:\n$p")
  }

  test("decontaminate: probe n-grams are broadcast") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_embedding_lsh_rot: every join keyed on a bucket, no cartesian") {
    val p = plan("dedup_embedding_lsh_rot")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"unexpected nested loop:\n$p")
  }

  test("decontaminate_join: gram-keyed hash join, never a broadcast") {
    val p = plan("decontaminate_join")
    assert(p.contains("ShuffledHashJoin"), s"expected a shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"the join twin must not broadcast:\n$p")
  }

  test("chunkWords is a pure generator projection — no exchange at all") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.ext.TextStats.chunkWords(docs, "doc_id", "text", 32, 24)
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"expected a generator node:\n$p")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("chunkParagraphs is a pure generator projection — no exchange at all") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.ext.TextStats
      .chunkParagraphs(docs, "doc_id", "text", maxTokens = 25, sep = " a ")
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"expected a generator node:\n$p")
    assert(!p.contains("Exchange"), s"paragraph chunking must not shuffle:\n$p")
  }

  test("dedup_spans: ownership is a partial-aggregated groupBy, never a window") {
    // the windowed ownership form ships every occurrence of a boilerplate
    // span into ONE task; the groupBy form must show map-side partial_min
    val p = plan("dedup_spans")
    assert(!p.contains("Window"), s"span ownership regressed to a window:\n$p")
    assert(p.contains("partial_min"), s"expected map-side partial aggregation:\n$p")
  }

  test("dedup_spans_anchored: generator chunking + partial-aggregated ownership") {
    val p = plan("dedup_spans_anchored")
    assert(p.contains("Generate"), s"expected a generator for the chunking:\n$p")
    assert(!p.contains("Window"), s"span ownership regressed to a window:\n$p")
    assert(p.contains("partial_min"), s"expected map-side partial aggregation:\n$p")
  }

  /** Total "shuffle bytes written" across every exchange of an executed
    * plan (AQE stages and reused exchanges included). SQLMetrics are
    * accumulators merged on task completion, which the DAGScheduler
    * processes before the action returns — no listener-bus race. */
  private def shuffleBytesWritten(df: org.apache.spark.sql.DataFrame): Long = {
    // drive df's OWN QueryExecution (df.count() would plan and execute a
    // separate aggregate query whose metrics live on different plan nodes)
    df.queryExecution.toRdd.count()
    def sum(p: org.apache.spark.sql.execution.SparkPlan): Long = {
      val own = p.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
      val below = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          sum(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          sum(q.plan)
        case other => other.children.map(sum).sum
      }
      own + below
    }
    sum(df.queryExecution.executedPlan)
  }

  test("dedup_spans_hashed exchanges fewer bytes than the text-keyed form") {
    // the hash-keyed ownership shuffles fixed-width (hash, id, chunk_no)
    // rows and re-derives survivor text from the doc's own text, so corpus
    // text crosses at most one exchange instead of two — the measured
    // claim behind Dedup.dedupSpansHashed's scaladoc
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val texted = shuffleBytesWritten(
      graft.ext.Dedup.dedupSpans(docs, "doc_id", "text", window = 16))
    val hashed = shuffleBytesWritten(
      graft.ext.Dedup.dedupSpansHashed(docs, "doc_id", "text", window = 16))
    assert(hashed > 0, "expected the hashed form to report shuffle metrics")
    assert(hashed < texted * 0.8,
      s"hash-keyed span dedup must exchange fewer bytes: $hashed vs $texted")
  }

  test("sim_topk_ivf_filtered: eligibility predicate reaches the parquet scan") {
    val p = plan("sim_topk_ivf_filtered")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,2)"),
      s"label predicate not pushed to the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q_interval_overlap: bucketized to an equi-join, no product") {
    val p = plan("q_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval overlap must stay a cell-keyed equi-join:\n$p")
  }

  test("q_funnel_depth: step filter reaches the scan; one exchange, no window") {
    val p = plan("q_funnel_depth")
    assert(p.contains("PushedFilters") && p.contains("In(event_type"),
      s"step isin-filter not pushed to the events scan:\n$p")
    // presentation orderBy adds a rangepartitioning exchange; the fold
    // itself must cost exactly the one user-keyed hash exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"funnel fold must cost exactly one user-keyed exchange:\n$p")
    assert(!p.contains("Window"), s"no window in the funnel fold:\n$p")
  }

  test("q_bloom_join: probe rows are bloom-filtered before the join") {
    val p = plan("q_bloom_join")
    assert(p.contains("graft_bloom_might_contain"),
      s"expected the bloom probe filter in the plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("bloom prefilter cuts probe-side shuffle bytes when broadcast is off") {
    // the operator's reason to exist: build side too big to broadcast →
    // shuffle join forced → the bloom drops never-matching probe rows
    // BEFORE the exchange. p_size <= 3 matches ~6% of parts, so the probe
    // shuffle should collapse; assert at a lax 2× to stay flake-proof.
    import org.apache.spark.sql.functions._
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    try {
      val probe = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val build = spark.read.parquet(s"$sf/part.parquet")
        .where(col("p_size") <= 3)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      val plainBytes = shuffleBytesWritten(probe.join(build, Seq("partkey")))
      val bloomBytes = shuffleBytesWritten(graft.ext.BloomJoin
        .prefilteredEquiJoin(probe, build, "partkey",
          expectedBuildItems = 1L << 14))
      assert(plainBytes > 0, "expected the plain shuffle join to report metrics")
      assert(bloomBytes < plainBytes / 2,
        s"bloom prefilter must cut the probe shuffle: $bloomBytes vs $plainBytes")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("qualityGates and stripMarkup are zero-exchange projections") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val g = graft.ext.TextStats.qualityGates(docs, "doc_id", "text",
      Seq("data", "table"))
    val p1 = g.queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), s"quality battery must not shuffle:\n$p1")
    val m = docs.select(graft.ext.TextStats.stripMarkup(col("text")))
    val p2 = m.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"), s"markup strip must not shuffle:\n$p2")
  }

  test("dedup_survivors_quality: partial-aggregated max(struct), never a window") {
    // the rank-window survivor choice would buffer every member of a
    // mega-cluster in one task; the struct-max form must show map-side
    // partials and no Window anywhere in the plan
    val p = plan("dedup_survivors_quality")
    assert(p.contains("partial_max"), s"expected map-side partial max:\n$p")
    assert(!p.contains("Window"), s"survivor choice regressed to a window:\n$p")
  }

  test("sim_topk_ivfpq: cell-keyed broadcast join, never a cartesian") {
    val p = plan("sim_topk_ivfpq")
    assert(p.contains("BroadcastHashJoin"), s"expected cell-keyed probe join:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("dedup_incremental: bloom probe filter + broadcast joins, store never shuffled") {
    val p = plan("dedup_incremental")
    assert(p.contains("might_contain"), s"expected the bloom probe filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"confirm/anti joins must broadcast the candidate side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the store side must never be exchanged for a join:\n$p")
  }

  test("sim_topk_graph: final ranking is bucket/id-keyed joins, never a cartesian") {
    // the deliberate exception is the ENTRY step's broadcast-queries ×
    // corpus-sample cross (the sim_topk shape) — it runs in the eager beam
    // jobs, not in the returned plan; the final plan must be equi-joins
    val p = plan("sim_topk_graph")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"expected keyed candidate joins:\n$p")
  }

  test("sample_shuffle: distributed range-partitioned sort, never a window") {
    // the global pseudo-random reorder must be Spark's distributed orderBy
    // (balanced range partitions over uniform md5 keys) — a row_number
    // window or a coalesce(1) would serialize the corpus through one task
    val p = plan("sample_shuffle")
    assert(p.contains("rangepartitioning"), s"expected a range exchange:\n$p")
    assert(p.contains("Sort"), s"expected a distributed sort:\n$p")
    assert(!p.contains("Window"), s"global order must not use a window:\n$p")
  }

  test("fact assembly at a replicated scale-up never routes through the unpartitioned window") {
    // The pipeline's fact path (StarStore.runBatch → Fact.resolveSkeys →
    // Fact.withFactIdsScalable) must stay broadcast-joined and id-assigned
    // via zipWithIndex: a 100× fact pushed through the deterministic
    // row_number().over(Window.orderBy) twin would serialize the WHOLE
    // batch into one task — the classic silent scale-killer this test pins
    // out of the pipeline. Same composition, replicated input.
    import graft.etl.{Dims, Fact}
    import org.apache.spark.sql.functions._
    val base = (1 to 50).map(i => (s"20230101${"%04d".format(i)}",
      s"P${i % 3}", s"S${i % 4}", s"T$i"))
    import spark.implicits._
    val cleaned = base.toDF("DATETIME", "PLATFORM", "SITE", "TITLE")
      .crossJoin(spark.range(100).select(col("id").as("_rep"))).drop("_rep")
      .repartition(8)
    // materialize the dims (tiny by construction) so their own legitimate
    // row_number windows don't appear in the fact plan under test — the
    // assert below must pin the FACT side window-free
    def dim(naturalKey: String, skeyCol: String) = {
      val d = Dims.build(cleaned, naturalKey, skeyCol)
      spark.createDataFrame(
        java.util.Arrays.asList(d.collect(): _*), d.schema)
    }
    val resolved = Fact.resolveSkeys(cleaned,
      dim("DATETIME", "DATETIME_SKEY"), dim("PLATFORM", "PLATFORM_SKEY"),
      dim("SITE", "SITE_SKEY"), dim("TITLE", "TITLE_SKEY"))
    val rp = resolved.queryExecution.executedPlan.toString
    assert(rp.contains("BroadcastHashJoin"), s"dim lookups must broadcast:\n$rp")
    assert(!rp.contains("SortMergeJoin") && !rp.contains("ShuffledHashJoin"),
      s"the fact side must not shuffle for dim joins:\n$rp")
    assert(!rp.contains("Window"), s"no window in SKEY resolution:\n$rp")
    val fact = Fact.withFactIdsScalable(resolved, existingMax = 1000L)
    // zipWithIndex preserves the batch's partitioning — ids are assigned in
    // every partition in parallel (a global row_number window would
    // serialize them through one)
    assert(fact.rdd.getNumPartitions === resolved.rdd.getNumPartitions,
      "scalable factid assignment must not collapse partitioning")
    val Array((n, distinct, lo, hi)) = fact
      .agg(count(lit(1)), countDistinct(col("factid")),
        min(col("factid")), max(col("factid")))
      .as[(Long, Long, Long, Long)].collect()
    assert(n === 5000L && distinct === n) // unique
    assert(lo === 1001L && hi === 1000L + n) // contiguous from existingMax
  }

  test("text_lm_score: cf vocabulary broadcast below the threshold, shuffle join above") {
    // auto-broadcast off: at sf0.001 Catalyst's own stats would broadcast
    // ANY join side, masking what is being pinned here — that the
    // OPERATOR's explicit hint (driven by its vocab count) decides the plan
    val abKey = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(abKey)
    try {
      spark.conf.set(abKey, "-1")
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      // vocab ≪ the default threshold → hinted broadcast hash join: no
      // token-keyed exchange for hot-token skew to live in
      val p = graft.ext.TextStats.corpusFrequencyScore(docs, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"cf side must broadcast:\n$p")
      // the valve: threshold 0 (a too-large-to-broadcast vocabulary) must
      // fall back to the shuffle join
      val fp = graft.ext.TextStats.corpusFrequencyScore(
          docs, "doc_id", "text", maxBroadcastVocab = 0L)
        .queryExecution.executedPlan.toString
      assert(!fp.contains("BroadcastHashJoin"),
        s"threshold 0 must fall back to the shuffle join:\n$fp")
    } finally {
      spark.conf.set(abKey, old)
      spark.catalog.clearCache()
    }
  }

  test("etl_scd2_resolve: asof carry plans keyed exchanges + window, never an interval join") {
    val p = plan("etl_scd2_resolve")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"point-in-time resolve must not plan a range join:\n$p")
    assert(p.contains("Window"), s"expected the per-key asof carry window:\n$p")
  }

  test("etl_gap_fill: grid join keyed on (key, minute), never a cartesian or calendar cross join") {
    val p = plan("etl_gap_fill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid must come from the per-key aggregate, not a calendar product:\n$p")
    assert(p.contains("Window"), s"expected the per-key carry window:\n$p")
  }

  test("text_bm25_topk: query terms broadcast, every join keyed, no product") {
    val p = plan("text_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast query terms:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay token/doc-keyed:\n$p")
  }

  test("sim_hybrid_topk: fusion adds no join — only the retrievers' own") {
    val p = plan("sim_hybrid_topk")
    // the dense brute-force scorer owns the single permitted scan-wide
    // product; BM25 candidate generation stays keyed; the RRF layer itself
    // is union + aggregate, so no join class may appear more than the two
    // retrievers already plan
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nlj <= 1, s"fusion must not add a product beyond the dense scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected BM25's keyed joins:\n$p")
    assert(p.contains("Union"), s"expected the fusion union:\n$p")
  }

  test("sim_topk_refined: one scan-wide product only; rerank joins are keyed") {
    val p = plan("sim_topk_refined")
    // the broadcast-queries corpus scan (stage 1) is the single permitted
    // nested-loop product; the rerank stage must reach the corpus via a
    // keyed equi-join on the shortlist ids, never a second scan-wide product
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nlj <= 1, s"rerank must not plan a second scan-wide product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"expected keyed rerank joins:\n$p")
  }

  test("dedup_semantic: cell assignment is a projection; the pair join is cell-keyed") {
    val p = plan("dedup_semantic")
    // centroids ride as a literal, so assignment must not plan a
    // centroid join or window — and the candidate join is keyed on the
    // cell, never a product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell comparison must stay a cell-keyed equi-join:\n$p")
    assert(!p.contains("Window"), s"assignment must be a pure projection:\n$p")
  }

  test("text_lm_bigram: all three count frames broadcast, no token-keyed shuffle join") {
    val p = plan("text_lm_bigram")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"c2/c1(w1)/c1(w2) must all broadcast under the asserted cap:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no token-keyed shuffle join may remain:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q_topk_window: bounded-heap aggregate, not a full-segment sort window") {
    val p = plan("q_topk_window")
    // the rank-window shape would show a Window node sorting every order of
    // a segment in one partition; the aggregator shape must not
    assert(!p.contains("Window"), s"expected the TopK aggregate, got a window:\n$p")
    assert(p.contains("Aggregate"), s"expected partial/final aggregate nodes:\n$p")
  }

  test("text_lm_trigram: all five count frames broadcast, no token-keyed shuffle join") {
    val p = plan("text_lm_trigram")
    // c3 + c2(w1,w2) + c2(w2,w3) + c1(w2) + c1(w3) under the asserted cap
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 5,
      s"all five reference count joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no token-keyed shuffle join may remain:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("text_url_parse: a single projection over the scan — no join, no window") {
    val p = plan("text_url_parse")
    // parse + canonicalize must not plan joins, windows, or aggregates;
    // the only exchange is the final determinism sort's range partitioning
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("HashAggregate"),
      s"URL parse must stay a zero-shuffle projection before the sort:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"only the output sort may exchange:\n$p")
  }

  test("sim_topk_ivfpq_fixed: cell-keyed broadcast probe join, no product") {
    val p = plan("sim_topk_ivfpq_fixed")
    // centroids and codebook ride as literals; candidates reach the ADC
    // via an equi-join on the probed cell, never a scan-wide product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ candidates must come from the cell equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
  }

  test("curation_host_rank: every join keyed (stride edges + rank join), no product") {
    val p = plan("curation_host_rank")
    // stride self-joins key on doc_id and the rank joins key on node/host
    // ids — nothing in this row may plan a product of any kind
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no product may appear anywhere in the host-rank plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"host rank must join back to documents via broadcast:\n$p")
  }

  test("text_quality_classifier: one native projection over the scan, no shuffle before the sort") {
    val p = plan("text_quality_classifier")
    assert(p.contains("graft_hashed_linear_score"),
      s"classifier must plan the native kernel:\n$p")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("HashAggregate"),
      s"classifier inference is scan-level — no join/window/agg:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"only the output sort may exchange:\n$p")
  }

  test("text_unigram_diversity: row-local fold, no join/window/agg") {
    val p = plan("text_unigram_diversity")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate") && !p.contains("Generate"),
      s"diversity signals are a per-row fold — no join/window/agg/explode:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"only the output sort may exchange:\n$p")
  }

  test("bm25TopK: the corpus-derived exchanges carry only query-term " +
      "postings (broadcast semi-join below every aggregate)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = Seq((0L, "data"), (1L, "table")).toDF("query_id", "token")
    val out = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text", q, k = 5)
    val p = out.queryExecution.executedPlan.toString
    // the (doc, token, tf) collapse must sit ABOVE the broadcast query-token
    // join in the plan (filter-then-aggregate): a BroadcastHashJoin appears,
    // and no aggregate below it is keyed on the raw exploded token stream
    assert(p.contains("BroadcastHashJoin"), s"query tokens must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected product:\n$p")
    // plan order proof: the FIRST (deepest-listed) hash aggregate over
    // (doc_id, token) appears after a broadcast join in execution order —
    // textually, every "HashAggregate(keys=[doc_id..., token..." block in
    // the tree has a BroadcastHashJoin beneath it
    val aggIdx = p.indexOf("HashAggregate(keys=[doc_id")
    val lastBcast = p.lastIndexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && lastBcast > aggIdx,
      s"tf collapse must consume the broadcast-filtered token stream:\n$p")
  }

  test("sample_epochs: scan-level explode, no join, no aggregation") {
    val p = plan("sample_epochs")
    assert(p.contains("Generate explode"),
      s"epoch materialization must plan a Generate:\n$p")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("HashAggregate"),
      s"epoch materialization is a projection — no join/window/agg:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"only the output sort may exchange:\n$p")
  }

  test("sample_split_leakage_safe: one labeling join, no product anywhere") {
    val p = plan("sample_split_leakage_safe")
    // reachability runs eagerly inside duplicateClusters; the FINAL plan is
    // documents joined once against the (id, rep) labeling + the hash
    // projection — no product of any kind, and exactly one labeling join
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no product may appear in the split plan:\n$p")
    assert(p.contains("LeftOuter") &&
      "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      s"the labeling must arrive via one keyed left join:\n$p")
  }

  test("sim_kmeans: final assignment is a pure scan projection — no join/window/agg") {
    // the Lloyd updates run eagerly at build time (contract-bounded k·dim
    // collects); what the cluster executes per row afterwards is ONE
    // projection against the broadcast centroid literal
    val p = plan("sim_kmeans")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"assignment must not join or window:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"only the output sort may exchange:\n$p")
  }

  test("sample_cluster_balance: bounded-heap cap, no per-cell sort window, no product") {
    val p = plan("sample_cluster_balance")
    assert(!p.contains("Window"),
      s"the skew-safe cap must not plan a rank window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product may appear:\n$p")
    assert(p.contains("LeftSemi"),
      s"kept rows must come back via the semi-join:\n$p")
  }

  test("graph_triangles: every join keyed — no product anywhere") {
    val p = plan("graph_triangles")
    // wedge + closure must be EQUI-joins on node ids (the O(√m) bound
    // rests on it); the broadcast nested-loops are all 1-row frames (the
    // N-count riding the edge builder + the census joins) — cheap by
    // construction, but an unbroadcast product is never acceptable
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findFirstIn(p).isDefined, s"wedge/closure must be keyed joins:\n$p")
  }

  test("mm_resize: typed mapPartitions scan, no join/window/agg") {
    val p = plan("mm_resize")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("HashAggregate"),
      s"resize is scan-level — no join/window/agg:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"only the output sort may exchange:\n$p")
  }

  test("q_cms_portable: counter frames broadcast to the probe join") {
    val p = plan("q_cms_portable")
    assert(p.contains("BroadcastHashJoin"), s"counters must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product may appear:\n$p")
  }

  test("text_bpe_encode: native kernel + explode, no join/window/agg") {
    val p = plan("text_bpe_encode")
    assert(p.contains("graft_bpe_encode"),
      s"encode must plan the native kernel:\n$p")
    assert(p.contains("Generate"),
      s"the token stream must arrive via a Generate:\n$p")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("HashAggregate"),
      s"BPE encode is scan-level — no join/window/agg:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"only the output sort may exchange:\n$p")
  }

  test("sim_topk_hnsw: final re-rank joins keyed/broadcast, never an unbroadcast product") {
    // the layer builds + beam hops run eagerly at call time (each beam is
    // checkpoint-materialized); the returned frame's plan is the final
    // re-rank of the base beam: beam→vector and beam→query equi-joins plus
    // the bounded-heap top-k — an unbroadcast product or a rank window
    // would mean the descent degenerated to a scan-wide compare
    val p = plan("sim_topk_hnsw")
    assert(!p.contains("CartesianProduct"), s"unbroadcast product:\n$p")
    assert(!p.contains("Window"),
      s"top-k must be the bounded heap, not a rank window:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findFirstIn(p).isDefined, s"final re-rank must be keyed joins:\n$p")
  }

  test("dedup_substring_real: keyed fingerprint joins, every window keyed") {
    // the prefix-doubling rounds run eagerly (checkpoint-materialized); the
    // returned plan is the fingerprint group test (r14: a window KEYED on
    // the packed fingerprint — one exchange instead of groupBy+join-back)
    // + the per-doc islands merge: every join keyed, and every window
    // PARTITIONED (by doc_id or by the fingerprint) — a global
    // unpartitioned window would serialize the corpus through one task
    val p = plan("dedup_substring_real")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product may appear:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findFirstIn(p).isDefined, s"start/fingerprint rows must join keyed:\n$p")
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty &&
      windowLines.forall(l => l.contains("doc_id") || l.contains("fp#")),
      s"every window must be partition-keyed:\n${windowLines.mkString("\n")}")
    // the partition spec bracket must never be empty — the textual twin of
    // "no window runs unpartitioned"
    assert(!windowLines.exists(_.contains("], []")),
      s"unpartitioned window:\n${windowLines.mkString("\n")}")
  }

  test("curation_extract_main: extraction is a scan-level projection — the " +
      "only join is the small gate reattach") {
    // the block pipeline (split/filter/transform/aggregate over the html
    // column) must stay inside the scan projection: no window, no
    // generator explode, and the single join is the doc-keyed reattach of
    // the gate battery onto the extract columns
    val p = plan("curation_extract_main")
    assert(!p.contains("CartesianProduct") && !p.contains("Window") &&
      !p.contains("Generate"),
      s"extraction must be a pure projection:\n$p")
  }

  test("curation_drop_templates: every exchange keyed by the block text — " +
      "no host hot key, no product") {
    val p = plan("curation_drop_templates")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no product may appear:\n$p")
    // the frequency count joins back on (host, text): keyed join required
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findFirstIn(p).isDefined, s"frequency join must be keyed:\n$p")
    // partial aggregation before the exchange on both the distinct-page
    // count and the per-page reassembly
    assert(p.contains("HashAggregate"), s"expected aggregation:\n$p")
    assert(!p.contains("Window"), s"no window may appear:\n$p")
  }

  test("sim_hnsw_prebuilt: descent over the materialized index ends in " +
      "keyed joins and the bounded heap") {
    val p = plan("sim_hnsw_prebuilt")
    assert(!p.contains("CartesianProduct"), s"unbroadcast product:\n$p")
    assert(!p.contains("Window"),
      s"top-k must be the bounded heap, not a rank window:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findFirstIn(p).isDefined, s"final re-rank must be keyed joins:\n$p")
  }

  test("sim_hard_negatives: anchors broadcast over one corpus scan, heap top-k") {
    val p = plan("sim_hard_negatives")
    // the scan-wide product is the DESIGN (tiny anchor side broadcast, one
    // corpus pass) — what must never appear is an unbroadcast product or a
    // per-anchor rank window replacing the bounded heap
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"anchors must ride a broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast product:\n$p")
    assert(!p.contains("Window"),
      s"top-k must be the bounded heap, not a rank window:\n$p")
  }

  test("etl_snapshot_diff: one PK-keyed outer join, status count map-side partial") {
    val p = plan("etl_snapshot_diff")
    // the diff is ONE full-outer join keyed on the PK — no product, no
    // window, and the census aggregation carries map-side partial_count
    assert(p.contains("FullOuter"), s"diff must be a full outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product may appear:\n$p")
    assert(!p.contains("Window"), s"census must aggregate, not window:\n$p")
    assert(p.contains("partial_count"),
      s"status census must combine map-side:\n$p")
  }

  test("q_hll_setops: register tables aggregate keyed, estimates cross tiny frames only") {
    val p = plan("q_hll_setops")
    // per-side register tables are bucket-keyed aggregations; the only
    // products are the 1-row estimate frames crossing in — never a
    // data-sized side
    assert(!p.contains("CartesianProduct"), s"unbroadcast product:\n$p")
    assert(p.contains("partial_max") || p.contains("max("),
      s"registers must max-aggregate:\n$p")
    assert(!p.contains("Window"), s"no window belongs in the sketch:\n$p")
  }

  test("sample_weighted: bounded TakeOrdered selection, no data-sized window") {
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"selection must be the bounded heap:\n$p")
    // the only window ranks the <= k survivors AFTER the TakeOrdered —
    // fine; what must not appear is a join or product
    assert(!p.contains("Join"), s"no join belongs here:\n$p")
  }

  test("etl_delete_vectors: the vector applies as a broadcast anti-join") {
    val p = plan("etl_delete_vectors")
    // the logical read subtracts the delete set without an exchange on the
    // data side — at 100 TB the vector is the only thing that moves
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"),
      s"vector must apply as a broadcast anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected product:\n$p")
  }

  test("etl_incremental_agg: union of partials, no join, map-side combine") {
    val p = plan("etl_incremental_agg")
    // the fold is union + re-aggregate over already-collapsed partials —
    // a join (outer-merge dance) or window would be the wrong shape
    assert(p.contains("Union"), s"merge must union partials:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the merge:\n$p")
    assert(!p.contains("Window"), s"no window belongs in the merge:\n$p")
    assert(p.contains("partial_"), s"partials must combine map-side:\n$p")
  }

  test("q_k_anonymity: one group-size aggregation feeds every threshold — no join") {
    val p = plan("q_k_anonymity")
    assert(p.contains("Generate"),
      s"thresholds must explode against the group frame:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the census:\n$p")
    assert(p.contains("partial_count"),
      s"group sizes must combine map-side:\n$p")
  }

  test("sample_score_normalize: the CDF broadcasts onto the scan") {
    val p = plan("sample_score_normalize")
    // the whole point of the histogram-CDF shape: the per-row percentile
    // attaches via a broadcast of the tiny CDF frame, never a data-sized
    // shuffle join
    assert(p.contains("BroadcastHashJoin"), s"CDF must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no data-sized shuffle join belongs here:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected product:\n$p")
  }

  test("dedup_eval: pair-keyed joins only, never a product") {
    val p = plan("dedup_eval")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the harness must never go all-pairs:\n$p")
  }

  test("dedup_containment: shingle-keyed inverted join, never a product") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the inverted index must join on the shingle key:\n$p")
  }

  test("q_heavy_hitters: candidates broadcast into a semi-join, never a product") {
    val p = plan("q_heavy_hitters")
    // the exact verify restricts the data via a broadcast semi-join on the
    // bounded candidate set; the data side never shuffles for the filter
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"),
      s"candidate filter must be a broadcast semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected product:\n$p")
  }
}
