package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, BloomJoin, Curation, Decontaminate, Dedup, Dsir, Funnel, Graph, Layout, Multimodal, RangeJoin, Resample, Sampling, Similarity, SkewJoin, Sketches, TextStats, TopK, Urls}
import graft.streaming.EventTimeOps

/** Similarity-search family (E15): brute/LSH/IVF/PQ/int8/graph/HNSW ANN, k-means, MMR, recall harnesses, hybrid retrieval.
  *
  * One catalog family of [[ExtQueries]] (split from the former monolith,
  * zero behavior change): `queries` are the Spark definitions, `oracle`
  * the DuckDB restatements the driver gates them against. Portability
  * rules are documented on [[ExtQueries]]; shared fixtures/helpers live
  * in [[CatalogShared]]. */
object SimilarityCatalog {
  import CatalogShared._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force cosine top-k (query set = vec_id < 5, k = 10).
    "sim_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),


    // BINARY quantization retrieve-then-rerank (Similarity.binaryTopK):
    // 62 sign bits in one BIGINT, Hamming-similarity shortlist (xor +
    // bit_count per candidate — 32x less memory than float32), exact
    // cosine rerank of the shortlist. The oracle restates bit packing,
    // Hamming ranking with its tie law, and the strict-fold rerank.
    "sim_topk_binary" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.binaryTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, shortlist = 40)
        .orderBy("query_id", "rank")
    }),


    // Measured RECALL of the binary path (the sim_recall_eval convention:
    // quality measured in-engine, not asserted): per query, |binary top-5
    // ∩ exact top-5| at a 4x-k Hamming shortlist. Queries whose binary
    // list misses everything still emit (recall 0) via the left join.
    "sim_recall_binary" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
        .select(col("query_id"), col("id"))
      val bin = Similarity.binaryTopK(e, q, "vec_id", "embedding",
          k = 5, shortlist = 20)
        .select(col("query_id"), col("id"))
      val hits = exact.join(bin, Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) * 200000L).as("recall_ppm"))
        .orderBy("query_id")
    }),


    // Sign-quantization LSH bucketed top-k (the pruned scale path).
    "sim_topk_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bucketedTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, bits = 6)
        .orderBy("query_id", "rank")
    }),


    // ANN recall EVALUATION harness (E15g): recall@5 of the pruned LSH
    // path against brute-force ground truth, per query, in fixed point —
    // quality measurement as a first-class operator (the number a recall
    // SLO monitors), not a spec-only assertion. Both retrievers' own scale
    // shapes; the comparison is two tiny top-k frames joined on
    // (query, id).
    "sim_recall_eval" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      val lsh = Similarity.bucketedTopK(e, q, "vec_id", "embedding",
        k = 5, bits = 6)
      val mp = Similarity.bucketedTopKMultiProbe(e, q, "vec_id", "embedding",
        k = 5, bits = 6)
      def hitsOf(got: DataFrame, name: String) =
        bf.select(col("query_id"), col("id"))
          .join(got.select(col("query_id"), col("id")), Seq("query_id", "id"))
          .groupBy("query_id").agg(count(lit(1)).as(name))
      bf.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        .join(hitsOf(lsh, "hits_lsh"), Seq("query_id"), "left")
        .join(hitsOf(mp, "hits_mp"), Seq("query_id"), "left")
        .select(col("query_id"), col("n_true"),
          coalesce(col("hits_lsh"), lit(0L)).as("hits_lsh"),
          coalesce(col("hits_mp"), lit(0L)).as("hits_mp"))
        .select(col("query_id"), col("n_true"), col("hits_lsh"), col("hits_mp"),
          expr("(hits_lsh * 1000000) div n_true").as("recall_lsh_fp"),
          expr("(hits_mp * 1000000) div n_true").as("recall_mp_fp"))
        .orderBy("query_id")
    }),


    // MMR diversified re-ranking (E15h): greedy rel − ½·max-sim-to-selected
    // over the brute top-10, five unrolled rounds — the anti-redundancy
    // pass a RAG context builder runs after retrieval, fully restated
    // (selection order AND scores compared).
    "sim_mmr_rerank" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.mmrRerank(e, e.where(col("vec_id") < 5), "vec_id",
          "embedding", kCand = 10, kSel = 5)
        .orderBy("query_id", "sel_rank")
    }),


    // IVF ANN with every cell probed (nProbe = nCells) — returns exactly the
    // brute-force answer FOR ANY CENTROIDS, so the oracle is sim_topk's SQL
    // even with k-means-fitted cells (fitIters=2 exercises the fitting under
    // the gate); the point under test is the zero-exchange cell-assignment
    // projection + cell-keyed probe join (ExtSpec asserts the plan).
    "sim_topk_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nCells = 8, nProbe = 8, fitIters = 2)
        .orderBy("query_id", "rank")
    }),


    // Filtered vector search: top-k among label=2 vectors only (~10% of the
    // corpus) — PRE-filter semantics (a full k from the eligible set, not a
    // thinned post-filtered list), centroids still fit on everything
    // (prebuilt-index semantics). nProbe = nCells keeps the exactness
    // contract, so the oracle is the brute force over the eligible subset —
    // and exactness under full probe holds for ANY centroid set, so this
    // headline row skips the k-means fit (fitIters = 0): it measures the
    // filtered SEARCH path, not the index build the `sim_topk_ivf` row
    // already exercises (a prebuilt index is not re-fit per query batch).
    // Incremental IVF INDEX APPEND (E15l): centroids pinned from the
    // first-300 "initial build", the later vectors assigned WITHOUT refit
    // (a zero-exchange projection over only the new batch — streaming
    // ingest into a vector index), the union searched at nProbe = nCells
    // so the exactness contract gates the whole appended index: any
    // assignment bug that drops, duplicates, or mis-cells a vector breaks
    // the brute-force hash.
    "sim_ivf_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val old = e.where(col("vec_id") < 300)
      val neu = e.where(col("vec_id") >= 300)
      val cents = Similarity.centroidArray(old, "vec_id", "embedding",
        nCells = 8)
      val index = Similarity.ivfAssign(old, "vec_id", "embedding", cents)
        .unionByName(Similarity.ivfAssign(neu, "vec_id", "embedding", cents))
      Similarity.ivfSearchAssigned(index, e.where(col("vec_id") < 5),
          "vec_id", "embedding", cents, k = 10, nProbe = 8)
        .orderBy("query_id", "rank")
    }),


    "sim_topk_ivf_filtered" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfTopKFiltered(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", predicate = col("label") === 2,
          k = 10, nCells = 8, nProbe = 8)
        .orderBy("query_id", "rank")
    }),


    // FILTERED graph-ANN search (the production vector-store mode: every
    // query carries a metadata predicate): beam search over the kNN graph
    // with the filter applied in traversal — ineligible nodes never enter
    // the beam. At entryMod = 1 every eligible row seeds the beam, so the
    // result is EXACTLY the brute force over eligible rows (the same
    // exactness contract sim_topk_graph/ivf_filtered gate on); sparse
    // adaptive entries are the scale path, with the thinned-connectivity
    // recall caveat documented on the operator.
    "sim_topk_graph_filtered" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val graph = Similarity.knnGraph(emb, "vec_id", "embedding",
          k = 5, bits = Similarity.AdaptiveBits)
        .select(col("id"), col("nbr_id"))
      Similarity.graphTopKFiltered(emb, "vec_id", "embedding", graph,
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          predicate = col("label") === 2,
          k = 10, beamWidth = 16, hops = 2, entryMod = 1, degBound = 5)
        .orderBy("query_id", "rank")
    }),


    // k-NN graph construction: every vector's 5 nearest neighbors among
    // multi-probe sign-bucket candidates — the precursor structure for
    // graph ANN and embedding-space clustering. Bucket equi-join + the
    // bounded-heap TopK. The bucket width is ADAPTIVE (⌈log₂(N/8)⌉,
    // clamped ≥ 4): constant expected bucket population, so the build
    // stays linear in the corpus instead of bucket-quadratic at a fixed
    // width. At this fixture (N = 500) the rule derives exactly the 6 bits
    // the oracle restates; the sign buckets are portable, so the oracle
    // restates the full candidate rule.
    "sim_knn_graph" -> ((s, d) => {
      Similarity.knnGraph(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 5, bits = Similarity.AdaptiveBits)
        .orderBy("id", "rank")
    }),


    // Incremental GRAPH-INDEX APPEND (the sim_ivf_append seam for graph
    // ANN): graph built over the first 300 vectors (adaptive width → 6
    // bits), the later 200 appended by SEARCH-BASED INSERTION at
    // entryMod = 1 — the exact-search contract, so the new nodes' old-side
    // edges are brute-force top-k and any search/patch bug breaks the
    // hash. Batch-internal edges come from the batch's own bucketed graph
    // (adaptive at N = 200 → 5 bits); old endpoints of new edges re-rank
    // reciprocally, every other old node's edges pass through with their
    // original ranks. The oracle restates the old graph, the batch bucket
    // rule, the all-pairs exact search, and both re-ranks.
    "sim_graph_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val old = e.where(col("vec_id") < 300)
      val neu = e.where(col("vec_id") >= 300)
      val g = Similarity.knnGraph(old, "vec_id", "embedding", k = 5,
        bits = Similarity.AdaptiveBits)
      Similarity.knnGraphAppend(old, g, neu, "vec_id", "embedding",
          graphDegBound = 5, // g is lineage, not served data: never scan it
          k = 5, beamWidth = 16, hops = 2, entryMod = 1)
        .orderBy("id", "rank")
    }),


    // Graph-ANN beam search: greedy navigation of the kNN graph from a
    // deterministic entry set (2 hops, beam 16) — the HNSW-style search
    // path over the graph sim_knn_graph builds (adaptive width: 6 bits at
    // this N). Fully deterministic relational ops, so the oracle restates
    // entries, both hops, and the final ranking verbatim.
    "sim_topk_graph" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val graph = Similarity.knnGraph(emb, "vec_id", "embedding",
          k = 5, bits = Similarity.AdaptiveBits)
        .select(col("id"), col("nbr_id"))
      Similarity.graphTopK(emb, "vec_id", "embedding", graph,
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, beamWidth = 16, hops = 2, entryMod = 8, degBound = 5)
        .orderBy("query_id", "rank")
    }),


    // HIERARCHICAL graph ANN (HNSW-style): deterministic md5-geometric
    // levels (m=8, 2 upper layers), per-layer kNN graphs, top-layer entry
    // set + beam DESCENT (1 hop per upper layer, 2 in the base) — the
    // log-scale entry structure that keeps hop counts flat at 10⁹ vectors,
    // next to the single-layer sim_topk_graph. Each layer's bucket width
    // derives from ITS node count (AdaptiveBits): at this fixture the base
    // layer (500 nodes) gets 6 bits, the upper layers (55 / 5 nodes) the
    // 4-bit clamp floor — the values the oracle restates per layer. The
    // oracle restates the level law, all three layer graphs, and every
    // beam round.
    "sim_topk_hnsw" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.hnswTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, beamWidth = 16, knnK = 5, bits = Similarity.AdaptiveBits)
        .orderBy("query_id", "rank")
    }),


    // The hierarchical index AS DATA: hnswBuild materializes the layer
    // graphs (the frame a real deployment writes to parquet once),
    // hnswSearchPrebuilt descends over them — byte-identical to
    // sim_topk_hnsw by the search∘build law (ExtSpec pins it; this row
    // gates the materialization seam itself against the same oracle).
    "sim_hnsw_prebuilt" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = Similarity.hnswBuild(emb, "vec_id", "embedding", knnK = 5,
        bits = Similarity.AdaptiveBits)
      Similarity.hnswSearchPrebuilt(emb, "vec_id", "embedding", idx,
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, beamWidth = 16)
        .orderBy("query_id", "rank")
    }),


    // SOFT-DELETE on the served hnsw index: the %7=3 vectors are
    // tombstoned, the sidecar-driven search excludes them from every
    // result while their nodes still ROUTE the descent (the standard HNSW
    // erasure — hard-removing edges would disconnect neighborhoods), and
    // survivors backfill the top-10 from the same beam. The oracle is the
    // FULL descent restatement (tombstoned nodes still carry the beam)
    // with the exclusion applied exactly where the engine applies it — on
    // the final candidate set before the rank cut — so a tombstone that
    // leaked into results, pruned routing, or re-ranked survivors
    // hash-fails.
    "sim_hnsw_tombstone" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = scratchDir("graft_hnsw_tomb", d)
      if (!new java.io.File(dir).exists()) {
        val idx = Similarity.hnswBuild(emb, "vec_id", "embedding",
          knnK = 5, bits = Similarity.AdaptiveBits)
        Similarity.hnswSave(idx, dir, knnK = 5, bits = Similarity.AdaptiveBits)
        Similarity.hnswTombstoneAt(s, dir,
          emb.where(col("vec_id") % 7 === 3).select("vec_id")): Unit
      }
      Similarity.hnswSearchPrebuiltAt(s, dir, emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, beamWidth = 16)
        .orderBy("query_id", "rank")
    }),


    // Incremental append for the HIERARCHICAL index (sim_graph_append per
    // layer): index built over the first 300 vectors (maxLevel = 1 — base
    // 6-bit / upper 4-bit adaptive widths at 300/34 nodes), the other 200
    // appended at entryMod = 1, each joining every layer its md5 level
    // admits (batch widths 5/4 bits at 200/21 nodes). The output is the
    // appended INDEX itself, so the exactness contract gates both layers'
    // search + reciprocal patches edge-for-edge.
    "sim_hnsw_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val old = e.where(col("vec_id") < 300)
      val neu = e.where(col("vec_id") >= 300)
      val idx = Similarity.hnswBuild(old, "vec_id", "embedding", knnK = 5,
        bits = Similarity.AdaptiveBits, maxLevel = 1)
      Similarity.hnswAppend(old, idx, neu, "vec_id", "embedding",
          knnK = 5, bits = Similarity.AdaptiveBits, beamWidth = 16,
          hops = 2, maxLevel = 1, entryMod = 1, indexDegBound = 5)
        .orderBy("level", "id", "rank")
    }),


    // Graph-ANN recall comparison at EQUAL budget: recall@5 of flat
    // single-layer search vs the hierarchical descent, same beam width
    // (16), same base graph (k=5, adaptive width — 6 bits at this N, built
    // ONCE and shared with the descent via hnswTopK's baseGraph seam),
    // same base hops (2), and the SAME entry count — 5 entry points each
    // (flat: vec_id % 100 = 0; hnsw: the 5-node top layer). The
    // hierarchy's descent is the only difference, so the recall gap
    // measures exactly what the layers buy. In-engine quality measurement
    // like sim_recall_eval, oracle-gated.
    "sim_recall_graph" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      val g0 = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
          bits = Similarity.AdaptiveBits)
        .select(col("id"), col("nbr_id"))
      val flat = Similarity.graphTopK(e, "vec_id", "embedding", g0, q,
        "vec_id", "embedding", k = 5, beamWidth = 16, hops = 2,
        entryMod = 100, degBound = 5)
      val hnsw = Similarity.hnswTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 5, beamWidth = 16, knnK = 5,
        bits = Similarity.AdaptiveBits, baseGraph = g0)
      def hitsOf(got: DataFrame, name: String) =
        bf.select(col("query_id"), col("id"))
          .join(got.select(col("query_id"), col("id")), Seq("query_id", "id"))
          .groupBy("query_id").agg(count(lit(1)).as(name))
      bf.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        .join(hitsOf(flat, "hits_flat"), Seq("query_id"), "left")
        .join(hitsOf(hnsw, "hits_hnsw"), Seq("query_id"), "left")
        .select(col("query_id"), col("n_true"),
          coalesce(col("hits_flat"), lit(0L)).as("hits_flat"),
          coalesce(col("hits_hnsw"), lit(0L)).as("hits_hnsw"))
        .select(col("query_id"), col("n_true"), col("hits_flat"),
          col("hits_hnsw"),
          expr("(hits_flat * 1000000) div n_true").as("recall_flat_fp"),
          expr("(hits_hnsw * 1000000) div n_true").as("recall_hnsw_fp"))
        .orderBy("query_id")
    }),


    // Sparse lexical cosine pairs: tf-vector cosine over the df<=maxDf
    // vocabulary (stopword-class terms dropped = Bayardo-style df-capped
    // all-pairs) — the term-overlap retrieval modality next to the dense
    // ANN suite. Integer dots/norms + correctly-rounded sqrt/div keep the
    // score bit-portable.
    "sim_lexical_pairs" -> ((s, d) => {
      Similarity.lexicalCosinePairs(t(s, d, "documents"), "doc_id", "text",
          maxDf = 50, threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),


    // Link-graph centrality for corpus curation (the Common-Crawl-style
    // host ranking that feeds web-scale quality gates): integer fixed-point
    // PageRank over the bidirectional customer<->supplier trade graph, 3
    // iterations. Every arithmetic step is exact BIGINT (truncating div),
    // so the fixed-iteration run is restated verbatim in the oracle as
    // unrolled CTEs — no float reduction order anywhere. Supplier nodes are
    // offset by 10^6 to disambiguate the shared integer key space.
    "graph_pagerank" -> ((s, d) => {
      val oj = t(s, d, "orders").join(t(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val fwd = oj.select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))
      val e = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRankExact(e, "src", "dst", iters = 3).orderBy("node")
    }),


    // Exact triangle count (E30b) over a circulant doc graph (strides
    // 1,2,3 mod N — exactly 3·N triangles, an analytic cross-check): the
    // degree-ordered wedge join, each triangle once, fan-out bounded by
    // the max ORIENTED out-degree (O(√m) on any graph — the celebrity-node
    // guard). All joins node-keyed; output is the 1-row census.
    "graph_triangles" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val nRow = docs.agg(count(lit(1)).as("n"))
      val e = docs.crossJoin(nRow)
        .select(col("doc_id"), col("n"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("doc_id").as("src"),
          pmod(col("doc_id") + col("k"), col("n")).as("dst"))
      Graph.triangleStats(e, "src", "dst")
    }),


    // URL parse + canonicalization — the first hop of a crawl-curation
    // pipeline. The fixture has no URL column, so one is SYNTHESIZED
    // deterministically per document (five construction branches exercising
    // mixed-case scheme/host, userinfo, explicit default + non-default
    // ports, empty path, trailing-dot host, multi-label public suffix,
    // query, fragment); the oracle restates the BRANCH ARITHMETIC — the
    // expected field values per branch — so the Spark side's actual regex
    // parse is what's on the hash, with zero regex-dialect coupling. The
    // whole row is one codegen'd projection: no shuffle before the
    // determinism sort.
    "text_url_parse" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .withColumn("url", synthUrl)
      Urls.withUrlPartsNative(docs, "url")
        .select(col("doc_id"), col("url"), col("scheme"), col("host"),
          col("port"), col("reg_domain"), col("path"), col("query"),
          col("frag"), col("canon_url"))
        .orderBy("doc_id")
    }),


    // Registered-domain blocklist — the most common crawl-curation gate
    // (spam/adult/boilerplate domain lists): reg_domain derived per doc
    // (zero-shuffle projection), membership against a broadcast-literal
    // blocklist, kept docs pass. Drops the ftp branch's example.org docs
    // plus one co.uk entry, so both the multi-label suffix rule and the
    // filter itself are on the hash.
    "curation_domain_filter" -> ((s, d) => {
      val blocked = Seq("example.org", "example.co.uk")
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        .withColumn("url", synthUrl)
        .withColumn("host", Urls.urlHostNative(col("url")))
      docs
        .withColumn("reg_domain", Urls.registeredDomain(col("host")))
        .where(!col("reg_domain").isInCollection(blocked))
        .select(col("doc_id"), col("host"), col("reg_domain"))
        .orderBy("doc_id")
    }),


    // URL-level dedup through canonicalization — crawl frontier dedup: the
    // same page surfaces under cosmetically different URLs and the
    // canonical form is the equality key. Each doc contributes its branch
    // URL plus a textually-distinct twin (fragment appended; offset id)
    // that MUST collapse onto the same canonical key — and branch 3's URL
    // embeds no doc id, so whole (source, branch) groups collapse too.
    // Shape: projection + ONE canon-keyed aggregation with map-side
    // partials — the crawl-dedup plan that holds at frontier scale.
    "dedup_url" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("source"))
        .withColumn("url", synthUrl)
      val twin = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("url"), lit("#m")).as("url"))
      base.select(col("doc_id"), col("url")).unionByName(twin)
        .select(col("doc_id"), Urls.canonicalUrlNative(col("url")).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("survivor_id"),
          count(lit(1)).as("n_urls"))
        .orderBy("canon_url")
    }),


    // Host-level quality join — the consumer graph_pagerank was built for:
    // canonical hosts derived from the synthesized URLs, a host link graph
    // (each doc's host links to the hosts of docs id+1 and id+29 — stride
    // self-joins keyed on doc_id, no corpus count and no cross join
    // anywhere; tail ids simply emit fewer edges), integer fixed-point
    // PageRank over it, and the per-host rank joined back onto every
    // document through a BROADCAST of the host dim — documents never
    // shuffle for the join. Oracle: same construction + unrolled 3-iter
    // PageRank CTEs.
    "curation_host_rank" -> ((s, d) => {
      val withHost = t(s, d, "documents").select(col("doc_id"), col("source"))
        .withColumn("url", synthUrl)
        .withColumn("host", Urls.urlHostNative(col("url")))
        // host ↔ (source number, branch) is bijective by construction, so
        // an arithmetic integer node id avoids hashing hosts to longs
        .withColumn("host_id",
          regexp_extract(col("host"), "src([0-9]+)", 1).cast("long") * 5
            + col("doc_id") % 5)
      val dstSide = withHost.select(col("doc_id").as("dst_doc"),
        col("host_id").as("dst_host"))
      val edges = Seq(1, 29).map { k =>
        withHost.select((col("doc_id") + k).as("dst_doc"),
            col("host_id").as("src"))
          .join(dstSide, "dst_doc")
          .select(col("src"), col("dst_host").as("dst"))
      }.reduce(_ unionByName _)
      val ranks = Graph.pageRankExact(edges, "src", "dst", iters = 3)
      Urls.hostRankJoin(withHost.select(col("doc_id"), col("host"),
          col("host_id")), "host_id", ranks, "node", "rank")
        .select(col("doc_id"), col("host"), col("host_rank"))
        .orderBy("doc_id")
    }),


    // PQ-compressed ANN via asymmetric distance computation: the corpus is
    // stored as m=16 code ints (16× compression vs 64 raw floats; a real
    // deployment packs them into 16 bytes) and each candidate costs 16
    // table lookups instead of 64 multiplies. Scores are quantized by
    // codebook resolution, so no external engine can restate them —
    // rows-only by design; ExtSpec pins recall vs the exact scan (≥0.6
    // measured 0.70 on this corpus — random embeddings are PQ's worst
    // case) and exactness when the codebook covers the corpus.
    "sim_topk_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.pqTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, m = 16, ksub = 64, fitIters = 2)
        .orderBy("query_id", "rank")
    }),


    // PQ ADC with a PINNED arithmetic codebook (the production shape:
    // codebooks trained offline, shipped as an artifact) — and because the
    // codebook is an explicit constant, the full encode→ADC→rank pipeline
    // IS restatable: the oracle rebuilds the same codebook from the same
    // integer formula and mirrors every fold in index order. This is the
    // oracle-carrying twin of the rows-only fitted row above.
    "sim_topk_pq_fixed" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.pqTopKPinned(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, cb = pinnedCodebook)
        .orderBy("query_id", "rank")
    }),


    // IVF-PQ with pinned codebook + deterministic centroids and REAL
    // partial-probe pruning (nProbe=4 of 8 cells — candidates genuinely
    // drop, unlike the full-probe identity): the billion-scale composition
    // under a complete oracle — cell assignment (argmax cosine, min-id
    // ties, zero-norm → -2), query-side top-4 probe cells, PQ encode, ADC,
    // and ranking all restated in DuckDB.
    "sim_topk_ivfpq_fixed" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfPqTopKPinned(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nCells = 8, nProbe = 4,
          cb = pinnedCodebook)
        .orderBy("query_id", "rank")
    }),


    // IVF-PQ: inverted-file candidate pruning composed with the PQ ADC scan
    // — the classic billion-scale ANN recipe (prune by cell, score against
    // codes, never touch raw vectors after encode). Rows-only for the same
    // reason as sim_topk_pq.
    "sim_topk_ivfpq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfPqTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nCells = 8, nProbe = 4,
          m = 16, ksub = 64, fitIters = 2)
        .orderBy("query_id", "rank")
    }),


    // Int8-quantized brute-force ANN: 4x smaller corpus vectors (memory
    // bandwidth IS the brute-force bottleneck at scale), integer-dot
    // cosine. Deterministic floor(x*127/maxabs + 0.5) quantization makes
    // codes AND scores engine-exact, so the quantized search is fully
    // oracle-checked — unlike PQ's fitted codebooks.
    "sim_topk_int8" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.int8TopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),


    // Two-stage refined ANN: prefix-dim scoring shortlists 50 candidates
    // per query (a 4× flop cut on the all-N stage), exact full-dim cosine
    // re-ranks the shortlist — the retrieve-then-rerank pattern. Both
    // stages are deterministic strict folds, so the WHOLE pipeline is
    // restated in the oracle (shortlist membership included), unlike
    // PQ's codebook-dependent shortlist.
    "sim_topk_refined" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.refinedTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, prefixDims = 16, shortlist = 50)
        .orderBy("query_id", "rank")
    }),


    // Hard-negative mining (E15f2): per anchor, the 10 most-similar vectors
    // of a DIFFERENT label — the contrastive-training batch builder.
    // bruteForceTopK's scan shape with a pair-level label-mismatch filter.
    "sim_hard_negatives" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.hardNegativesTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", "label", k = 10)
        .orderBy("query_id", "rank")
    }),


    // Portable integer k-means (E15e2): Lloyd's over int8 codes — cosine
    // assignment on exact-integer arithmetic, truncating-integer-mean
    // centroid update — so unlike the FP kmeansCentroids fit (reduction-
    // order-dependent, never restatable) BOTH the fitted centroids and the
    // final assignments are on the hash: the oracle unrolls all three
    // assignment passes and both updates (Sql.kmeansUnrolled). k = 8 cells
    // seeded from the 8 lowest vec_ids, 2 Lloyd rounds, one row per vector.
    "sim_kmeans" -> ((s, d) => {
      Similarity.kmeansAssignPortable(t(s, d, "embeddings"), "vec_id",
          "embedding", k = 8, updates = 2)
        .orderBy("vec_id")
    }),


    // Farthest-point sampling (E15n): greedy k-center over squared L2 —
    // the diversity-maximizing prune next to the redundancy prunes (seed =
    // lowest id, argmax ties to lowest id, mind chains least() of exact
    // per-row folds — no cross-row FP reduction, so the whole selection
    // restates cross-engine). Oracle unrolls all 6 rounds as CTEs.
    "sim_kcenter" -> ((s, d) => {
      Similarity.kCenterSelect(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 6)
        .orderBy("sel_no")
    }),


    // Cluster-balanced downsampling (the E15e2 consumer): cap every fitted
    // k-means cell at 40 vectors by deterministic hash order — the
    // diversity-preserving prune (SemDeDup-style: dense cells shed
    // redundant mass, sparse cells survive whole). Assignment is the
    // zero-exchange kmeans projection; the cap runs the bounded-heap
    // skew-safe path, so one mega-cell costs O(partitions·cap), not
    // O(cell) — the window twin would serialize it through one task.
    "sample_cluster_balance" -> ((s, d) => {
      val assigned = Similarity.kmeansAssignPortable(t(s, d, "embeddings"),
          "vec_id", "embedding", k = 8, updates = 2)
      Sampling.capPerGroupSkewSafe(assigned, "cell", "vec_id", 40, salt = "bal")
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),


    // Streaming near-dup candidates, driven in batch mode (the whole frame
    // as one micro-batch). The CATALOG default is the portable md5-60bit
    // signature family so this row is oracle-GATED (r14 carried it
    // rows-only); the operator's own default stays the xxhash64 fast path
    // — the documented at-scale variant, signature-family-agnostic by
    // construction (banding, bucket state, eviction, and agreement are
    // identical; EventTimeSpec pins streamed == batch on both). This row
    // runs 12 hashes / agree ≥ 6, the portable twin below 16 / ≥ 8, so
    // the two gate DIFFERENT band geometries of the same stateful path.
    // Caps are EXPLICITLY uncapped here: the oracle is the uncapped
    // all-pairs agreement filter, and the operator's default valves
    // (maxPerBucket=64, maxBatchPerBucket=4096) would silently drop pairs
    // if a testdata regeneration planted a >64-doc near-identical cluster
    // — the gate must compare like with like, not rely on fixture luck.
    "q_streaming_neardup" -> ((s, d) => {
      EventTimeOps.streamingNearDedup(t(s, d, "documents"), "doc_id", "text",
          numHashes = 12,
          maxPerBucket = Int.MaxValue, maxBatchPerBucket = Int.MaxValue,
          signature = Some(Dedup.minhashSignature60(col("text"), 3, 12)))
        .dropDuplicates("a_id", "b_id")
        .orderBy("a_id", "b_id")
        .toDF()
    }),


    // The ORACLE-GATED twin of q_streaming_neardup: the SAME stateful LSH
    // operator (banding, bucket state, in-batch id-order processing,
    // agreement scoring) running the portable md5-60bit signature family
    // instead of xxhash64. At gate SF no bucket approaches the caps, so
    // the emitted pair set is exactly {(a,b): n_agree >= 8 of 16}, which
    // DuckDB restates from the md5 signature law — the statefulness itself
    // is MemoryStream-pinned (streamed == batch) in EventTimeSpec.
    "q_streaming_neardup_portable" -> ((s, d) => {
      EventTimeOps.streamingNearDedup(t(s, d, "documents"), "doc_id", "text",
          maxPerBucket = Int.MaxValue, maxBatchPerBucket = Int.MaxValue,
          signature = Some(Dedup.minhashSignature60(col("text"), 3, 16)))
        .dropDuplicates("a_id", "b_id")
        .orderBy("a_id", "b_id")
        .toDF()
    }),


    // Streaming SCD2, batch-driven: the stateful dimension-history op run
    // over the full events table as one batch — closed versions are
    // deterministic (a version is final exactly when its successor opens),
    // so unlike the near-dup stream this row IS oracle-checkable.
    "q_streaming_scd2" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val obs = ev.select(
          col("user_id").as("key"), Queries.epochMicrosOf(ev, "ts").as("ts"),
          col("event_type").as("attr"), col("event_id").as("tie"))
        .as[EventTimeOps.ScdObs]
      EventTimeOps.streamingScd2(obs).toDF()
        .select(col("key").as("user_id"), col("attr").as("event_type"),
          col("valid_from"), col("valid_to"), col("version"))
        .orderBy("user_id", "version")
    }),


    // Streaming funnel, batch-driven: the full transition set (every
    // depth advance with its time), which the oracle restates as the
    // union of the iterative join chain's per-step rows — each s_k CTE is
    // literally the set of depth-k transitions. Cross-micro-batch state
    // continuation is MemoryStream-tested in EventTimeSpec.
    "q_streaming_funnel" -> ((s, d) => {
      import s.implicits._
      val step = when(col("event_type") === "signup", 1)
        .when(col("event_type") === "view", 2)
        .when(col("event_type") === "purchase", 3)
      val ev0 = t(s, d, "events")
      val evs = ev0
        .where(col("event_type").isin("signup", "view", "purchase"))
        .select(col("user_id").as("key"),
          Queries.epochMicrosOf(ev0, "ts").as("ts"),
          step.cast("int").as("step"))
        .as[EventTimeOps.StepEvent]
      EventTimeOps.streamingFunnel(evs, 3).toDF()
        .select(col("key").as("user_id"), col("depth"),
          date_format(timestamp_micros(col("ts")), "yyyyMMddHHmmss.SSSSSS")
            .as("t"))
        .orderBy("user_id", "depth")
    }),


    // Watermarked stream-stream interval join, batch-driven: every view of
    // the same user within 30 minutes BEFORE a purchase — the two-stream
    // enrichment/attribution shape. The batch form the oracle restates is
    // the same call (plain keyed join + range filter); the streaming
    // statefulness (both-side buffers bounded by watermark + lag,
    // cross-micro-batch matching) is MemoryStream-tested in EventTimeSpec.
    "q_stream_stream_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_id"), col("ts").as("v_ts"))
      EventTimeOps.streamStreamJoin(purchases, views, "user_id",
          "p_ts", "v_ts", maxLag = "30 MINUTE", watermark = "1 hour")
        .select(col("user_id"), col("p_id"),
          date_format(col("p_ts"), "yyyyMMddHHmmss.SSSSSS").as("p_ts_s"),
          col("v_id"),
          date_format(col("v_ts"), "yyyyMMddHHmmss.SSSSSS").as("v_ts_s"))
        .orderBy("p_id", "v_id")
    }),


    // Left-OUTER stream-stream interval join, batch-driven: every purchase
    // with its 30-minute-preceding view count — zero for the unmatched ones
    // (the "which conversions had NO preceding touchpoint" attribution
    // question). Aggregated to counts so no nullable sort key crosses
    // engines (null ordering differs); the streaming semantics — the
    // null-extended row emits only once the watermark closes the window —
    // are MemoryStream-pinned in EventTimeSpec.
    "q_stream_stream_outer" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_id"), col("ts").as("v_ts"))
      EventTimeOps.streamStreamJoin(purchases, views, "user_id",
          "p_ts", "v_ts", maxLag = "30 MINUTE", watermark = "1 hour",
          joinType = "left_outer")
        .groupBy(col("p_id"))
        .agg(count(col("v_id")).as("n_views_30m"),
          coalesce(min(col("v_id")), lit(-1L)).as("first_v_id"))
        .orderBy("p_id")
    }),


    // Mergeable-sketch aggregates (HLL distinct, quantile sketch): the
    // at-scale shape for distincts/percentiles — partial sketches merge
    // map-side, so the shuffle carries sketches, not values. Estimates are
    // engine-specific ⇒ deliberately NO DuckDB oracle (rows-only check).
    "q_sketch_distinct" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll_users"))
        .orderBy("event_type")
    }),


    // PORTABLE integer HLL (E26c) — the oracle-gated sibling of the
    // engine-specific rows-only sketch above: md5-derived 60-bit hash,
    // 64 max-merged registers, and a fixed-point estimate with NO float
    // rounding anywhere, so both engines agree bit-for-bit. Register table
    // + denominator + estimate + the exact distinct all in one 64-row
    // frame (est/exact constant per row — everything post-shuffle is ≤ 64
    // rows; the one real aggregation is the 64-group map-side max).
    "q_hll_portable" -> ((s, d) => {
      val ev = t(s, d, "events")
      val regs = Sketches.hllRegisters(ev, col("user_id"))
      val est = Sketches.hllEstimate(regs)
      val exact = ev.agg(count_distinct(col("user_id")).as("exact_users"))
      regs.crossJoin(est).crossJoin(exact)
        .select(col("bucket"), col("register"), col("d_denom"),
          col("est").as("est_users"), col("exact_users"))
        .orderBy("bucket")
    }),


    // HLL SET ALGEBRA (E19i): cross-source user overlap via register-max
    // UNION (the native HLL set operation — two 64-row tables merge
    // without re-scanning either input, which is the whole point at
    // 100 TB) + inclusion-exclusion for the intersection, clamped at 0.
    // The tiny synthetic corpus has every user everywhere, so the sides
    // are planted overlapping id BANDS (A = id < 100, B = id ≥ 50: three
    // genuinely different cardinalities 100/100/150 flow through the
    // estimator). exact_intersect rides along so the row also measures
    // the sketch's accuracy instead of asserting it. The oracle restates
    // all three register tables and the differenced intersection.
    "q_hll_setops" -> ((s, d) => {
      val ev = t(s, d, "events")
      val a = ev.where(col("user_id") < 100)
      val b = ev.where(col("user_id") >= 50)
      val ex = a.select(col("user_id")).distinct()
        .join(b.select(col("user_id")).distinct(), Seq("user_id"))
        .agg(count(lit(1)).as("exact_intersect"))
      Sketches.hllOverlap(a, col("user_id"), b, col("user_id"))
        .crossJoin(ex)
    }),


    // Per-hour portable-HLL estimates (E19d): one sketch per window via
    // the SPINE-FREE grouped shape — only observed buckets aggregate; each
    // empty register adds exactly 2^55 to the denominator in closed form,
    // so nothing widens to 64 rows per group (the many-groups shape: a
    // sketch per hour×source at 100 TB). Streaming twin
    // (EventTimeOps.streamingHllRegisters) is EventTimeSpec-pinned equal.
    "q_hll_windowed" -> ((s, d) => {
      val hr = date_format(date_trunc("hour", col("ts")), "yyyyMMddHH").as("hr")
      val ev = t(s, d, "events").withColumn("hr", hr)
      val exact = ev.groupBy(col("hr"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
      Sketches.hllEstimateBy(ev, Seq("hr"), col("user_id"))
        .join(exact, "hr")
        .select(col("hr"), col("buckets_hit"), col("d_denom"),
          col("est").as("est_users"), col("exact_users"))
        .orderBy("hr")
    }),


    // Per-hour CMS counter tables + point estimates (E19e's windowed/
    // streamed shape, mirroring q_hll_windowed): the counter table is the
    // sketch AS DATA — ≤ d·2^wBits SUM rows per hour, mergeable by
    // addition, exactly what the streaming twin
    // (EventTimeOps.streamingCmsCounters, EventTimeSpec-pinned equal)
    // accumulates in bounded state. Probes = each hour's 3 most active
    // users; the compared surface includes the overcount.
    "q_cms_windowed" -> ((s, d) => {
      val hr = date_format(date_trunc("hour", col("ts")), "yyyyMMddHH").as("hr")
      val ev = t(s, d, "events").withColumn("hr", hr)
      val truth = TopK.topKPerKey(
          ev.groupBy(col("hr"), col("user_id"))
            .agg(count(lit(1)).cast("double").as("n"))
            .select(col("hr"), col("user_id").as("id"), col("n").as("score")),
          "hr", "score", "id", 3)
        .toDF("hr", "rank", "user_id", "n")
        .select(col("hr"), col("user_id"), col("n").cast("long").as("true_n"))
      val counters = Sketches.cmsCountersBy(ev, Seq("hr"), col("user_id"))
      Sketches.cmsEstimatesFromCounters(counters, truth, Seq("hr"), "user_id")
        .select(col("hr"), col("user_id"), col("true_n"), col("cms_est"),
          (col("cms_est") - col("true_n")).as("overcount"))
        .orderBy("hr", "user_id")
    }),

    // PORTABLE Count-Min Sketch (E19e): the frequency member of the sketch
    // triad — 4×256 SUM counters (order-independent, mergeable, map-side
    // combining), point estimate = min over rows, always ≥ truth. Probes =
    // the 10 most frequent tokens; the compared surface includes the
    // overcount, so hash/row/min drift anywhere fails.
    "q_cms_portable" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(filter(TextStats.tokens(col("text")),
          x => length(x) > 0)).as("tok"))
      val truth = toks.groupBy("tok").agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("tok")).limit(10)
      Sketches.cmsEstimates(toks, truth)
        .select(col("tok"), col("true_n"), col("cms_est"),
          (col("cms_est") - col("true_n")).as("overcount"))
        .orderBy(col("true_n").desc, col("tok"))
    }),


    // Sliding-window distinct via REGISTER MERGE (E19g): hourly HLL
    // partials are built ONCE, then every 3-hour sliding window derives
    // purely from the tiny register table (each hourly register feeds the
    // 3 windows that cover it; merge = max) — the sketch-merge payoff: the
    // slide never rescans events. Exact twin computed per window for the
    // compared surface.
    "q_hll_sliding" -> ((s, d) => {
      val ev = t(s, d, "events")
      val hr = date_trunc("hour", col("ts"))
      val hourly = ev.select(hr.as("hr"),
          Sketches.hllBucket(col("user_id")).as("bucket"),
          Sketches.hllRho(col("user_id")).as("rho"))
        .groupBy("hr", "bucket").agg(max(col("rho")).as("register"))
      val winRegs = hourly
        .select(col("hr"), col("bucket"), col("register"),
          explode(sequence(lit(0), lit(2))).as("o"))
        .select(expr("hr + make_interval(0, 0, 0, 0, o)").as("win_hr"),
          col("bucket"), col("register"))
        .groupBy("win_hr", "bucket").agg(max(col("register")).as("register"))
      val est = Sketches.hllEstimateFromRegisters(winRegs, Seq("win_hr"))
      val exact = ev
        .select(hr.as("hr"), col("user_id"),
          explode(sequence(lit(0), lit(2))).as("o"))
        .select(expr("hr + make_interval(0, 0, 0, 0, o)").as("win_hr"),
          col("user_id"))
        .groupBy("win_hr").agg(count_distinct(col("user_id")).as("exact_users"))
      est.join(exact, "win_hr")
        .select(date_format(col("win_hr"), "yyyyMMddHH").as("win_hr"),
          col("buckets_hit"), col("d_denom"), col("est").as("est_users"),
          col("exact_users"))
        .orderBy("win_hr")
    }),


    // PORTABLE quantile sketch (E19c) — oracle-gated sibling of the
    // rows-only percentile_approx row below: equi-width integer histogram
    // (the proven q_histogram bucketing), φ-quantile = smallest bucket with
    // cum ≥ ⌈φ·N⌉ via exact integral arithmetic. Mergeable; the window
    // runs on the ≤ |groups|·128 aggregated frame, never on raw rows.
    "q_quantile_portable" -> ((s, d) => {
      Sketches.histogramQuantiles(t(s, d, "lineitem"), "l_returnflag",
          "l_extendedprice", width = 1000.0, nBuckets = 128,
          phis = Seq(("p50", 1, 2), ("p95", 19, 20)))
        .withColumnRenamed("g", "l_returnflag")
        .orderBy("l_returnflag")
    }),


    // Scalar p50/p95 projections (not the raw array<double>): the driver's
    // rows-only check hashes each output cell, and an array cell is
    // unhashable on the pandas side — same sketch, scalar columns.
    "q_sketch_quantiles" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.95)), lit(10000)).as("q"))
        .select(col("l_returnflag"),
          element_at(col("q"), 1).as("p50"),
          element_at(col("q"), 2).as("p95"))
        .orderBy("l_returnflag")
    }),

    // Margin-based bitext mining (Artetxe & Schwenk ratio margin, mutual
    // argmax): the parallel-corpus miner a multilingual pipeline runs over
    // two embedding corpora. Sides = even/odd vec_ids (disjoint id
    // namespaces, the operator's contract); k = 4 neighbor lists both
    // directions; margin = cos / (mean of the two sides' top-k means);
    // mined = mutual margin-argmax at margin ≥ 1.0 (strictly better than
    // an average neighbor). The oracle restates the full law — strict-fold
    // cosines, rank-ordered top-k means, candidate union, both argmax
    // windows with the smaller-partner tie-break.
    "sim_bitext_mine" -> ((s, d) => {
      val e = t(s, d, "embeddings").where(col("vec_id") < 256)
      Similarity.bitextMine(e.where(col("vec_id") % 2 === 0),
          e.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.0)
        .orderBy("src_id", "tgt_id")
    }),


    // The mined pairs joined back to the documents — the actual PARALLEL
    // CORPUS a translation pipeline emits (aligned text both sides, the
    // margin kept as the pair's quality signal). The joins broadcast the
    // mined set (bounded by min(|S|, |T|) — mutual argmax admits at most
    // one pair per id).
    "sim_bitext_corpus" -> ((s, d) => {
      val e = t(s, d, "embeddings").where(col("vec_id") < 256)
      val mined = Similarity.bitextMine(e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, minMargin = 1.0)
      val docs = t(s, d, "documents")
      mined
        .join(docs.select(col("doc_id").as("src_id"),
          col("text").as("src_text")), "src_id")
        .join(docs.select(col("doc_id").as("tgt_id"),
          col("text").as("tgt_text")), "tgt_id")
        .select(col("src_id"), col("tgt_id"), col("margin"),
          col("src_text"), col("tgt_text"))
        .orderBy("src_id", "tgt_id")
    }),

    // Deterministic hash sample: membership is a pure function of the key,
    // so the oracle re-derives the exact row set (no rand() anywhere).
  )

  // One side of the q_hll_setops oracle: hash → rho → max-per-bucket →
  // 64-bucket spine → the corrected integer estimate, parameterized by the
  // side's WHERE predicate. Mirrors Sketches.{hllRegisters,hllEstimate}.
  private def hllSideCtes(tag: String, pred: String): String = {
    val raw =
      s"((${Sketches.HllEstNumerator}::HUGEINT) // (1000::HUGEINT * d))::BIGINT"
    s"""h$tag AS (SELECT ('0x' || substr(md5(user_id::VARCHAR || 'hll'), 1, 15))::BIGINT AS h
       |  FROM events WHERE $pred),
       |r$tag AS (SELECT h & 63 AS bucket,
       |  CASE WHEN h >> 6 = 0 THEN 55 ELSE 55 - length(bin(h >> 6)) END AS rho FROM h$tag),
       |g$tag AS (SELECT bucket, max(rho) AS register FROM r$tag GROUP BY bucket),
       |f$tag AS (SELECT spine.bucket, coalesce(register, 0)::INT AS register
       |  FROM spine LEFT JOIN g$tag USING (bucket)),
       |e$tag AS (SELECT ${Sketches.hllCorrectedSql(raw, "hits")} AS est FROM (
       |  SELECT sum(CASE WHEN register > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
       |    sum((2.0 ** (55 - register))::BIGINT)::BIGINT AS d
       |  FROM f$tag))""".stripMargin
  }

  // the full bitext-mining restatement (shared by the mined-pairs row and
  // its corpus join): strict-fold cosines over the even/odd split, rank-
  // ordered top-4 means, candidate union, margin, mutual argmax. Ends
  // with CTE `mined(src_id, tgt_id, score, margin)`.
  private def bitextMinedCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id < 256),
       |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
       |x AS (SELECT vec_id AS src_id, v, nm FROM n WHERE vec_id % 2 = 0),
       |y AS (SELECT vec_id AS tgt_id, v, nm FROM n WHERE vec_id % 2 = 1),
       |scored AS (SELECT x.src_id, y.tgt_id,
       |  ${Sql.dot("x.v", "y.v")} / (x.nm * y.nm) AS score
       |  FROM x CROSS JOIN y),
       |fwd AS (SELECT src_id, tgt_id, score, row_number() OVER (
       |  PARTITION BY src_id ORDER BY score DESC, tgt_id)::INT AS rank
       |  FROM scored),
       |bwd AS (SELECT src_id, tgt_id, score, row_number() OVER (
       |  PARTITION BY tgt_id ORDER BY score DESC, src_id)::INT AS rank
       |  FROM scored),
       |favg AS (SELECT src_id, list_reduce(list_prepend(0.0::DOUBLE,
       |    list(score ORDER BY rank)), (a, b) -> a + b) / count(*) AS favg
       |  FROM fwd WHERE rank <= 4 GROUP BY src_id),
       |bavg AS (SELECT tgt_id, list_reduce(list_prepend(0.0::DOUBLE,
       |    list(score ORDER BY rank)), (a, b) -> a + b) / count(*) AS bavg
       |  FROM bwd WHERE rank <= 4 GROUP BY tgt_id),
       |cand AS (SELECT DISTINCT src_id, tgt_id, score FROM (
       |  SELECT src_id, tgt_id, score FROM fwd WHERE rank <= 4
       |  UNION ALL SELECT src_id, tgt_id, score FROM bwd WHERE rank <= 4)),
       |m AS (SELECT c.src_id, c.tgt_id, c.score,
       |  c.score / ((f.favg + b.bavg) / 2.0) AS margin
       |  FROM cand c JOIN favg f USING (src_id) JOIN bavg b USING (tgt_id)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY src_id
       |    ORDER BY margin DESC, tgt_id) AS fr,
       |  row_number() OVER (PARTITION BY tgt_id
       |    ORDER BY margin DESC, src_id) AS br FROM m),
       |mined AS (SELECT src_id, tgt_id, score, margin FROM r
       |  WHERE fr = 1 AND br = 1 AND margin >= 1.0)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_hll_setops" ->
      s"""WITH spine AS (SELECT unnest(range(0, 64)) AS bucket),
         |${hllSideCtes("A", "user_id < 100")},
         |${hllSideCtes("B", "user_id >= 50")},
         |gU AS (SELECT bucket, max(register) AS register FROM (
         |  SELECT * FROM fA UNION ALL SELECT * FROM fB) GROUP BY bucket),
         |eU AS (SELECT ${Sketches.hllCorrectedSql(
             s"((${Sketches.HllEstNumerator}::HUGEINT) // (1000::HUGEINT * d))::BIGINT",
             "hits")} AS est FROM (
         |  SELECT sum(CASE WHEN register > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
         |    sum((2.0 ** (55 - register))::BIGINT)::BIGINT AS d
         |  FROM gU)),
         |ex AS (SELECT count(*)::BIGINT AS exact_intersect FROM
         |  (SELECT DISTINCT user_id FROM events WHERE user_id < 100) xa
         |  JOIN (SELECT DISTINCT user_id FROM events WHERE user_id >= 50) xb
         |  USING (user_id))
         |SELECT eA.est AS est_a, eB.est AS est_b, eU.est AS est_union,
         |  greatest(eA.est + eB.est - eU.est, 0)::BIGINT AS est_intersect,
         |  ex.exact_intersect
         |FROM eA, eB, eU, ex""".stripMargin,

    // both pipelines restated (exact brute rank + the binary two-stage
    // with its 20-deep Hamming shortlist), recall = overlap of the two
    // per-query top-5 id sets
    "sim_recall_binary" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm,
         |  list_reduce(list_concat([0::BIGINT],
         |    list_transform(range(1, 63), i ->
         |      CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1))
         |        ELSE 0::BIGINT END)), (x, y) -> x + y) AS bb
         |  FROM e),
         |exact AS (SELECT query_id, id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) DESC,
         |        c.vec_id) AS rank
         |  FROM b q JOIN b c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
         |  WHERE rank <= 5),
         |short AS (SELECT query_id, id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY 62 - bit_count(xor(q.bb, c.bb)) DESC, c.vec_id)
         |      AS hrank
         |  FROM b q JOIN b c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
         |  WHERE hrank <= 20),
         |bin AS (SELECT query_id, id FROM (
         |  SELECT s.query_id, s.id,
         |    row_number() OVER (PARTITION BY s.query_id
         |      ORDER BY ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) DESC,
         |        s.id) AS rank
         |  FROM short s JOIN b q ON q.vec_id = s.query_id
         |  JOIN b c ON c.vec_id = s.id)
         |  WHERE rank <= 5),
         |h AS (SELECT exact.query_id, count(*) AS n_hit
         |  FROM exact JOIN bin USING (query_id, id) GROUP BY 1)
         |SELECT e.vec_id AS query_id,
         |  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
         |  (coalesce(h.n_hit, 0) * 200000)::BIGINT AS recall_ppm
         |FROM e LEFT JOIN h ON h.query_id = e.vec_id
         |WHERE e.vec_id < 5 ORDER BY query_id""".stripMargin,


    // sign-bit packing (62 value bits), Hamming shortlist with the
    // desc-score/asc-id tie law, strict-fold cosine rerank
    "sim_topk_binary" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm,
         |  list_reduce(list_concat([0::BIGINT],
         |    list_transform(range(1, 63), i ->
         |      CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1))
         |        ELSE 0::BIGINT END)), (x, y) -> x + y) AS bb
         |  FROM e),
         |pre AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |    62 - bit_count(xor(q.bb, c.bb)) AS hs
         |  FROM b q JOIN b c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |short AS (SELECT query_id, id FROM pre
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY hs DESC, id) <= 40),
         |scored AS (SELECT s.query_id, s.id,
         |    ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM short s JOIN b q ON q.vec_id = s.query_id
         |  JOIN b c ON c.vec_id = s.id),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank
         |  FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,


    "sim_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,


    // mirrors Similarity.bitextMine: strict-fold cosines over the
    // even/odd split, rank-ordered top-4 means per side, candidate union
    // of both directions, margin = score / mean of the two side-means,
    // mutual argmax windows with the smaller-partner tie-break
    "sim_bitext_mine" ->
      s"""WITH $bitextMinedCtes
         |SELECT src_id, tgt_id, score, margin FROM mined
         |ORDER BY src_id, tgt_id""".stripMargin,

    // the mining chain joined back to the documents — the actual PARALLEL
    // CORPUS a translation pipeline emits (same mined set, text attached)
    "sim_bitext_corpus" ->
      s"""WITH $bitextMinedCtes
         |SELECT m.src_id, m.tgt_id, m.margin, a.text AS src_text,
         |  b.text AS tgt_text
         |FROM mined m JOIN documents a ON a.doc_id = m.src_id
         |JOIN documents b ON b.doc_id = m.tgt_id
         |ORDER BY m.src_id, m.tgt_id""".stripMargin,


    // mirrors Similarity.pqTopKPinned: the shared pinned-PQ CTE chain
    // (Sql.pqPinnedCtes), a flat-scan ADC over every (query, corpus) pair,
    // score = adc / (qn · sqrt(reconSq)) — every double op in the same
    // order as the Spark plan
    "sim_topk_pq_fixed" ->
      s"""WITH ${Sql.pqPinnedCtes},
         |adc AS (SELECT t.query_id, c.vec_id AS id,
         |  list_reduce(list_prepend(0.0::DOUBLE, list(t.qd ORDER BY c.sub)),
         |    (x, y) -> x + y) AS adot
         |  FROM codes c JOIN qtab t ON t.sub = c.sub AND t.code = c.code
         |  GROUP BY t.query_id, c.vec_id),
         |scored AS (SELECT a.query_id, a.id,
         |  a.adot / (q.qn * sqrt(r.rsq)) AS score
         |  FROM adc a JOIN recon r ON r.vec_id = a.id
         |  JOIN q ON q.query_id = a.query_id
         |  WHERE a.id <> a.query_id)
         |SELECT query_id, rank, id, score FROM (
         |  SELECT query_id, id, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank
         |  FROM scored)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,


    // mirrors Similarity.ivfPqTopKPinned: the same pinned-PQ chain plus
    // IVF — centroids = 8 lowest-id vectors, corpus cell = argmax cosine
    // (coalesce -2 for zero norm, min cent_id ties — dedup_semantic's
    // proven restatement), query probes its top-4 cells, and the ADC sum
    // runs only over candidates whose cell is probed
    "sim_topk_ivfpq_fixed" ->
      s"""WITH ${Sql.pqPinnedCtes},
         |cent AS (SELECT vec_id AS cent_id, v AS cv FROM e
         |  ORDER BY vec_id LIMIT 8),
         |casn AS (SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cent_id AS cell, row_number() OVER (
         |      PARTITION BY e.vec_id ORDER BY
         |        coalesce(${Sql.dot("e.v", "c.cv")} /
         |          (sqrt(${Sql.dot("e.v", "e.v")}) * sqrt(${Sql.dot("c.cv", "c.cv")})),
         |          -2.0) DESC, c.cent_id) AS rn
         |    FROM e CROSS JOIN cent c) WHERE rn = 1),
         |probe AS (SELECT query_id, cell FROM (
         |    SELECT q.query_id, c.cent_id AS cell, row_number() OVER (
         |      PARTITION BY q.query_id ORDER BY
         |        coalesce(${Sql.dot("q.v", "c.cv")} /
         |          (sqrt(${Sql.dot("q.v", "q.v")}) * sqrt(${Sql.dot("c.cv", "c.cv")})),
         |          -2.0) DESC, c.cent_id) AS rn
         |    FROM q CROSS JOIN cent c) WHERE rn <= 4),
         |cand AS (SELECT p.query_id, a.vec_id
         |  FROM casn a JOIN probe p ON p.cell = a.cell),
         |adc AS (SELECT cd.query_id, c.vec_id AS id,
         |  list_reduce(list_prepend(0.0::DOUBLE, list(t.qd ORDER BY c.sub)),
         |    (x, y) -> x + y) AS adot
         |  FROM cand cd
         |  JOIN codes c ON c.vec_id = cd.vec_id
         |  JOIN qtab t ON t.query_id = cd.query_id
         |    AND t.sub = c.sub AND t.code = c.code
         |  GROUP BY cd.query_id, c.vec_id),
         |scored AS (SELECT a.query_id, a.id,
         |  a.adot / (q.qn * sqrt(r.rsq)) AS score
         |  FROM adc a JOIN recon r ON r.vec_id = a.id
         |  JOIN q ON q.query_id = a.query_id
         |  WHERE a.id <> a.query_id)
         |SELECT query_id, rank, id, score FROM (
         |  SELECT query_id, id, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank
         |  FROM scored)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "sim_topk_int8" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |m AS (SELECT vec_id, v,
         |  list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
         |qt AS (SELECT vec_id, CASE WHEN ma = 0
         |    THEN list_transform(v, x -> 0::BIGINT)
         |    ELSE list_transform(v, x -> floor(x * 127.0 / ma + 0.5)::BIGINT)
         |  END AS cv FROM m),
         |n AS (SELECT vec_id, cv,
         |  sqrt((${Sql.intDot("cv", "cv")})::DOUBLE) AS nm FROM qt),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  (${Sql.intDot("q.cv", "c.cv")})::DOUBLE / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "sim_topk_refined" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v,
         |  sqrt(${Sql.dotN("v", "v", 16)}) AS pnm,
         |  sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |pre AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dotN("q.v", "c.v", 16)} / (q.pnm * c.pnm) AS pscore
         |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |short AS (SELECT query_id, id FROM (
         |  SELECT query_id, id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY pscore DESC, id) AS r FROM pre)
         |  WHERE r <= 50),
         |rescored AS (SELECT s.query_id, s.id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM short s
         |  JOIN n q ON q.vec_id = s.query_id
         |  JOIN n c ON c.vec_id = s.id),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM rescored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,


    // mirrors Similarity.hardNegativesTopK: sim_topk's scored join under a
    // label-mismatch predicate (which also excludes the anchor itself)
    "sim_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c
         |  ON q.vec_id < 5 AND c.label <> q.label),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,


    // mirrors Similarity.kmeansAssignPortable(k=8, updates=2): int8 codes,
    // three unrolled exact-integer cosine assignments, two truncating
    // integer-mean updates — fitted centroids AND assignments on the hash
    "sim_kmeans" ->
      s"""WITH ${Sql.int8Codes},
         |${Sql.kmeansUnrolled(8, 2)}
         |SELECT vec_id, cell, score FROM a3 ORDER BY vec_id""".stripMargin,


    // mirrors Similarity.kCenterSelect(k=6): seed = lowest id, then five
    // unrolled greedy rounds — each picks ORDER BY mind DESC, id LIMIT 1
    // and chains least(mind, sqdist-to-pick) with the pick filtered out,
    // the exact per-row fold the engine runs (no cross-row FP reduction)
    "sim_kcenter" -> {
      val rounds = (1 to 5).map { r =>
        val d = s"d$r"; val c = s"c$r"
        val prev = if (r == 1) "e" else s"d${r - 1}"
        val prevC = s"c${r - 1}"
        val mind =
          if (r == 1) Sql.sqDist("p.v", s"$prevC.v")
          else s"least(p.mind, ${Sql.sqDist("p.v", s"$prevC.v")})"
        // mind > 0 gates the pick exactly like kCenterSelect's early stop:
        // once only zero-distance (duplicate) vectors remain, this round's
        // pick CTE is empty and every later round (whose candidate CTE
        // cross-joins it) is empty too, so the unroll returns fewer than k
        // rows on a low-distinct-vector corpus instead of diverging
        s"""$d AS (SELECT p.id, p.v, $mind AS mind
           |  FROM $prev p CROSS JOIN $prevC WHERE p.id <> $prevC.id),
           |$c AS (SELECT id, v, mind FROM $d WHERE mind > 0
           |  ORDER BY mind DESC, id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val picks = (1 to 5)
        .map(r => s"SELECT $r::INT, id, mind FROM c$r")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |c0 AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
         |$rounds
         |SELECT 0::INT AS sel_no, id, NULL::DOUBLE AS radius FROM c0
         |UNION ALL $picks
         |ORDER BY sel_no""".stripMargin
    },


    // mirrors Sampling.capPerGroupSkewSafe over the kmeans cells (kept set
    // identical to the rank-window form, which the oracle restates)
    "sample_cluster_balance" ->
      s"""WITH ${Sql.int8Codes},
         |${Sql.kmeansUnrolled(8, 2)}
         |SELECT vec_id, cell FROM a3
         |QUALIFY row_number() OVER (PARTITION BY cell
         |  ORDER BY ${Sql.unitHash("vec_id::VARCHAR", "bal")} ASC, vec_id ASC) <= 40
         |ORDER BY vec_id""".stripMargin,

    "sim_topk_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  (${Sql.signBucket6})::BIGINT AS bucket FROM embeddings),
         |n AS (SELECT vec_id, v, bucket, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id < 5
         |  AND c.vec_id <> q.vec_id),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,


    // mirrors Similarity.mmrRerank(kCand=10, kSel=5): brute candidates,
    // candidate-pair cosines, then the greedy rounds unrolled — each
    // round's penalty joins the accumulated selection
    "sim_mmr_rerank" -> {
      val rounds = (2 to 5).map { r =>
        val prev = s"sa${r - 1}"
        s"""pen$r AS (SELECT s.query_id, s.a AS id, max(s.sim) AS maxsim
           |  FROM sims s JOIN $prev t ON t.query_id = s.query_id AND t.id = s.b
           |  GROUP BY 1, 2),
           |cr$r AS (SELECT c.query_id, c.id, c.rel - 0.5 * p.maxsim AS sc
           |  FROM cands c JOIN pen$r p ON p.query_id = c.query_id AND p.id = c.id
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev t
           |    WHERE t.query_id = c.query_id AND t.id = c.id)),
           |sel$r AS (SELECT query_id, $r AS sel_rank, id, sc AS mmr FROM (
           |  SELECT query_id, id, sc, row_number() OVER (PARTITION BY query_id
           |    ORDER BY sc DESC, id) AS rn FROM cr$r) WHERE rn = 1),
           |sa$r AS (SELECT * FROM $prev UNION ALL SELECT * FROM sel$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |bsc AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |brk AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id) AS rank FROM bsc),
         |cands AS (SELECT query_id, id, score AS rel FROM brk WHERE rank <= 10),
         |cv AS (SELECT c.query_id, c.id, n.v, n.nm FROM cands c
         |  JOIN n ON n.vec_id = c.id),
         |sims AS (SELECT x.query_id, x.id AS a, y.id AS b,
         |  ${Sql.dot("x.v", "y.v")} / (x.nm * y.nm) AS sim
         |  FROM cv x JOIN cv y ON x.query_id = y.query_id AND x.id <> y.id),
         |sa1 AS (SELECT query_id, 1 AS sel_rank, id, rel AS mmr FROM (
         |  SELECT query_id, id, rel, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, id) AS rn FROM cands) WHERE rn = 1),
         |$rounds
         |SELECT query_id, sel_rank, id, mmr FROM sa5
         |ORDER BY query_id, sel_rank""".stripMargin
    },


    // mirrors sim_recall_eval: the brute and LSH chains side by side, then
    // the per-query overlap census
    "sim_recall_eval" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  (${Sql.signBucket6})::BIGINT AS bucket FROM embeddings),
         |n AS (SELECT vec_id, v, bucket, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |bsc AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |brk AS (SELECT query_id, id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id) AS rank FROM bsc),
         |bf AS (SELECT query_id, id FROM brk WHERE rank <= 5),
         |lsc AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id < 5
         |  AND c.vec_id <> q.vec_id),
         |lrk AS (SELECT query_id, id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id) AS rank FROM lsc),
         |ls AS (SELECT query_id, id FROM lrk WHERE rank <= 5),
         |mpr AS (SELECT vec_id AS query_id, v, nm,
         |  unnest(list_concat([bucket],
         |    list_transform(range(0, 6), i -> xor(bucket, 1::BIGINT << i)))) AS pbucket
         |  FROM n WHERE vec_id < 5),
         |msc AS (SELECT p.query_id, c.vec_id AS id,
         |  ${Sql.dot("p.v", "c.v")} / (p.nm * c.nm) AS score
         |  FROM mpr p JOIN n c ON p.pbucket = c.bucket AND c.vec_id <> p.query_id),
         |mrk AS (SELECT query_id, id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id) AS rank FROM msc),
         |ms AS (SELECT query_id, id FROM mrk WHERE rank <= 5),
         |tn AS (SELECT query_id, count(*)::BIGINT AS n_true FROM bf GROUP BY 1),
         |h1 AS (SELECT bf.query_id, count(*)::BIGINT AS hits_lsh
         |  FROM bf JOIN ls USING (query_id, id) GROUP BY 1),
         |h2 AS (SELECT bf.query_id, count(*)::BIGINT AS hits_mp
         |  FROM bf JOIN ms USING (query_id, id) GROUP BY 1)
         |SELECT tn.query_id, n_true,
         |  coalesce(hits_lsh, 0)::BIGINT AS hits_lsh,
         |  coalesce(hits_mp, 0)::BIGINT AS hits_mp,
         |  ((coalesce(hits_lsh, 0) * 1000000) // n_true)::BIGINT AS recall_lsh_fp,
         |  ((coalesce(hits_mp, 0) * 1000000) // n_true)::BIGINT AS recall_mp_fp
         |FROM tn LEFT JOIN h1 USING (query_id) LEFT JOIN h2 USING (query_id)
         |ORDER BY query_id""".stripMargin,


    // full-probe IVF ≡ brute force, so this is sim_topk's oracle verbatim
    "sim_topk_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // the appended index at nProbe = nCells is exact → brute force, same
    // law the sim_topk_ivf gate pins
    "sim_ivf_append" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "sim_topk_ivf_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c
         |  ON q.vec_id < 5 AND c.vec_id <> q.vec_id AND c.label = 2),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // entryMod = 1 ⇒ the filtered traversal is exactly the brute force
    // over eligible (label = 2) rows — the same restatement shape as the
    // ivf_filtered oracle
    "sim_topk_graph_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM n q JOIN n c
         |  ON q.vec_id < 5 AND c.vec_id <> q.vec_id AND c.label = 2),
         |ranked AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank FROM scored)
         |SELECT query_id, rank, id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors q_hll_sliding: hourly registers → 3-window explode →
    // max-merge → the spine-free estimate; exact twin via the same explode
    "q_hll_sliding" ->
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS hr, user_id,
         |    ('0x' || substr(md5(user_id::VARCHAR || 'hll'), 1, 15))::BIGINT AS x
         |  FROM events),
         |r AS (SELECT hr, x & 63 AS bucket,
         |  CASE WHEN (x >> 6) = 0 THEN 55
         |       ELSE 55 - length(bin(x >> 6)) END AS rho FROM h),
         |regs AS (SELECT hr, bucket, max(rho) AS register FROM r GROUP BY 1, 2),
         |m AS (SELECT hr + o.o * INTERVAL 1 HOUR AS win_hr, bucket, register
         |  FROM regs, (SELECT unnest(range(0, 3)) AS o) o),
         |wr AS (SELECT win_hr, bucket, max(register) AS register FROM m GROUP BY 1, 2),
         |agg AS (SELECT win_hr, count(*)::BIGINT AS buckets_hit,
         |  sum((2.0 ** (55 - register))::BIGINT)::BIGINT AS d_obs FROM wr GROUP BY 1),
         |d AS (SELECT win_hr, buckets_hit,
         |  (d_obs + (64 - buckets_hit) * (1::BIGINT << 55))::BIGINT AS d_denom FROM agg),
         |est AS (SELECT win_hr, buckets_hit, d_denom,
         |  ${Sketches.hllCorrectedSql(
             s"((${Sketches.HllEstNumerator}::HUGEINT) // (1000::HUGEINT * d_denom))::BIGINT",
             "buckets_hit")}
         |    AS est_users FROM d),
         |ex AS (SELECT hr + o.o * INTERVAL 1 HOUR AS win_hr,
         |  count(DISTINCT user_id)::BIGINT AS exact_users
         |  FROM h, (SELECT unnest(range(0, 3)) AS o) o GROUP BY 1)
         |SELECT strftime(est.win_hr, '%Y%m%d%H') AS win_hr, buckets_hit,
         |  d_denom, est_users, exact_users
         |FROM est JOIN ex USING (win_hr) ORDER BY win_hr""".stripMargin,

    // mirrors q_quantile_windowed: the E19c histogram law per hour

    // mirrors Graph.triangleStats over the stride-1,2,3 circulant: same
    // canonical undirected edges, same (degree, id) orientation, same
    // wedge + closure joins
    "graph_triangles" ->
      """WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, (doc_id + k.k) % nn.n AS dst
        |  FROM documents, nn, (SELECT unnest([1, 2, 3]) AS k) k),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |deg AS (SELECT x AS node, count(*)::BIGINT AS deg FROM (
        |  SELECT a AS x FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
        |wd AS (SELECT und.a, und.b, da.deg AS da, db.deg AS db FROM und
        |  JOIN deg da ON da.node = und.a JOIN deg db ON db.node = und.b),
        |o AS (SELECT
        |  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
        |  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
        |  FROM wd),
        |w AS (SELECT e1.u AS u, e1.v AS v, e2.v AS w
        |  FROM o e1 JOIN o e2 ON e1.v = e2.u),
        |tri AS (SELECT count(*)::BIGINT AS n_triangles
        |  FROM w JOIN o ON w.u = o.u AND w.w = o.v)
        |SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
        |  (SELECT count(*) FROM und)::BIGINT AS n_edges,
        |  (SELECT count(*) FROM w)::BIGINT AS n_wedges,
        |  n_triangles
        |FROM tri""".stripMargin,


    // mirrors cmsCountersBy(hr) + cmsEstimatesFromCounters: per (hr, row j)
    // a bucket-keyed SUM counter frame under salt cms<j>; probes = each
    // hour's 3 most active users (n desc, user_id asc); estimate = least
    // of the four hour-local counters
    "q_cms_windowed" -> {
      def b(expr: String, j: Int) =
        s"(('0x' || substr(md5($expr || 'cms$j'), 1, 15))::BIGINT & 255)"
      val counters = (0 until 4).map(j =>
        s"c$j AS (SELECT hr, ${b("user_id::VARCHAR", j)} AS b, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2)")
        .mkString(",\n")
      val joins = (0 until 4).map(j =>
        s"LEFT JOIN c$j x$j ON x$j.hr = t.hr AND ${b("t.user_id::VARCHAR", j)} = x$j.b")
        .mkString("\n")
      val m = (0 until 4).map(j => s"coalesce(x$j.c, 0)").mkString("least(", ", ", ")")
      s"""WITH ev AS (SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hr,
         |    user_id FROM events),
         |cnt AS (SELECT hr, user_id, count(*)::BIGINT AS true_n
         |  FROM ev GROUP BY hr, user_id),
         |truth AS (SELECT hr, user_id, true_n FROM (
         |  SELECT hr, user_id, true_n, row_number() OVER (PARTITION BY hr
         |    ORDER BY true_n DESC, user_id) AS rk FROM cnt) WHERE rk <= 3),
         |$counters
         |SELECT t.hr AS hr, t.user_id, t.true_n, $m::BIGINT AS cms_est,
         |  ($m - t.true_n)::BIGINT AS overcount
         |FROM truth t
         |$joins
         |ORDER BY hr, user_id""".stripMargin
    },

    // mirrors Sketches.cmsEstimates(d=4, w=256): per row j a bucket-keyed
    // SUM counter frame under salt cms<j>; estimate = least of the four
    "q_cms_portable" -> {
      def b(expr: String, j: Int) =
        s"(('0x' || substr(md5($expr || 'cms$j'), 1, 15))::BIGINT & 255)"
      val counters = (0 until 4).map(j =>
        s"c$j AS (SELECT ${b("tok", j)} AS b, count(*)::BIGINT AS c FROM tk GROUP BY 1)")
        .mkString(",\n")
      val joins = (0 until 4).map(j =>
        s"JOIN c$j x$j ON ${b("t.tok", j)} = x$j.b").mkString("\n")
      val m = (0 until 4).map(j => s"x$j.c").mkString("least(", ", ", ")")
      s"""WITH tk AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
         |    x -> x <> '')) AS tok FROM documents),
         |truth AS (SELECT tok, count(*)::BIGINT AS true_n FROM tk
         |  GROUP BY tok ORDER BY true_n DESC, tok LIMIT 10),
         |$counters
         |SELECT t.tok, t.true_n, $m::BIGINT AS cms_est,
         |  ($m - t.true_n)::BIGINT AS overcount
         |FROM truth t
         |$joins
         |ORDER BY true_n DESC, tok""".stripMargin
    },


    // mirrors Sketches.hllEstimateBy grouped by hour: observed-bucket max,
    // closed-form 2^55 per empty register, integral-division estimate
    "q_hll_windowed" ->
      s"""WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hr,
         |    ('0x' || substr(md5(user_id::VARCHAR || 'hll'), 1, 15))::BIGINT AS h
         |  FROM events),
         |r AS (SELECT hr, h & 63 AS bucket,
         |  CASE WHEN (h >> 6) = 0 THEN 55
         |       ELSE 55 - length(bin(h >> 6)) END AS rho FROM h),
         |regs AS (SELECT hr, bucket, max(rho) AS register FROM r GROUP BY hr, bucket),
         |agg AS (SELECT hr, count(*)::BIGINT AS buckets_hit,
         |  sum((2.0 ** (55 - register))::BIGINT)::BIGINT AS d_obs
         |  FROM regs GROUP BY hr),
         |d AS (SELECT hr, buckets_hit,
         |  (d_obs + (64 - buckets_hit) * (1::BIGINT << 55))::BIGINT AS d_denom
         |  FROM agg),
         |est AS (SELECT hr, buckets_hit, d_denom,
         |  ${Sketches.hllCorrectedSql(
             s"((${Sketches.HllEstNumerator}::HUGEINT) // (1000::HUGEINT * d_denom))::BIGINT",
             "buckets_hit")}
         |    AS est_users FROM d),
         |ex AS (SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hr,
         |  count(DISTINCT user_id)::BIGINT AS exact_users FROM events GROUP BY 1)
         |SELECT est.hr, buckets_hit, d_denom, est_users, exact_users
         |FROM est JOIN ex USING (hr) ORDER BY hr""".stripMargin,


    // mirrors Sketches.histogramQuantiles(width=1000, n=128, p50, p95):
    // capped equi-width buckets, per-group cumulative counts, smallest
    // bucket with cum ≥ the exact integral ceiling threshold
    "q_quantile_portable" ->
      """WITH c AS (SELECT l_returnflag AS g,
        |    least(floor(l_extendedprice / 1000.0), 127)::INT AS bucket,
        |    count(*)::BIGINT AS c FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT g, bucket, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY bucket)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY g)::BIGINT AS n FROM c),
        |p50 AS (SELECT g, min(bucket)::INT AS p50_bucket FROM cum
        |  WHERE cum >= (n * 1 + 1) // 2 GROUP BY g),
        |p95 AS (SELECT g, min(bucket)::INT AS p95_bucket FROM cum
        |  WHERE cum >= (n * 19 + 19) // 20 GROUP BY g),
        |base AS (SELECT g, max(n)::BIGINT AS n FROM cum GROUP BY g)
        |SELECT base.g AS l_returnflag, n,
        |  p50_bucket, ((p50_bucket + 1) * 1000.0)::DOUBLE AS p50_hi,
        |  p95_bucket, ((p95_bucket + 1) * 1000.0)::DOUBLE AS p95_hi
        |FROM base JOIN p50 USING (g) JOIN p95 USING (g)
        |ORDER BY l_returnflag""".stripMargin,


    // mirrors Sketches.hllRegisters + hllEstimate: 60-bit md5 hash, low 6
    // bits → bucket, rho = 55 − bitlength(rem) via bin() (55 when rem=0),
    // D = Σ 2^(55−register) as exact integers, est = the 24-digit decimal
    // numerator integral-divided by 1000·D (HUGEINT here, DECIMAL(38,0) div
    // on the Spark side — both truncate toward zero on positives)
    "q_hll_portable" ->
      s"""WITH h AS (SELECT ('0x' || substr(md5(user_id::VARCHAR || 'hll'), 1, 15))::BIGINT AS h
         |  FROM events),
         |b AS (SELECT h & 63 AS bucket, h >> 6 AS rem FROM h),
         |r AS (SELECT bucket,
         |  CASE WHEN rem = 0 THEN 55 ELSE 55 - length(bin(rem)) END AS rho FROM b),
         |regs AS (SELECT bucket, max(rho) AS register FROM r GROUP BY bucket),
         |spine AS (SELECT unnest(range(0, 64)) AS bucket),
         |f AS (SELECT spine.bucket, coalesce(register, 0)::INT AS register
         |  FROM spine LEFT JOIN regs USING (bucket)),
         |d AS (SELECT sum((2.0 ** (55 - register))::BIGINT)::BIGINT AS d_denom FROM f),
         |hits AS (SELECT sum(CASE WHEN register > 0 THEN 1 ELSE 0 END)::BIGINT
         |  AS buckets_hit FROM f),
         |est AS (SELECT d_denom,
         |  ${Sketches.hllCorrectedSql(
             s"((${Sketches.HllEstNumerator}::HUGEINT) // (1000::HUGEINT * d_denom))::BIGINT",
             "buckets_hit")}
         |    AS est_users FROM d, hits),
         |ex AS (SELECT count(DISTINCT user_id)::BIGINT AS exact_users FROM events)
         |SELECT bucket, register, d_denom, est_users, exact_users
         |FROM f, est, ex ORDER BY bucket""".stripMargin,

    // DuckDB regexp_replace defaults to first-match-only — the 'g' flag
    // makes it global like Spark's

    "graph_pagerank" ->
      """WITH eb AS (SELECT DISTINCT o_custkey AS src,
        |    1000000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb),
        |deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, 1000000::BIGINT AS rank FROM nodes),
        |s1 AS (SELECT e.dst AS node, sum(r.rank // d.outdeg) AS in_sum
        |  FROM e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node = e.src
        |  GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |  (150000 + (85 * COALESCE(s.in_sum, 0)) // 100)::BIGINT AS rank
        |  FROM nodes n LEFT JOIN s1 s ON s.node = n.node),
        |s2 AS (SELECT e.dst AS node, sum(r.rank // d.outdeg) AS in_sum
        |  FROM e JOIN deg d ON d.src = e.src JOIN r1 r ON r.node = e.src
        |  GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |  (150000 + (85 * COALESCE(s.in_sum, 0)) // 100)::BIGINT AS rank
        |  FROM nodes n LEFT JOIN s2 s ON s.node = n.node),
        |s3 AS (SELECT e.dst AS node, sum(r.rank // d.outdeg) AS in_sum
        |  FROM e JOIN deg d ON d.src = e.src JOIN r2 r ON r.node = e.src
        |  GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |  (150000 + (85 * COALESCE(s.in_sum, 0)) // 100)::BIGINT AS rank
        |  FROM nodes n LEFT JOIN s3 s ON s.node = n.node)
        |SELECT node, rank FROM r3 ORDER BY node""".stripMargin,


    // Restates synthUrl's construction and the EXPECTED parse fields per
    // branch (not a second regex parse — zero regex-dialect coupling):
    // a wrong offset, missed lowercase, kept default port, or unstripped
    // trailing dot on the Spark side hash-fails against these literals.
    "text_url_parse" ->
      s"""WITH u AS (SELECT doc_id, source AS s, doc_id % 5 AS m FROM documents)
         |SELECT doc_id,
         |  ${Sql.urlCase} AS url,
         |  CASE m WHEN 0 THEN 'https' WHEN 1 THEN 'http' WHEN 2 THEN 'https'
         |    WHEN 3 THEN 'http' ELSE 'ftp' END AS scheme,
         |  ${Sql.urlHostCase} AS host,
         |  (CASE m WHEN 0 THEN 443 WHEN 1 THEN 8080 WHEN 3 THEN 80
         |    ELSE NULL END)::INT AS port,
         |  CASE m WHEN 0 THEN 'example.co.uk' WHEN 4 THEN 'example.org'
         |    ELSE 'example.com' END AS reg_domain,
         |  CASE m WHEN 0 THEN '/wiki/' || doc_id WHEN 1 THEN '/a/b/c'
         |    WHEN 2 THEN '/assets/' || doc_id || '.js' WHEN 3 THEN ''
         |    ELSE '/pub/' || doc_id END AS path,
         |  CASE m WHEN 0 THEN 'q=spark&lang=en' WHEN 2 THEN 'v=2&x='
         |    ELSE NULL END AS "query",
         |  CASE m WHEN 0 THEN 'Top' WHEN 4 THEN 'readme'
         |    ELSE NULL END AS frag,
         |  ${Sql.urlCanonCase} AS canon_url
         |FROM u ORDER BY doc_id""".stripMargin,


    // branch hosts → branch reg domains; blocked = example.org (branch 4)
    // and example.co.uk (branch 0) — survivors are branches 1/2/3
    "curation_domain_filter" ->
      s"""WITH u AS (SELECT doc_id, source AS s, doc_id % 5 AS m FROM documents)
         |SELECT doc_id, ${Sql.urlHostCase} AS host,
         |  CASE m WHEN 0 THEN 'example.co.uk' WHEN 4 THEN 'example.org'
         |    ELSE 'example.com' END AS reg_domain
         |FROM u WHERE m IN (1, 2, 3)
         |ORDER BY doc_id""".stripMargin,


    // base + fragment-twin rows both restate to the branch's canonical
    // URL; the group-by is the dedup — a canonicalizer that kept the
    // fragment, the default port, or host case would split groups and
    // hash-fail
    "dedup_url" ->
      s"""WITH u AS (SELECT doc_id, source AS s, doc_id % 5 AS m FROM documents),
         |c AS (SELECT doc_id, ${Sql.urlCanonCase} AS canon_url FROM u
         |  UNION ALL
         |  SELECT doc_id + 1000000, ${Sql.urlCanonCase} AS canon_url FROM u)
         |SELECT canon_url, min(doc_id)::BIGINT AS survivor_id,
         |  count(*)::BIGINT AS n_urls
         |FROM c GROUP BY 1 ORDER BY canon_url""".stripMargin,


    // Same construction, then the stride host link graph (id+1, id+29)
    // and the SAME unrolled integer PageRank as graph_pagerank, joined
    // back per document through the arithmetic host id.
    "curation_host_rank" ->
      s"""WITH u AS (SELECT doc_id, source AS s, doc_id % 5 AS m FROM documents),
         |h AS (SELECT doc_id, ${Sql.urlHostCase} AS host,
         |  (regexp_extract(s, 'src([0-9]+)', 1)::BIGINT * 5 + m)::BIGINT AS host_id
         |  FROM u),
         |e AS (SELECT a.host_id AS src, b.host_id AS dst
         |  FROM h a JOIN h b ON b.doc_id = a.doc_id + 1
         |  UNION
         |  SELECT a.host_id, b.host_id
         |  FROM h a JOIN h b ON b.doc_id = a.doc_id + 29),
         |${Sql.pagerankUnrolled(3)}
         |SELECT h.doc_id, h.host, r.rank AS host_rank
         |FROM h LEFT JOIN r3 r ON r.node = h.host_id
         |ORDER BY doc_id""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  (${Sql.signBucket6})::BIGINT AS bucket FROM embeddings),
         |n AS (SELECT vec_id, v, bucket, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |pr AS (SELECT vec_id, v, nm,
         |  unnest(list_concat([bucket],
         |    list_transform(range(0, 6), i -> xor(bucket, 1::BIGINT << i)))) AS pbucket
         |  FROM n),
         |cand AS (SELECT a.vec_id AS id, b.vec_id AS nbr_id,
         |  ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
         |  FROM pr a JOIN n b ON a.pbucket = b.bucket AND a.vec_id <> b.vec_id)
         |SELECT id, rank::INT AS rank, nbr_id, score FROM (
         |  SELECT id, nbr_id, score,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY id, rank""".stripMargin,

    // the append law end-to-end: old graph (6-bit adaptive bucket rule
    // over vec_id < 300), batch graph (5-bit rule over the 200 appended),
    // exact new→old search (entryMod = 1 ⇒ all-pairs top-k), the
    // reciprocal patch of touched old nodes, untouched edges verbatim.
    // top-k(top-k(A) ∪ top-k(B)) = top-k(A ∪ B) for disjoint candidate
    // sets, so the oracle ranks the raw candidate unions directly.
    "sim_graph_append" -> {
      def bucketed(src: String, bits: Int, tag: String): String =
        s"""${tag}b AS (SELECT vec_id, v, nm,
           |  (${Sql.signBucketNOver(bits, "v")})::BIGINT AS bucket FROM $src),
           |${tag}pr AS (SELECT vec_id, v, nm,
           |  unnest(list_concat([bucket],
           |    list_transform(range(0, $bits), i -> xor(bucket, 1::BIGINT << i)))) AS pbucket
           |  FROM ${tag}b),
           |${tag}cand AS (SELECT a.vec_id AS id, b.vec_id AS nbr_id,
           |  ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
           |  FROM ${tag}pr a JOIN ${tag}b b
           |  ON a.pbucket = b.bucket AND a.vec_id <> b.vec_id)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |old AS (SELECT * FROM n WHERE vec_id < 300),
         |neu AS (SELECT * FROM n WHERE vec_id >= 300),
         |${bucketed("old", 6, "o")},
         |g0 AS (SELECT id, nbr_id, score, rank FROM (
         |  SELECT id, nbr_id, score,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
         |  FROM ocand) WHERE rank <= 5),
         |${bucketed("neu", 5, "x")},
         |socand AS (SELECT q.vec_id AS id, c.vec_id AS nbr_id,
         |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
         |  FROM neu q CROSS JOIN old c),
         |newe AS (SELECT id, nbr_id, score, rank FROM (
         |  SELECT id, nbr_id, score,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
         |  FROM (SELECT * FROM socand UNION ALL SELECT * FROM xcand))
         |  WHERE rank <= 5),
         |rev AS (SELECT nbr_id AS id, id AS nbr_id, score FROM newe
         |  WHERE nbr_id < 300),
         |touched AS (SELECT DISTINCT id FROM rev),
         |patched AS (SELECT id, nbr_id, score, rank FROM (
         |  SELECT id, nbr_id, score,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
         |  FROM (SELECT g0.id, g0.nbr_id, g0.score FROM g0
         |      JOIN touched USING (id)
         |    UNION ALL SELECT id, nbr_id, score FROM rev))
         |  WHERE rank <= 5)
         |SELECT id, rank::INT AS rank, nbr_id, score FROM (
         |  SELECT id, nbr_id, score, rank FROM g0
         |    WHERE id NOT IN (SELECT id FROM touched)
         |  UNION ALL SELECT id, nbr_id, score, rank FROM patched
         |  UNION ALL SELECT id, nbr_id, score, rank FROM newe)
         |ORDER BY id, rank""".stripMargin
    },

    "sim_topk_graph" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  (${Sql.signBucket6})::BIGINT AS bucket FROM embeddings),
         |n AS (SELECT vec_id, v, bucket, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |pr AS (SELECT vec_id, v, nm,
         |  unnest(list_concat([bucket],
         |    list_transform(range(0, 6), i -> xor(bucket, 1::BIGINT << i)))) AS pbucket
         |  FROM n),
         |gcand AS (SELECT a.vec_id AS id, b.vec_id AS nbr_id,
         |  ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
         |  FROM pr a JOIN n b ON a.pbucket = b.bucket AND a.vec_id <> b.vec_id),
         |graph AS (SELECT id, nbr_id FROM (
         |  SELECT id, nbr_id, row_number() OVER (
         |    PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rk FROM gcand)
         |  WHERE rk <= 5),
         |q AS (SELECT vec_id AS query_id, v AS qv, nm AS qnm FROM n WHERE vec_id < 5),
         |f0 AS (SELECT query_id, id FROM (
         |  SELECT q.query_id, c.vec_id AS id, row_number() OVER (
         |    PARTITION BY q.query_id
         |    ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, c.vec_id) AS rk
         |  FROM q JOIN n c ON c.vec_id % 8 = 0 AND c.vec_id <> q.query_id)
         |  WHERE rk <= 16),
         |c1 AS (SELECT DISTINCT query_id, id FROM (
         |  SELECT query_id, id FROM f0
         |  UNION ALL
         |  SELECT f0.query_id, g.nbr_id AS id FROM f0 JOIN graph g ON f0.id = g.id)),
         |f1 AS (SELECT query_id, id FROM (
         |  SELECT c1.query_id, c1.id, row_number() OVER (
         |    PARTITION BY c1.query_id
         |    ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, c1.id) AS rk
         |  FROM c1 JOIN q ON q.query_id = c1.query_id
         |  JOIN n c ON c.vec_id = c1.id
         |  WHERE c1.id <> c1.query_id) WHERE rk <= 16),
         |c2 AS (SELECT DISTINCT query_id, id FROM (
         |  SELECT query_id, id FROM f1
         |  UNION ALL
         |  SELECT f1.query_id, g.nbr_id AS id FROM f1 JOIN graph g ON f1.id = g.id)),
         |f2 AS (SELECT query_id, id FROM (
         |  SELECT c2.query_id, c2.id, row_number() OVER (
         |    PARTITION BY c2.query_id
         |    ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, c2.id) AS rk
         |  FROM c2 JOIN q ON q.query_id = c2.query_id
         |  JOIN n c ON c.vec_id = c2.id
         |  WHERE c2.id <> c2.query_id) WHERE rk <= 16)
         |SELECT query_id, rank, id, score FROM (
         |  SELECT f2.query_id, f2.id AS id,
         |    ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) AS score,
         |    row_number() OVER (PARTITION BY f2.query_id
         |      ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, f2.id)::INT AS rank
         |  FROM f2 JOIN q ON q.query_id = f2.query_id
         |  JOIN n c ON c.vec_id = f2.id
         |  WHERE f2.id <> f2.query_id)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,


    // the shared hierarchical descent CTEs + the final top-10 re-rank
    "sim_topk_hnsw" ->
      s"""WITH $hnswOracleCtes
         |SELECT query_id, rank, id, score FROM (
         |  SELECT f.query_id, f.id AS id,
         |    ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) AS score,
         |    row_number() OVER (PARTITION BY f.query_id
         |      ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, f.id)::INT AS rank
         |  FROM f0_2 f JOIN q ON q.query_id = f.query_id
         |  JOIN n c ON c.vec_id = f.id
         |  WHERE f.id <> f.query_id)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // the same descent (tombstoned nodes still route the beam), with the
    // exclusion applied on the final candidate set before the rank cut
    "sim_hnsw_tombstone" ->
      s"""WITH $hnswOracleCtes
         |SELECT query_id, rank, id, score FROM (
         |  SELECT f.query_id, f.id AS id,
         |    ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) AS score,
         |    row_number() OVER (PARTITION BY f.query_id
         |      ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, f.id)::INT AS rank
         |  FROM f0_2 f JOIN q ON q.query_id = f.query_id
         |  JOIN n c ON c.vec_id = f.id
         |  WHERE f.id <> f.query_id AND f.id % 7 <> 3)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // search ∘ build ≡ hnswTopK (ExtSpec law), so the prebuilt
    // row gates against the SAME descent restatement
    "sim_hnsw_prebuilt" ->
      s"""WITH $hnswOracleCtes
         |SELECT query_id, rank, id, score FROM (
         |  SELECT f.query_id, f.id AS id,
         |    ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) AS score,
         |    row_number() OVER (PARTITION BY f.query_id
         |      ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, f.id)::INT AS rank
         |  FROM f0_2 f JOIN q ON q.query_id = f.query_id
         |  JOIN n c ON c.vec_id = f.id
         |  WHERE f.id <> f.query_id)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // per-layer restatement of the hierarchical append: the md5 level law
    // (maxLevel = 1: level 1 ⟺ h ≡ 0 mod 8), then for each layer the
    // sim_graph_append program — old bucket graph (6/4-bit adaptive
    // widths at 300/34 nodes), batch bucket rule (5/4 bits at 200/21),
    // exact new→old search, reciprocal patch, untouched edges verbatim
    "sim_hnsw_append" -> {
      def bucketed(src: String, bits: Int, tag: String): String =
        s"""${tag}b AS (SELECT vec_id, v, nm,
           |  (${Sql.signBucketNOver(bits, "v")})::BIGINT AS bucket FROM $src),
           |${tag}pr AS (SELECT vec_id, v, nm,
           |  unnest(list_concat([bucket],
           |    list_transform(range(0, $bits), i -> xor(bucket, 1::BIGINT << i)))) AS pbucket
           |  FROM ${tag}b),
           |${tag}cand AS (SELECT a.vec_id AS id, b.vec_id AS nbr_id,
           |  ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
           |  FROM ${tag}pr a JOIN ${tag}b b
           |  ON a.pbucket = b.bucket AND a.vec_id <> b.vec_id)""".stripMargin
      def levelBlock(l: Int, oldBits: Int, batchBits: Int): String =
        s"""o$l AS (SELECT n.vec_id, n.v, n.nm FROM n JOIN lv USING (vec_id)
           |  WHERE n.vec_id < 300 AND lv.lvl >= $l),
           |x$l AS (SELECT n.vec_id, n.v, n.nm FROM n JOIN lv USING (vec_id)
           |  WHERE n.vec_id >= 300 AND lv.lvl >= $l),
           |${bucketed(s"o$l", oldBits, s"og$l")},
           |g$l AS (SELECT id, nbr_id, score, rank FROM (
           |  SELECT id, nbr_id, score,
           |    row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
           |  FROM og${l}cand) WHERE rank <= 5),
           |${bucketed(s"x$l", batchBits, s"xg$l")},
           |so$l AS (SELECT q.vec_id AS id, c.vec_id AS nbr_id,
           |  ${Sql.dot("q.v", "c.v")} / (q.nm * c.nm) AS score
           |  FROM x$l q CROSS JOIN o$l c),
           |ne$l AS (SELECT id, nbr_id, score, rank FROM (
           |  SELECT id, nbr_id, score,
           |    row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
           |  FROM (SELECT * FROM so$l UNION ALL SELECT * FROM xg${l}cand))
           |  WHERE rank <= 5),
           |rv$l AS (SELECT nbr_id AS id, id AS nbr_id, score FROM ne$l
           |  WHERE nbr_id < 300),
           |tc$l AS (SELECT DISTINCT id FROM rv$l),
           |pt$l AS (SELECT id, nbr_id, score, rank FROM (
           |  SELECT id, nbr_id, score,
           |    row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
           |  FROM (SELECT g$l.id, g$l.nbr_id, g$l.score FROM g$l
           |      JOIN tc$l USING (id)
           |    UNION ALL SELECT id, nbr_id, score FROM rv$l))
           |  WHERE rank <= 5),
           |out$l AS (
           |  SELECT $l AS level, id, nbr_id, score, rank FROM g$l
           |    WHERE id NOT IN (SELECT id FROM tc$l)
           |  UNION ALL SELECT $l, id, nbr_id, score, rank FROM pt$l
           |  UNION ALL SELECT $l, id, nbr_id, score, rank FROM ne$l)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |lv AS (SELECT vec_id,
         |  (CASE WHEN ('0x' || substr(md5(vec_id::VARCHAR || 'hnsw'), 1, 15))::BIGINT % 8 = 0
         |    THEN 1 ELSE 0 END) AS lvl FROM n),
         |${levelBlock(0, 6, 5)},
         |${levelBlock(1, 4, 4)}
         |SELECT level::INT AS level, id, rank::INT AS rank, nbr_id, score
         |FROM (SELECT * FROM out0 UNION ALL SELECT * FROM out1)
         |ORDER BY level, id, rank""".stripMargin
    },


    // the same descent CTEs + the flat equal-budget chain (5 entries at
    // vec_id % 100 = 0, 2 hops on the base graph) + brute-force truth and
    // per-query hit counts
    "sim_recall_graph" ->
      s"""WITH $hnswOracleCtes,
         |ef AS (SELECT q.query_id, c.vec_id AS id FROM q
         |  JOIN n c ON c.vec_id % 100 = 0),
         |${beamRankCte("ff_0", "ef", "n0", 16)},
         |${beamExpandCte("cf_1", "ff_0", "g0")},
         |${beamRankCte("ff_1", "cf_1", "n0", 16)},
         |${beamExpandCte("cf_2", "ff_1", "g0")},
         |${beamRankCte("ff_2", "cf_2", "n0", 16)},
         |${beamRankCte("flat5", "ff_2", "n0", 5)},
         |${beamRankCte("hh5", "f0_2", "n0", 5)},
         |bf AS (SELECT query_id, id FROM (
         |  SELECT q.query_id, c.vec_id AS id, row_number() OVER (
         |    PARTITION BY q.query_id
         |    ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, c.vec_id) AS rk
         |  FROM q JOIN n c ON c.vec_id <> q.query_id) WHERE rk <= 5),
         |agg AS (SELECT query_id, count(*)::BIGINT AS n_true FROM bf GROUP BY 1),
         |hf AS (SELECT bf.query_id, count(*)::BIGINT AS hits
         |  FROM bf JOIN flat5 USING (query_id, id) GROUP BY 1),
         |hh AS (SELECT bf.query_id, count(*)::BIGINT AS hits
         |  FROM bf JOIN hh5 USING (query_id, id) GROUP BY 1)
         |SELECT a.query_id, a.n_true,
         |  coalesce(hf.hits, 0)::BIGINT AS hits_flat,
         |  coalesce(hh.hits, 0)::BIGINT AS hits_hnsw,
         |  ((coalesce(hf.hits, 0) * 1000000) // a.n_true)::BIGINT AS recall_flat_fp,
         |  ((coalesce(hh.hits, 0) * 1000000) // a.n_true)::BIGINT AS recall_hnsw_fp
         |FROM agg a LEFT JOIN hf ON hf.query_id = a.query_id
         |LEFT JOIN hh ON hh.query_id = a.query_id
         |ORDER BY a.query_id""".stripMargin,

    "sim_lexical_pairs" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM tok WHERE length(term) > 0 GROUP BY 1, 2),
        |keep AS (SELECT term FROM (
        |    SELECT term, count(*) AS df FROM tf GROUP BY 1) WHERE df <= 50),
        |tff AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN keep USING (term)),
        |norms AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM tff GROUP BY 1),
        |dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    sum(a.tf * b.tf)::BIGINT AS dot
        |  FROM tff a JOIN tff b USING (term) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, dot,
        |  dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) AS cosine
        |FROM dots
        |JOIN norms na ON na.doc_id = a_id
        |JOIN norms nb ON nb.doc_id = b_id
        |WHERE dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // same law as the portable twin at the row's own geometry: 12 md5
    // signature positions, emit at n_agree >= 6 (threshold 0.5)
    "q_streaming_neardup" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0),
         |sig AS (SELECT doc_id, [${(1 to 12).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |    ")}] AS sigs FROM sh),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    len(list_filter(range(1, 13), i -> a.sigs[i] = b.sigs[i]))::INT AS n_agree
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         |SELECT a_id, b_id, n_agree, n_agree::DOUBLE / 12 AS est_jaccard
         |FROM p WHERE n_agree >= 6 ORDER BY a_id, b_id""".stripMargin,

    // mirrors q_streaming_neardup_portable: with 1-row bands a shared
    // bucket ⟺ ≥1 agreeing position, which n_agree >= 8 implies — so the
    // pair set is the all-pairs agreement filter over the md5-60bit
    // signature law (no bucket ever nears the caps at gate SF)
    "q_streaming_neardup_portable" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0),
         |sig AS (SELECT doc_id, [${(1 to 16).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |    ")}] AS sigs FROM sh),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    len(list_filter(range(1, 17), i -> a.sigs[i] = b.sigs[i]))::INT AS n_agree
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         |SELECT a_id, b_id, n_agree, n_agree::DOUBLE / 16 AS est_jaccard
         |FROM p WHERE n_agree >= 8 ORDER BY a_id, b_id""".stripMargin,

    "q_streaming_scd2" ->
      """WITH obs AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w0 AS prev,
        |    row_number() OVER w0 AS rn
        |  FROM events
        |  WINDOW w0 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |cp AS (
        |  SELECT user_id, event_type, ts AS vf, event_id
        |  FROM obs WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  epoch_us(vf)::BIGINT AS valid_from,
        |  epoch_us(lead(vf) OVER w)::BIGINT AS valid_to,
        |  (row_number() OVER w)::BIGINT AS version
        |FROM cp
        |WINDOW w AS (PARTITION BY user_id ORDER BY vf, event_id)
        |QUALIFY lead(vf) OVER w IS NOT NULL
        |ORDER BY user_id, version""".stripMargin,

    // identical to etl_scd2's oracle ON PURPOSE: the incremental upsert's
    // contract is equality with the full rebuild

    "q_streaming_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT user_id, depth, t FROM (
        |  SELECT user_id, 1::INT AS depth,
        |    strftime(t1, '%Y%m%d%H%M%S.%f') AS t FROM s1
        |  UNION ALL SELECT user_id, 2, strftime(t2, '%Y%m%d%H%M%S.%f') FROM s2
        |  UNION ALL SELECT user_id, 3, strftime(t3, '%Y%m%d%H%M%S.%f') FROM s3)
        |ORDER BY user_id, depth""".stripMargin,

    "q_stream_stream_outer" ->
      """WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
        |    WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS v_id, ts AS v_ts FROM events
        |    WHERE event_type = 'view')
        |SELECT p.p_id, count(v.v_id)::BIGINT AS n_views_30m,
        |  coalesce(min(v.v_id), -1)::BIGINT AS first_v_id
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND v.v_ts >= p.p_ts - INTERVAL 30 MINUTE AND v.v_ts <= p.p_ts
        |GROUP BY p.p_id ORDER BY p_id""".stripMargin,

    "q_stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS p_id,
        |  strftime(p.ts, '%Y%m%d%H%M%S.%f') AS p_ts_s,
        |  v.event_id AS v_id,
        |  strftime(v.ts, '%Y%m%d%H%M%S.%f') AS v_ts_s
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        |  AND p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
        |ORDER BY p_id, v_id""".stripMargin,
  )
}
