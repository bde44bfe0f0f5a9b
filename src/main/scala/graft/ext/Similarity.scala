package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`), SURVEY §2.8.
  *
  * Vector math is expressed with higher-order built-ins (`zip_with` +
  * `aggregate`) rather than UDFs, and as a *strict left fold in index order*:
  * floating-point addition is not associative, so a fixed evaluation order is
  * what makes scores reproducible across engines and across partitionings —
  * the property the driver's oracle (and any re-run at 1000 executors)
  * depends on.
  *
  * Scale shape: brute-force top-k is one broadcast of the (small) query set
  * against a corpus scan — linear, no shuffle until the per-query k-row
  * aggregation. The bucketed variant prunes the corpus ~2^bits-fold with a
  * sign-quantization LSH (random-hyperplane family with axis-aligned planes),
  * turning the cross product into an equi-join on the bucket key.
  */
object Similarity {

  /** float[] → double[] (exact: every float is representable). All arithmetic
    * then happens in double on both sides of any engine comparison. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product as a strict left fold in index order — native codegen'd
    * expression ([[graft.ext.expressions.DotProductExpr]]); bit-identical to
    * its HOF twin (same op order; NativeExprSpec), minus the
    * lambda-interpreter cost. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.DotProductExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; evaluation order fixed as dot / (||a|| * ||b||).
    * try_divide, not `/`: under ANSI mode (Spark 4 default) a zero-norm
    * vector would otherwise abort the whole query with DIVIDE_BY_ZERO;
    * NULL flows to the rankers, which drop it. Identical doubles for every
    * nonzero divisor. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Rank scored candidates to top-k per query via the bounded-heap
    * aggregator ([[TopK]]): map-side partial aggregation caps the shuffle at
    * k rows per (partition, query) — unlike a rank window, which must move
    * and sort EVERY candidate row of a query into one partition. Bit- and
    * tie-identical to `row_number().over(orderBy(score desc, id))`
    * (asserted in ExtSpec). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    TopK.topKPerKey(scored, "query_id", "score", "id", k)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). `queries` should be small — it is broadcast;
    * the corpus is scanned once. Returns (query_id, rank, id, score). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosine(col("qv"), col("v")).as("score"))
    rankTopK(scored, k)
  }

  /** Hard-negative mining for contrastive training: per anchor, the k most
    * similar corpus vectors with a DIFFERENT label — the highest-loss
    * negatives an InfoNCE/triplet batch wants (random draws give easy
    * negatives; the near-boundary ones come from exactly this query). Same
    * scan shape as [[bruteForceTopK]] — anchors broadcast, corpus scanned
    * once, bounded-heap top-k — with the label-mismatch predicate on the
    * pair, filtered before the cosine so a same-class candidate costs one
    * comparison, not 64 multiplies. The anchor never matches itself (its own
    * label is never a mismatch). */
  def hardNegativesTopK(corpus: DataFrame, anchors: DataFrame, idCol: String,
                        vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(labelCol).as("c_label"),
      asDouble(col(vecCol)).as("v"))
    val q = anchors.select(col(idCol).as("query_id"),
      col(labelCol).as("q_label"), asDouble(col(vecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_label") =!= col("q_label"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("v")).as("score"))
    rankTopK(scored, k)
  }

  /** Mean of a retriever top-k list's scores, folded in RANK order — the
    * margin denominators of [[marginMine]]. collect_list is order-free, so
    * the (rank, score) structs are sorted before the strict fold; ranks are
    * unique per key, making the sort (hence the double sum) deterministic.
    * Divides by the ACTUAL list length, so queries with fewer than k
    * neighbors (tiny corpus side) still get a well-defined mean. */
  private def rankedMeanScore(topk: DataFrame, avgName: String): DataFrame =
    topk.groupBy(col("query_id"))
      .agg(
        aggregate(sort_array(collect_list(struct(col("rank"), col("score")))),
          lit(0.0), (acc, e) => acc + e.getField("score")).as("ssum"),
        count(lit(1)).as("n"))
      .select(col("query_id"), (col("ssum") / col("n")).as(avgName))

  /** Margin-based bitext mining, the candidates-agnostic layer: given a
    * FORWARD retriever list (per source vector, its top-k neighbors among
    * targets) and a BACKWARD list (per target, its top-k among sources),
    * score every candidate pair by the ratio margin of Artetxe & Schwenk,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings" (ACL 2019):
    *
    *   margin(x, y) = cos(x, y) / ((avgTopK(x→T) + avgTopK(y→S)) / 2)
    *
    * — raw cosine normalized by how crowded each side's neighborhood is, so
    * a hub vector that is "close to everything" stops winning every pair.
    * Mined pairs are the MUTUAL margin argmaxes (x is y's best candidate
    * AND y is x's) at `margin >= minMargin` — the paper's intersection
    * strategy, the high-precision mode a training-data pipeline wants.
    *
    * Both inputs use the retriever contract of this file —
    * (query_id, rank, id, score) — so ANY of the top-k operators can feed
    * it: [[bruteForceTopK]] as the exact baseline, [[ivfTopK]] /
    * [[bucketedTopK]] / [[graphTopK]] as the scale path (the margin layer's
    * own cost is candidates-bounded: (|S| + |T|)·k rows through two
    * bounded-per-key windows — nothing quadratic). Candidate pairs seen
    * from both directions carry bit-identical scores (the cosine fold is
    * exactly symmetric: per-index products and the norm product commute in
    * IEEE), so the union dedups losslessly with a plain `distinct`.
    *
    * Returns (src_id, tgt_id, score, margin). Ties in the per-side argmax
    * break on the smaller partner id (the deterministic law every ranker
    * in this file uses). */
  def marginMine(fwd: DataFrame, bwd: DataFrame,
                 minMargin: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // each list feeds TWO consumers (its side's mean and the candidate
    // union) — persist, or the retrieval pass behind it runs twice (for
    // the brute baseline that doubles the quadratic scan; plan-audited).
    // Bounded frames: |queries|·k rows. Self-release after first action.
    val f = fwd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = bwd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val favg = rankedMeanScore(f, "favg")
      .withColumnRenamed("query_id", "src_id")
    val bavg = rankedMeanScore(b, "bavg")
      .withColumnRenamed("query_id", "tgt_id")
    val cand = f.select(col("query_id").as("src_id"), col("id").as("tgt_id"),
        col("score"))
      .unionByName(b.select(col("id").as("src_id"),
        col("query_id").as("tgt_id"), col("score")))
      .distinct()
    val m = cand.join(favg, "src_id").join(bavg, "tgt_id")
      .select(col("src_id"), col("tgt_id"), col("score"),
        (col("score") / ((col("favg") + col("bavg")) / lit(2.0))).as("margin"))
    val fr = row_number().over(Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id")))
    val br = row_number().over(Window.partitionBy("tgt_id")
      .orderBy(col("margin").desc, col("src_id")))
    val out = m.withColumn("fr", fr).withColumn("br", br)
      .where(col("fr") === 1 && col("br") === 1 &&
        col("margin") >= minMargin)
      .drop("fr", "br")
    CacheScope.handOver(null, out, f, b)
  }

  /** Brute-force bitext mining between two embedding corpora (e.g. the
    * English and the translated side of a crawl): [[marginMine]] over exact
    * [[bruteForceTopK]] lists in both directions. The two retrieval passes
    * each broadcast one side against a scan of the other — the quadratic
    * score frame is never materialized (persisting |S|·|T| rows would be
    * worse than recomputing a projection). At corpus scale, swap the
    * retriever: `marginMine(ivfTopK(tgt, src, …), ivfTopK(src, tgt, …), m)`
    * is the same mining law over ANN candidate lists.
    *
    * Id namespaces should be disjoint across sides (different corpora):
    * [[bruteForceTopK]]'s self-pair exclusion compares ids verbatim, so a
    * source and target sharing an id value would skip that one pair. */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, k: Int, minMargin: Double): DataFrame =
    marginMine(bruteForceTopK(tgt, src, idCol, vecCol, k),
      bruteForceTopK(src, tgt, idCol, vecCol, k), minMargin)

  /** Sign-quantization LSH bucket: bit i of the key is sign(v[i+1] > 0) for
    * the first `bits` dimensions. Deterministic, engine-portable (no random
    * hyperplanes to ship), and a genuine member of the random-hyperplane LSH
    * family for embeddings whose coordinates are already decorrelated. */
  def signBucket(v: Column, bits: Int): Column = signBucketAt(v, bits, 0)

  /** [[signBucket]] over a different coordinate slice — bit i is
    * sign(v[offset+i+1] > 0). An independent second bucketing for rotated
    * multi-probe: two near-dup vectors disagreeing on ≥ 2 sign bits in the
    * first slice (which single-bit-flip probing cannot recover) still
    * collide here unless they ALSO disagree inside this slice. Requires
    * offset + bits ≤ dim. */
  def signBucketAt(v: Column, bits: Int, offset: Int): Column =
    (0 until bits).map { i =>
      when(element_at(v, offset + i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN top-k: like [[bruteForceTopK]] but candidates are only
    * corpus vectors in the query's sign bucket — the equi-join on the bucket
    * key replaces the cross product (~2^bits candidate reduction; recall
    * trades off with `bits`). */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int, bits: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucket(col(vecCol), bits).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
      signBucket(col(vecCol), bits).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("v")).as("score"))
    rankTopK(scored, k)
  }

  /** [[bucketedTopK]] with single-bit-flip MULTI-PROBE: each query also
    * probes the `bits` buckets one Hamming step away, recovering neighbors
    * that straddle a single sign boundary (the dominant LSH miss mode).
    * The probe set is pairwise-distinct, so every (query, candidate) pair
    * matches via exactly one probe — no dedup stage; the query side
    * expands (bits+1)× and stays broadcast. */
  def bucketedTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             bits: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucket(col(vecCol), bits).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"), signBucket(col(vecCol), bits).as("bucket"))
    val probeSet = array((col("bucket") +:
      (0 until bits).map(i => col("bucket").bitwiseXOR(lit(1L << i)))): _*)
    val qp = q.select(col("query_id"), col("qv"),
      explode(probeSet).as("bucket"))
    val scored = c.join(broadcast(qp), Seq("bucket"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("v")).as("score"))
    rankTopK(scored, k)
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998) —
    * DIVERSIFIED selection from a top-k candidate list: greedily pick the
    * candidate maximizing rel − λ·max-sim-to-already-selected, λ = 1/2.
    * The anti-redundancy pass a RAG context builder runs after retrieval:
    * near-duplicate passages stop crowding out coverage. The greedy rounds
    * are UNROLLED (select is deterministic: score DESC, id ASC), so the
    * whole selection restates as SQL; every frame after the candidate
    * top-k is per-query-tiny (candidates², never corpus²).
    *
    * `cands`: (query_id, id, rel) — e.g. [[bruteForceTopK]] output with
    * `score` renamed `rel`. `sims`: (query_id, a, b, sim) pairwise over
    * each query's candidates. Returns (query_id, sel_rank, id, mmr). */
  def mmrSelect(cands: DataFrame, sims: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    require(k >= 1, s"k out of range: $k")
    val spark = cands.sparkSession
    val w = Window.partitionBy("query_id")
      .orderBy(col("_s").desc, col("id"))
    // winner rows keep the CALLER'S query_id/id types (string ids work like
    // they do in the sibling top-k operators): the selection frame is
    // rebuilt from the input schema, never from a hard long cast
    val selSchema = StructType(Seq(
      cands.schema("query_id"), StructField("sel_rank", IntegerType, nullable = false),
      cands.schema("id"), StructField("mmr", DoubleType)))
    def selDF(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), selSchema)
    // each round's winner (ONE row per query) is collected to the driver
    // and re-ships as a literal frame — the contract-bounded collect
    // pattern (≤ k·|queries| rows total); chaining the rounds lazily
    // instead doubles the lineage per round (selected is referenced twice)
    // and re-executes round 1 up to 2^k times
    def winners(scored: DataFrame, r: Int): Seq[Row] =
      scored.withColumn("_r", row_number().over(w)).where(col("_r") === 1)
        .select(col("query_id"), lit(r).as("sel_rank"), col("id"),
          col("_s").cast("double").as("mmr"))
        .collect().toSeq
    var selected = winners(cands.withColumn("_s", col("rel")), 1)
    for (r <- 2 to k) {
      val sel = selDF(selected)
      val pen = sims.join(broadcast(sel.select(col("query_id"),
          col("id").as("b"))), Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("id"))
        .agg(max(col("sim")).as("maxsim"))
      val scored = cands
        .join(broadcast(sel.select(col("query_id"), col("id"),
          lit(1).as("_sel"))), Seq("query_id", "id"), "left")
        .where(col("_sel").isNull)
        .join(pen, Seq("query_id", "id"))
        .withColumn("_s", col("rel") - lit(0.5) * col("maxsim"))
      selected = selected ++ winners(scored, r)
    }
    selDF(selected)
  }

  /** [[mmrSelect]] end-to-end: brute-force top-`kCand` as candidates,
    * pairwise cosines among each query's candidates (candidates², never
    * corpus²), then `kSel` greedy MMR rounds. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, kCand: Int, kSel: Int): DataFrame = {
    // persisted: every greedy round's lineage re-reads candidates AND the
    // sim matrix — uncached, each of the kSel rounds would re-run the
    // corpus-wide top-k scan (measured 22 s → ~3 s at the sf0.01 gate)
    val cands = bruteForceTopK(corpus, queries, idCol, vecCol, kCand)
      .select(col("query_id"), col("id"), col("score").as("rel"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vv"))
    val cv = cands.select("query_id", "id").join(v, "id")
    val sims = cv.select(col("query_id"), col("id").as("a"), col("vv").as("va"))
      .join(cv.select(col("query_id"), col("id").as("b"), col("vv").as("vb")),
        Seq("query_id"))
      .where(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        cosine(col("va"), col("vb")).as("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheScope.handOver(null, mmrSelect(cands, sims, kSel), cands, sims)
  }

  /** Symmetric per-vector int8 quantization: code_i = floor(x_i·127/maxabs
    * + 0.5), an int in [-127, 127] (the all-zero vector quantizes to all
    * zeros). 4× memory cut vs float32 — the storage/bandwidth form of a
    * billion-vector corpus — and DETERMINISTIC: maxabs is an
    * order-independent max, the scale arithmetic is three IEEE ops in fixed
    * order, and floor(·+0.5) is the engine-portable round-half-up (neither
    * HALF_EVEN vs HALF_UP library rounding nor collation is involved), so
    * quantized corpora — and everything computed from them — reproduce
    * bit-exactly anywhere. */
  def quantizeInt8(v: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.QuantizeInt8Expr(
      GraftColumnBridge.expression(v)))
  }

  /** Integer dot product of two code arrays — exact (codes ≤ 127, 64 dims
    * ⇒ ≪ 2^63), so unlike float dots the reduction order is irrelevant and
    * the value is trivially engine-identical. Native codegen'd expression
    * ([[graft.ext.expressions.IntDotExpr]]); NativeExprSpec asserts it
    * equal to the portable HOF twin. Measured honestly
    * (10× sf0.1): the fold alone was a modest win — the 4.5× gap on the
    * int8 scan was the THREE-HOF quantizer, fixed by
    * [[graft.ext.expressions.QuantizeInt8Expr]]; with both native,
    * int8TopK reaches float-scan parity even paying per-run quantization
    * (a stored int8 corpus skips that and keeps the 4× bandwidth cut). */
  def intDot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.IntDotExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** Brute-force cosine top-k over int8-QUANTIZED vectors: the integer-dot
    * cosine of the code arrays (norms precomputed per side). Scores are a
    * ratio of exact integers under fixed-order IEEE ops — bit-portable, so
    * the quantized search is fully oracle-checkable, unlike PQ whose codes
    * depend on fitted codebooks. Same scan shape as [[bruteForceTopK]];
    * at scale the win is the 4× smaller corpus side (memory bandwidth IS
    * the brute-force bottleneck) and SIMD-friendly integer arithmetic. */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    def quantized(df: DataFrame, idAs: String, vAs: String, nmAs: String) = df
      .select(col(idCol).as(idAs), quantizeInt8(asDouble(col(vecCol))).as(vAs))
      .withColumn(nmAs, sqrt(intDot(col(vAs), col(vAs)).cast("double")))
    val c = quantized(corpus, "id", "cv", "cnm")
    val q = quantized(queries, "query_id", "qv", "qnm")
    val scored = c.crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        try_divide(intDot(col("qv"), col("cv")).cast("double"),
          col("qnm") * col("cnm")).as("score"))
    rankTopK(scored, k)
  }

  /** Two-stage refined top-k — the retrieve-then-rerank pattern (the rerank
    * stage of PQ/IVF systems; Matryoshka-style prefix scoring): stage 1
    * scores every candidate on only the FIRST `prefixDims` coordinates — a
    * prefixDims/dim flop cut on the one stage that touches all N vectors —
    * and keeps a per-query `shortlist` via the bounded heap; stage 2
    * re-scores ONLY the shortlist at full dimension and returns its exact-
    * cosine top k. For embeddings whose information concentrates in leading
    * dimensions (PCA'd / Matryoshka-trained), shortlist ≫ k makes misses
    * rare; shortlist ≥ N-1 degenerates to exact brute force (the ExtSpec
    * contract). Deterministic end to end (strict-fold scores, desc-score/
    * asc-id ties), so the whole two-stage pipeline is DuckDB-restatable —
    * unlike PQ, whose shortlist depends on fitted codebooks.
    *
    * Scale shape: stage 1 is the same broadcast-queries corpus scan as
    * [[bruteForceTopK]] with cheaper arithmetic, shuffle capped at
    * shortlist rows per (partition, query) by the heap; stage 2's exchange
    * carries queries × shortlist rows into one id-keyed corpus equi-join —
    * never a second scan-wide cross product. */
  def refinedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, prefixDims: Int,
                  shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    require(prefixDims >= 1, s"prefixDims must be positive: $prefixDims")
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val pre = c.crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosine(slice(col("qv"), 1, prefixDims), slice(col("v"), 1, prefixDims))
          .as("score"))
    val short = TopK.topKPerKey(pre, "query_id", "score", "id", shortlist)
      .select(col("query_id"), col("id"))
    val rescored = short
      .join(c, "id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("id"),
        cosine(col("qv"), col("v")).as("score"))
    rankTopK(rescored, k)
  }

  /** BINARY-quantized retrieve-then-rerank — the 1-bit point on the
    * quantization curve next to int8 ([[int8TopK]]) and PQ: 62 of the 64
    * dims pack their SIGN into one BIGINT's value bits (62, not 64, keeps
    * every engine's signed-64 shift arithmetic in range), stage 1 ranks
    * candidates by Hamming similarity `62 − popcount(cb xor qb)` — a
    * 64-float dot product becomes one xor + bit_count — and stage 2
    * re-scores only the per-query `shortlist` at full float precision.
    * 8 bytes per vector where float32 needs 256: the 32× memory cut that
    * lets a 10⁹-vector first stage live in RAM. Same two-stage shape and
    * determinism contract as [[refinedTopK]] (integer Hamming scores,
    * desc-score/asc-id ties), so the whole pipeline restates in DuckDB. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucketAt(asDouble(col(vecCol)), 62, 0).as("cb"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"),
      signBucketAt(asDouble(col(vecCol)), 62, 0).as("qb"))
    val pre = c.select("id", "cb")
      .crossJoin(broadcast(q.select("query_id", "qb")))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (lit(62) - expr("bit_count(cb ^ qb)")).cast("double").as("score"))
    val short = TopK.topKPerKey(pre, "query_id", "score", "id", shortlist)
      .select(col("query_id"), col("id"))
    val rescored = short
      .join(c.select("id", "v"), "id")
      .join(broadcast(q.select("query_id", "qv")), "query_id")
      .select(col("query_id"), col("id"),
        cosine(col("qv"), col("v")).as("score"))
    rankTopK(rescored, k)
  }

  /** The centroid set as ONE literal column: an array of
    * (cent_id, cv: array<double>) structs, collected from the `nCells`
    * lowest-id corpus vectors (deterministic and dependency-free; swap in
    * k-means centroids for better cell balance, nothing else changes). The
    * collect is the standard broadcast-a-tiny-dim move — nCells rows, driver
    * and executors hold one copy each. With the centroids in a literal,
    * cell assignment becomes a pure projection: no crossJoin, no window, no
    * exchange (asserted in ExtSpec). */
  def centroidArray(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int): Column =
    centroidLiteral(initCentroids(corpus, idCol, vecCol, nCells))

  private def initCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                            nCells: Int): Seq[(Any, Seq[Double])] = {
    val rows = corpus
      .select(col(idCol).as("cent_id"), asDouble(col(vecCol)).as("cv"))
      .orderBy("cent_id").limit(nCells).collect()
    require(rows.nonEmpty, "centroidArray: empty corpus")
    rows.toSeq.map(r => (r.get(0), r.getSeq[Double](1)))
  }

  private[graft] def centroidLiteral(cents: Seq[(Any, Seq[Double])]): Column =
    array(cents.map { case (id, v) =>
      struct(lit(id).as("cent_id"), typedLit(v).as("cent_v"))
    }: _*)

  /** Lloyd / spherical k-means refinement of the deterministic
    * [[centroidArray]] init, for better IVF cell balance. Each iteration is
    * one zero-exchange assignment projection plus one (cell, dim)
    * aggregation shuffle; the nCells × dim means come back to the driver —
    * the same tiny payload every broadcast already ships out. Cosine
    * assignment is scale-invariant, so the plain component mean IS the
    * spherical-k-means update (normalization would not change any
    * assignment), and the within-cell mean-cosine objective is
    * non-decreasing. Cells that lose all members keep their previous
    * centroid. FP means depend on reduction order, so fitted centroids are
    * not a cross-engine artifact — but IVF *results* stay oracle-checkable:
    * full probing is exact for ANY centroid set. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int, iters: Int): Column = {
    var cents = initCentroids(corpus, idCol, vecCol, nCells)
    val c = corpus.select(asDouble(col(vecCol)).as("v"))
    for (_ <- 1 to iters) {
      // cell is projected BELOW the Generate — beside posexplode it would
      // land above and re-run the k·dim scoring fold per exploded row
      // (see kmeansAssignPortable for the measured cost)
      val means = c
        .select(nearestCell(col("v"), centroidLiteral(cents)).as("cell"),
          col("v"))
        .select(col("cell"), posexplode(col("v")))
        .toDF("cell", "pos", "x")
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.get(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (id, v) => (id, means.getOrElse(id, v)) }
    }
    centroidLiteral(cents)
  }

  /** Fully PORTABLE integer k-means (Lloyd's) over int8-quantized vectors —
    * the oracle-checkable twin of [[kmeansCentroids]], whose fitted FP means
    * depend on reduction order and so never restate cross-engine. Three
    * exact-integer choices buy the portability: (1) vectors become int8
    * codes ([[quantizeInt8]] — `floor(x·127/max|x| + ½)`, the
    * `sim_topk_int8`-proven restatement); (2) cosine assignment runs over
    * the integer-VALUED doubles (every product ≤ 127² and every partial sum
    * ≤ 127²·dim — exact, so fold order is irrelevant) with [[nearestCell]]'s
    * score-desc / min-cent-id tie-break and zero-norm → first cell; (3) the
    * centroid update is the TRUNCATING integer mean `sum / count` per
    * dimension (Scala Long division = DuckDB `//`), so refitted centroids
    * are integer vectors again and the next assignment stays exact. Cells
    * that lose all members keep their previous centroid (same convention as
    * [[kmeansCentroids]]); cosine is scale-invariant, so the unnormalized
    * integer mean is a faithful spherical-k-means update up to the
    * quantization the portability contract demands.
    *
    * Scale shape: each assignment pass is a zero-exchange scan projection
    * against a broadcast centroid literal; each update is ONE (cell, dim)-
    * keyed aggregation — k·dim keys, map-side partials — whose k·dim Longs
    * return to the driver, the same contract-bounded payload every centroid
    * broadcast already ships out. `updates` Lloyd rounds, then one final
    * assignment; output one (vec_id, cell, score) row per corpus vector. */
  def kmeansAssignPortable(corpus: DataFrame, idCol: String, vecCol: String,
                           k: Int, updates: Int): DataFrame = {
    val codes = corpus.select(col(idCol).as("vec_id"),
      quantizeInt8(asDouble(col(vecCol))).as("q"))
    // persisted: the seed collect + each Lloyd round's assignment and the
    // final labeling all re-read this frame — without the cache every pass
    // re-runs the scan + int8 quantization (bench-neutral at sf0.1 where
    // the explode aggregations dominate, load-bearing when the input scan
    // is the expensive part). Released when the RETURNED frame is consumed.
    val qd = codes.withColumn("qd", col("q").cast("array<double>"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Seq[(Any, Seq[Double])] = qd
      .select(col("vec_id").as("cent_id"), col("qd").as("cv"))
      .orderBy("cent_id").limit(k).collect()
      .toSeq.map(r => (r.get(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, "kmeansAssignPortable: empty corpus")
    for (_ <- 1 to updates) {
      // the cell is computed in a projection BELOW the Generate: written as
      // select(nearestCell(...), posexplode(q)) the k·dim scoring fold sits
      // in the projection ABOVE Generate and re-evaluates once per EXPLODED
      // row — a dim-fold amplification measured at 1.39 s vs 0.21 s per
      // round at the bench SF (same values either way; evaluation count is
      // the only difference)
      val means = qd
        .select(nearestCell(col("qd"), centroidLiteral(cents)).as("cell"),
          col("q"))
        .select(col("cell"), posexplode(col("q")))
        .toDF("cell", "pos", "x")
        .groupBy("cell", "pos")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.get(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1))
            .map(r => (r.getLong(2) / r.getLong(3)).toDouble).toSeq
        }
      cents = cents.map { case (id, v) => (id, means.getOrElse(id, v)) }
    }
    val centLit = centroidLiteral(cents)
    val out = qd.select(col("vec_id"),
      nearestCell(col("qd"), centLit).as("cell"),
      nearestCellScore(col("qd"), centLit).as("score"))
    CacheScope.handOver(null, out, qd)
  }

  /** Farthest-point sampling (greedy k-center, Gonzalez 1985) — the
    * diversity-maximizing k-subset selection a training-data prune wants
    * when near-dup removal isn't enough: each round picks the point
    * FARTHEST (squared L2) from everything chosen so far, the classic
    * 2-approximation to the k-center cover. Complements the redundancy
    * prunes (SemDeDup drops near-dups, [[Sampling.capPerGroupSkewSafe]]
    * caps dense cells) with the other direction: points are KEPT for being
    * far from the kept set.
    *
    * Deterministic and oracle-restatable end to end: the seed is the
    * lowest id; each round's argmax tie-breaks to the lowest id; the
    * min-distance column chains `least(mind, sqDist(v, picked))` — a
    * per-row strict fold with no cross-row reduction, so (unlike the FP
    * k-means fit, whose means are reduction-order-dependent) every value
    * restates exactly cross-engine.
    *
    * Scale shape: the corpus (id, v) projection is persisted ONCE; each of
    * the k rounds is ONE flat job — a zero-exchange projection deriving
    * the min distance from the selection-ordered centers LITERAL (the
    * kmeans-centroid discipline: loop state rides in as broadcast
    * literals, never as a per-round re-cache of a corpus-sized frame) plus
    * a 1-row `max_by` aggregation back to the driver. Round r scores r
    * centers per row — Θ(k²·dim/2) per row over the selection, the price
    * of NOT re-persisting the corpus k times; k is a selection budget
    * (tens, not thousands), so the fold stays cheap while the cache churn
    * it replaces would scale with the corpus. Stops early when the picked
    * radius is 0 (the chosen set already covers every remaining point
    * exactly — only duplicate vectors remain), returning fewer than k
    * rows.
    *
    * Output: (sel_no, id, radius) in selection order — `radius` is the
    * picked point's min squared distance to the prior selection (the
    * greedy cover radius before the pick lands; NULL for the seed). */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"kCenterSelect: k=$k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c0 = corpus.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every exit below the persist — including the empty-corpus require and
    // any mid-loop failure — must release the cache entry, so the whole
    // selection runs inside try/finally (the result is a driver-local
    // literal frame, so unpersisting before return is always safe)
    try {
    val seed = c0.orderBy("id").limit(1).collect()
    require(seed.nonEmpty, "kCenterSelect: empty corpus")
    val picks =
      scala.collection.mutable.ArrayBuffer[(Long, Option[Double])](
        (seed(0).getLong(0), None))
    val centerVecs =
      scala.collection.mutable.ArrayBuffer(seed(0).getSeq[Double](1))
    var exhausted = false
    for (_ <- 2 to k if !exhausted) {
      // left-assoc reduce == the incremental least() chain an update-in-
      // place formulation would carry — same doubles, so the DuckDB
      // restatement (chained least per round) matches either way
      val mind = centerVecs
        .map(cv => sqDist(col("v"), typedLit(cv))).reduce(least(_, _))
      // unique ids make the (mind, -id) ordering a total order — the
      // max_by pick is deterministic, matching ORDER BY mind DESC, id
      val top = c0
        .where(not(col("id").isin(picks.map(_._1).toSeq: _*)))
        .select(col("id"), col("v"), mind.as("mind"))
        .agg(max_by(struct(col("id"), col("v"), col("mind")),
          struct(col("mind"), (-col("id")).as("nid"))).as("t"))
        .select(col("t.id"), col("t.v"), col("t.mind"))
        .collect()
      if (top.isEmpty || top(0).isNullAt(0) || top(0).getDouble(2) <= 0.0)
        exhausted = true // k ≥ distinct vectors: the cover is already exact
      else {
        picks += ((top(0).getLong(0), Some(top(0).getDouble(2))))
        centerVecs += top(0).getSeq[Double](1)
      }
    }
    picks.toSeq.zipWithIndex
      .map { case ((id, r), i) => (i, id, r) }
      .toDF("sel_no", "id", "radius")
    } finally c0.unpersist(): Unit
  }

  /** (score, cent_id) per centroid, in centroid order. Null cosine (zero-
    * norm vector) coalesces to -2 — below any real cosine — so comparisons
    * stay two-valued and a zero-norm vector lands deterministically in the
    * first cell. */
  private def cellScores(v: Column, cents: Column): Column =
    transform(cents, ct => struct(
      coalesce(cosine(v, ct.getField("cent_v")), lit(-2.0)).as("score"),
      ct.getField("cent_id").as("cent_id")))

  /** Nearest-centroid id as a pure projection: score every centroid once,
    * then an O(nCells) left fold carries the best [score, index] pair as a
    * name-free double array (struct field aliases inside an `aggregate`
    * merge lambda do not survive analysis in every resolution path —
    * arrays dodge the naming entirely; the index is exact in a double far
    * beyond any centroid count). The -3 seed loses to any real (coalesced
    * ≥ -2) score; strict `>` keeps the earlier element on ties, and the
    * array is in ascending cent_id order ⇒ min-id tie-break. */
  def nearestCell(v: Column, cents: Column): Column = {
    val scored = transform(cents, (ct, i) => array(
      coalesce(cosine(v, ct.getField("cent_v")), lit(-2.0)),
      i.cast("double")))
    val best = aggregate(scored, array(lit(-3.0), lit(0.0)),
      (b, s) => when(element_at(s, 1) > element_at(b, 1), s).otherwise(b))
    element_at(cents, element_at(best, 2).cast("int") + 1).getField("cent_id")
  }

  /** Cosine to the nearest centroid — the per-row term of the k-means
    * objective (used to assert fitting quality). A plain max fold: the
    * best cell's score without the struct bookkeeping (struct field aliases
    * inside HOF lambdas do not survive analysis). */
  def nearestCellScore(v: Column, cents: Column): Column =
    aggregate(cents, lit(-3.0), (best, ct) =>
      greatest(best, coalesce(cosine(v, ct.getField("cent_v")), lit(-2.0))))

  /** The `n` nearest centroid ids (score desc, cent_id asc) — for query-side
    * multi-cell probing; sorts the (tiny) centroid array per row. */
  def nearestCells(v: Column, cents: Column, n: Int): Column = {
    val byScoreDesc = array_sort(cellScores(v, cents), (l, r) =>
      when(l.getField("score") > r.getField("score"), -1)
        .when(l.getField("score") < r.getField("score"), 1)
        .when(l.getField("cent_id") < r.getField("cent_id"), -1)
        .when(l.getField("cent_id") > r.getField("cent_id"), 1)
        .otherwise(0))
    transform(slice(byScoreDesc, 1, n), ct => ct.getField("cent_id"))
  }

  /** IVF (inverted-file) ANN top-k — the other classic scale path next to
    * [[bucketedTopK]]: partition the corpus into `nCells` Voronoi cells
    * around centroids, search only the query's `nProbe` nearest cells.
    *
    * Scale shape: centroids ride along as a broadcast literal
    * ([[centroidArray]]), so corpus cell assignment is a zero-exchange
    * projection — the full-corpus crossJoin+window a naive impl pays is
    * gone. The probe join is an equi-join on cell id, so the only shuffle
    * key is the cell — the same "bucket IS the partition key" shape that
    * survives scale-up. `nProbe = nCells` probes every cell and returns
    * exactly the brute-force answer (the DuckDB oracle checks that), for
    * ANY centroid set — so `fitIters > 0` can swap in k-means-refined
    * centroids ([[kmeansCentroids]]) without touching the contract. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int, nProbe: Int,
              fitIters: Int = 0): DataFrame =
    ivfTopKFiltered(corpus, queries, idCol, vecCol, lit(true), k, nCells,
      nProbe, fitIters)

  /** Filtered IVF ANN — [[ivfTopK]] with a candidate-eligibility predicate:
    * top-k nearest AMONG corpus vectors satisfying `predicate`, the
    * filtered-search mode every production vector store needs (search
    * within a class / tenant / date slice).
    *
    * PRE-filter semantics: eligibility restricts candidates BEFORE scoring,
    * so the result is a full k from the eligible set (POST-filtering a
    * k-list instead returns arbitrarily fewer — the classic recall bug).
    * The index side keeps prebuilt-index semantics: centroids are fit on
    * the UNFILTERED corpus (an index is not re-fit per query predicate);
    * the predicate then filters the corpus before cell assignment — on a
    * parquet-backed corpus a simple predicate lands in `PushedFilters`
    * (PlanSpec pins it for the catalog row), so ineligible vectors die at
    * the scan and never reach the probe join's exchange.
    *
    * Recall caveat (the textbook filtered-ANN trap): a selective predicate
    * thins every probed cell, so a fixed nProbe explores fewer eligible
    * candidates — raise nProbe as selectivity rises. The exactness contract
    * is unchanged: nProbe = nCells returns exactly the brute force over the
    * eligible subset, for ANY centroid set (the DuckDB oracle checks it). */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, predicate: Column, k: Int, nCells: Int,
                      nProbe: Int, fitIters: Int = 0): DataFrame = {
    val cents =
      if (fitIters > 0) kmeansCentroids(corpus, idCol, vecCol, nCells, fitIters)
      else centroidArray(corpus, idCol, vecCol, nCells)
    ivfSearchAssigned(ivfAssign(corpus.where(predicate), idCol, vecCol, cents),
      queries, idCol, vecCol, cents, k, nProbe)
  }

  /** Stateless IVF cell assignment against a PINNED centroid set — the
    * INDEX-MAINTENANCE half of [[ivfTopK]], split out because a production
    * vector index ingests continuously: assignment is a pure function of
    * (vector, centroids), so appending a batch is a zero-exchange
    * projection over only the NEW rows — no refit, no touch of the
    * existing index, and `assign(old) ∪ assign(new) ≡ assign(old ∪ new)`
    * exactly (spec-pinned). Returns (id, v, cell) rows ready to union
    * with (or persist next to) an existing assigned index frame. */
  def ivfAssign(vecs: DataFrame, idCol: String, vecCol: String,
                cents: Column): DataFrame =
    vecs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("cell", nearestCell(col("v"), cents))

  /** Search an ASSIGNED index frame ([[ivfAssign]] output, possibly the
    * union of many ingest batches) under the same pinned centroids: probe
    * each query's `nProbe` nearest cells, score, bounded-heap top-k.
    * `ivfTopK` ≡ this over `ivfAssign(corpus)` with the same centroid
    * set; the split lets the index persist and GROW between searches.
    * The `nProbe = nCells` exactness contract is unchanged — probing every
    * cell of ANY assigned frame returns the brute force over its rows. */
  def ivfSearchAssigned(assigned: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, cents: Column,
                        k: Int, nProbe: Int): DataFrame = {
    val probes = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(nearestCells(col("qv"), cents, nProbe)).as("cell"))
    val scored = assigned.join(broadcast(probes), "cell")
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("v")).as("score"))
    rankTopK(scored, k)
  }

  /** Sentinel for the `bits` parameter of [[knnGraph]]/[[hnswTopK]]: derive
    * the sign-bucket width from the corpus size at runtime via
    * [[adaptiveSignBits]] — the [[adaptiveEntryMod]] pattern applied to the
    * graph build's bucket histogram. */
  val AdaptiveBits: Int = -1

  /** Sign-bucket width giving an EXPECTED bucket population of
    * ~`targetBucket` over `corpusSize` decorrelated vectors:
    * bits = clamp(⌈log₂(N / targetBucket)⌉, minBits, maxBits). Per-bucket
    * work in the graph build is quadratic in the bucket population, so a
    * FIXED width makes the build cost grow ~N² (population grows linearly
    * with N at constant bucket count) — with the derived width the expected
    * population is constant and total candidate work is Θ(N·bits·target):
    * linear in the corpus times a log factor from multi-probe expansion.
    * Monotonic by construction: a larger corpus never yields fewer bits.
    * `maxBits` must not exceed the embedding dimension (bit i reads
    * coordinate i+1); the default 32 suits the ≥ 64-dim corpora the
    * catalog carries. At the gate fixture (N = 500, target 8) this derives
    * exactly the 6 bits the oracles restate. */
  def adaptiveSignBits(corpusSize: Long, targetBucket: Int = 8,
                       minBits: Int = 4, maxBits: Int = 32): Int = {
    require(corpusSize >= 0, s"corpusSize must be non-negative: $corpusSize")
    require(targetBucket >= 1, s"targetBucket must be positive: $targetBucket")
    require(minBits >= 1 && maxBits >= minBits,
      s"bad bit bounds: $minBits/$maxBits")
    val raw = math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucket)) /
        math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, raw))
  }

  /** [[adaptiveSignBits]] with the ceiling additionally capped at the
    * vector DIMENSION (bit i reads coordinate i+1, so a width past `dim`
    * reads past the array) — every adaptive derivation must route through
    * this with the corpus's measured dim; low-dim corpora also lower the
    * floor so the cap stays consistent. */
  private def adaptiveBitsCapped(corpusSize: Long, dim: Int): Int = {
    require(dim >= 1, s"vector dimension must be positive: $dim")
    val cap = math.min(32, dim)
    adaptiveSignBits(corpusSize, minBits = math.min(4, cap), maxBits = cap)
  }

  /** The FIXED dimension from per-group (min, max) vector-size aggregates
    * — a derived width capped at max() would still read past any SHORTER
    * row's array, so a mixed-dimension corpus must fail loudly here, not
    * die mid-build (or silently degrade) rows later. */
  private def requireFixedDim(dims: Seq[Int], op: String): Int = {
    require(dims.nonEmpty, s"$op: no vector dimensions observed")
    require(dims.min == dims.max,
      s"$op: adaptive bucket widths need a fixed-dimension corpus " +
        s"(saw dims ${dims.min}..${dims.max})")
    dims.head
  }

  /** k-NN graph over the corpus: every vector's k nearest neighbors among
    * candidates sharing a sign bucket with it or any single-bit flip of its
    * bucket (the [[cosineNearDupPairsMultiProbe]] candidate rule, so
    * sign-straddling near-neighbors are recovered). Output:
    * (id, rank, nbr_id, score). The k-NN graph is the precursor structure
    * for graph-based ANN (HNSW-class) and for graph clustering /
    * connected-component dedup over embeddings.
    *
    * Scale shape: self-equi-join keyed on the bucket (probe side expanded
    * (bits+1)×, each qualifying pair matched via exactly one probe — the
    * probe set has pairwise-distinct values), then the bounded-heap TopK
    * caps the shuffle at k rows per node. Per-bucket work is quadratic in
    * the bucket population, so `bits` should TRACK the corpus size: pass
    * [[AdaptiveBits]] (with a `corpusSize` hint to skip the count) to
    * derive bits = ⌈log₂(N/8)⌉ via [[adaptiveSignBits]] — constant expected
    * population, build cost linear-with-log in N instead of the ~N² a
    * fixed width degrades to. */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               bits: Int, corpusSize: Long = -1L,
               maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bits == AdaptiveBits || bits >= 1, s"bad bits: $bits")
    require(maxBucket == Dedup.AdaptiveBucket || maxBucket > 0,
      s"bad maxBucket: $maxBucket")
    val n =
      if (corpusSize >= 0) corpusSize
      else if (bits == AdaptiveBits || maxBucket == Dedup.AdaptiveBucket)
        df.count()
      else -1L
    // a DERIVED width must never exceed the vector dimension (bit i reads
    // coordinate i+1): 16-dim embeddings at N = 1M would derive 17 bits
    // and read past the array — an ANSI throw, or silent phantom-zero bits
    // that collapse the effective width right back to the quadratic regime
    // the adaptive rule exists to prevent. One first-row probe, only on
    // the adaptive path (explicit `bits` stays the caller's documented
    // signBucket precondition, and pays no extra job).
    val effBits =
      if (bits != AdaptiveBits) bits
      else if (n == 0) adaptiveSignBits(0)
      else {
        val r = df.agg(min(size(col(vecCol))).as("lo"),
          max(size(col(vecCol))).as("hi")).head()
        adaptiveBitsCapped(n, requireFixedDim(
          Seq(0, 1).filterNot(r.isNullAt).map(r.getInt), "knnGraph"))
      }
    // the adaptive WIDTH bounds the mean population; correlated real-world
    // embeddings can still concentrate a constant corpus fraction in a few
    // sign patterns (every vector positive in the lead dims — the
    // correlated twin of MinHash's boilerplate hot bucket). `maxBucket` is
    // the same scale valve Dedup.lshCandidates carries: each bucket's
    // candidate-TARGET set truncates to its `maxBucket` lowest-id members
    // (Dedup.AdaptiveBucket derives c·√N), so per-bucket work is
    // population × cap, never population². Every node still PROBES — a
    // hot-bucket node draws neighbors from the bucket's representative set
    // plus its flip buckets; in-bucket recall trades for the bound,
    // exactly like the MinHash cap. Default uncapped (byte-identical).
    val cap =
      if (maxBucket != Dedup.AdaptiveBucket) maxBucket
      else Dedup.adaptiveBucketCap(n)
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucket(col(vecCol), effBits).as("bucket"))
    val targets =
      if (cap == Int.MaxValue) v
      else {
        // deterministic representatives: the cap lowest ids per bucket; the
        // rank exchange is keyed on the bucket — the same key the candidate
        // join shuffles on, so the exchange is not wasted work
        import org.apache.spark.sql.expressions.Window
        v.withColumn("_bn", row_number().over(
            Window.partitionBy("bucket").orderBy("id")))
          .where(col("_bn") <= cap).drop("_bn")
      }
    val probeSet = array((col("bucket") +:
      (0 until effBits).map(i => col("bucket").bitwiseXOR(lit(1L << i)))): _*)
    val cand = v
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(probeSet).as("bucket"))
      .join(targets.select(col("bucket"), col("id").as("nid"), col("v").as("nv")),
        Seq("bucket"))
      .where(col("query_id") =!= col("nid"))
      .select(col("query_id"), col("nid").as("id"),
        cosine(col("qv"), col("nv")).as("score"))
    TopK.topKPerKey(cand, "query_id", "score", "id", k)
      .toDF("id", "rank", "nbr_id", "score")
  }

  /** INCREMENTAL APPEND for the kNN graph — [[ivfAssign]]'s maintenance
    * seam applied to graph ANN: a new batch joins the index WITHOUT
    * rebuilding old nodes, closing the one remaining full-rebuild job in
    * the ANN family (before this, every ingest meant re-running
    * [[knnGraph]] over the whole corpus).
    *
    * Search-based insertion (the HNSW insert primitive, Malkov & Yashunin
    * 2016 §4): each new vector's neighbor candidates come from (a) a beam
    * SEARCH of the existing graph over the old corpus ([[graphTopK]] —
    * with entryMod = 1 the search is EXACT, the oracle contract; with
    * sparse adaptive entries it is the scale path) and (b) the batch's own
    * bucketed kNN graph ([[knnGraph]], width derived from the BATCH size),
    * re-ranked together to `k`. Old nodes are then patched RECIPROCALLY:
    * exactly the old endpoints of the new edges re-rank their existing
    * edge list against the reverse edges (scores are bit-symmetric:
    * x·y = y·x and ‖a‖·‖b‖ = ‖b‖·‖a‖ in IEEE) — every other old node's
    * edges pass through UNTOUCHED, byte-identical ranks included. The
    * PATCH DEGREE is max(index out-degree, k): an index built at k=50 and
    * appended at k=5 keeps degree-50 edge lists on touched nodes (the
    * reverse edges compete into the full list) instead of truncating them
    * to 5 — new nodes' own lists are at this append's `k` by design.
    *
    * `graph` must be [[knnGraph]]-shaped rows (id, rank, nbr_id, score)
    * over `oldVecs`; old and new id sets must be disjoint. Returns the
    * appended graph in the same shape.
    *
    * Scale shape: the search shuffles beam rows (|batch| × beamWidth),
    * never the corpus; the batch graph is linear in the batch; reverse
    * candidates are ≤ k·|batch| rows, so `touched` and the batch id set
    * broadcast, the patch re-rank moves only touched nodes' ≤ k + k·deg
    * edges, and untouched edges flow through a broadcast anti-join —
    * nothing rescans or reshuffles the old graph beyond one pass. The
    * batch rides [[graphTopK]]'s QUERY broadcast, so |batch| carries the
    * same driver/broadcast commitment as a query set — split a
    * corpus-scale backfill into broadcast-sized batches and fold this
    * operator over them (each fold's patches stay ≤ k·|batch|).
    *
    * APPEND-VS-REBUILD CROSSOVER (measured, sf1 proof on local[32]:
    * 128-dim vectors, 2 000-row batch, k=5, beamWidth=16, hops=2,
    * adaptive entries): against indexes of 20k/40k/80k vectors the append
    * costs 10.7/12.6/12.6 s where the full [[knnGraph]] rebuild costs
    * 8.1/9.7/14.4 s — the append's wall is ~flat-plus-√N (entry stage)
    * while the rebuild grows linearly, so the append WINS once the corpus
    * passes ~60k vectors (≈ 3% batch fraction at this shape) and the gap
    * widens with N; its shuffle is batch-bounded throughout (7–20 MB vs
    * the rebuild's corpus-bound 100–433 MB). Below the crossover — small
    * corpora or batch fractions ≳ 10% — just rebuild: fixed per-job
    * overheads dominate and the rebuild is one big job. */
  def knnGraphAppend(oldVecs: DataFrame, graph: DataFrame,
                     newVecs: DataFrame, idCol: String, vecCol: String,
                     k: Int, beamWidth: Int, hops: Int,
                     entryMod: Long = AdaptiveEntries,
                     batchBits: Int = AdaptiveBits,
                     graphDegBound: Int = -1,
                     scope: CacheScope = null): DataFrame = {
    require(k >= 1 && beamWidth >= k, s"bad append params: k=$k/$beamWidth")
    // the INDEX's out-degree bounds the hop-broadcast arithmetic — it may
    // exceed this append's own k (an index built at k=50, appended at
    // k=5), so never vouch k for it: take the caller's bound or measure
    // the max rank (one small scan of the index; appends are batch-rare)
    val oldDeg =
      if (graphDegBound > 0) graphDegBound
      else graph.agg(max(col("rank"))).head() match {
        case r if r.isNullAt(0) => -1
        case r => r.getInt(0)
      }
    // PIN the batch projection once. The batch FRAME is small (it rides
    // graphTopK's query broadcast — the operator's documented size
    // commitment), but its LINEAGE need not be: a batch filtered out of a
    // big corpus re-scans that corpus on EVERY consumer, and this operator
    // has ~6 of them (the query broadcast rebuilt per beam cut, the batch
    // count, the batch graph's count + width probe + build, the reverse-id
    // broadcast) — measured as the dominant share of the r14 wall-time
    // inversion at the sf1 proof. Under the broadcast-size bound the batch
    // collects into a LocalRelation (every later broadcast build becomes
    // driver-local); past it, persist + count, released with the result.
    val (batch, nBatch, batchPersisted) =
      boundedCut(newVecs.select(col(idCol), col(vecCol)), None)
    // the eager jobs below (the search, the batch build's width probe,
    // the new-edge cut) can all throw BEFORE the release registrations at
    // the bottom — the persist-fallback pins must not strand on that path
    // (the 1bdffbc defect class; both releases are no-ops when localized)
    var newEdgesPersisted: DataFrame = null
    try {
    // (a) new → old: search the existing index like any query batch
    val searched = graphTopK(oldVecs, idCol, vecCol,
        graph.select(col("id"), col("nbr_id")), batch, idCol, vecCol,
        k, beamWidth, hops, entryMod,
        degBound = oldDeg, scope = scope)
      .select(col("query_id").as("id"), col("id").as("nbr_id"), col("score"))
    // (b) new → new: the batch's own bucketed graph (disjoint candidate
    // sets — (a) yields old nbrs, (b) new nbrs — so the union is dup-free)
    val batchG = knnGraph(batch, idCol, vecCol, k, batchBits,
        corpusSize = nBatch)
      .select(col("id"), col("nbr_id"), col("score"))
    val newEdges0 = TopK.topKPerKey(
        searched.unionByName(batchG)
          .select(col("id").as("query_id"), col("score"),
            col("nbr_id").as("cand")),
        "query_id", "score", "cand", k)
      .toDF("id", "rank", "nbr_id", "score")
    // CUT the new-edge frame: it is consumed THREE times below (the
    // touched broadcast, the patch re-rank, the final union), and without
    // a cut each consumer re-executes the whole search + batch-build
    // lineage — measured as the r14 wall-time inversion (a 10% append
    // costing ~2× the full rebuild; see the crossover note in the
    // scaladoc). The frame is ≤ k·|batch| rows — the same driver-side
    // magnitude the operator already commits to by riding graphTopK's
    // query broadcast — so under the beam-localization bound it collects
    // into a LocalRelation (the beamLoop cut discipline); past it,
    // persist + count, released after the returned frame's first action
    // (or owned by the caller's scope).
    val (newEdges, _, newEdgesCut) = boundedCut(newEdges0,
      Some(nBatch * math.max(1, k) <= MaxLocalBeamRows))
    newEdgesPersisted = newEdgesCut
    // reciprocal patch: reverse exactly the new edges that land on OLD
    // nodes (batch ids broadcast; an edge's nbr is old ⟺ not in the batch)
    val newIds = broadcast(batch.select(col(idCol).as("nbr_id")))
    val revCands = newEdges
      .join(newIds, Seq("nbr_id"), "left_anti")
      .select(col("nbr_id").as("id"), col("id").as("nbr_id"), col("score"))
    val touched = broadcast(revCands.select("id").distinct())
    // PATCH DEGREE: touched old nodes re-rank to max(index degree, k), not
    // this append's k — an index built at k=50, appended at k=5, must not
    // silently truncate touched nodes' edge lists to 5 while untouched
    // nodes keep 50 (an inconsistent, degraded index). oldDeg is the
    // caller's graphDegBound or the measured max rank (ranks are 1-based,
    // so max(rank) IS the out-degree).
    val patchK = math.max(math.max(oldDeg, 1), k)
    val patched = TopK.topKPerKey(
        graph.select(col("id"), col("nbr_id"), col("score"))
          .join(touched, Seq("id"))
          .unionByName(revCands)
          .select(col("id").as("query_id"), col("score"),
            col("nbr_id").as("cand")),
        "query_id", "score", "cand", patchK)
      .toDF("id", "rank", "nbr_id", "score")
    val out = graph.select(col("id"), col("rank"), col("nbr_id"), col("score"))
      .join(touched, Seq("id"), "left_anti")
      .unionByName(patched)
      .unionByName(newEdges)
    CacheScope.handOver(scope, out, newEdgesPersisted, batchPersisted)
    } catch {
      case t: Throwable =>
        if (batchPersisted != null) batchPersisted.unpersist(blocking = false): Unit
        if (newEdgesPersisted != null)
          newEdgesPersisted.unpersist(blocking = false): Unit
        throw t
    }
  }

  // ───────────────── product quantization (IVF-PQ family) ────────────────

  /** Squared L2 distance between two equal-length vectors — strict left fold
    * in index order (same portability contract as [[dot]]). */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0),
      (acc, z) => acc + z)

  /** Fit PQ codebooks driver-side: split the `dim`-vector into `m`
    * contiguous subspaces of dim/m and learn `ksub` codewords per subspace.
    * Deterministic init — the subvectors of the `ksub` lowest-id corpus
    * vectors (dependency-free, like [[centroidArray]]); `fitIters` rounds of
    * per-subspace Lloyd refinement, each one zero-exchange assignment
    * projection plus one (subspace, code, pos) aggregation shuffle whose
    * m·ksub·dim/m = ksub·dim means come back to the driver — the same tiny
    * payload the codebook broadcast ships out. Codewords that lose all
    * members keep their previous value. Returns cb(subspace)(code) =
    * codeword subvector. */
  private[ext] def fitPqCodebooks(corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, ksub: Int,
      fitIters: Int): Seq[Seq[Seq[Double]]] = {
    require(m > 0 && ksub > 0, s"pq: m=$m and ksub=$ksub must be positive")
    val rows = corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .orderBy("id").limit(ksub).collect()
    require(rows.nonEmpty, "pq: empty corpus")
    val dim = rows.head.getSeq[Double](1).size
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    var cb: Seq[Seq[Seq[Double]]] = (0 until m).map { i =>
      rows.toSeq.map(_.getSeq[Double](1).slice(i * dsub, i * dsub + dsub).toSeq)
    }
    val c = corpus.select(asDouble(col(vecCol)).as("v"))
    for (_ <- 1 to fitIters) {
      val assigned = c.select(col("v"),
        posexplode(pqEncode(col("v"), typedLit(cb), dsub)).as(Seq("sub", "code")))
      val means = assigned
        .select(col("sub"), col("code"),
          posexplode(slice(col("v"), col("sub") * lit(dsub) + 1, lit(dsub)))
            .as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos").agg(avg(col("x")).as("mval"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rs) =>
          key -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      cb = cb.zipWithIndex.map { case (cbi, i) =>
        cbi.zipWithIndex.map { case (cw, j) => means.getOrElse((i, j), cw) }
      }
    }
    cb
  }

  /** PQ code assignment as a pure projection: for each subspace, the index
    * of the nearest codeword by squared L2 (ties → lowest index; the
    * [array(dist, idx)]-fold dodges the same struct-alias analysis pitfall
    * as [[nearestCell]]). Output: array<int> of length m — the compressed
    * representation. Zero exchange; the codebook rides along as a literal. */
  def pqEncode(v: Column, cb: Column, dsub: Int): Column =
    transform(cb, (cbi, i) => {
      val sub = slice(v, i * lit(dsub) + 1, lit(dsub))
      val scored = transform(cbi, (cw, j) => array(sqDist(sub, cw), j.cast("double")))
      val best = aggregate(scored, array(lit(Double.MaxValue), lit(-1.0)),
        (b, s) => when(element_at(s, 1) < element_at(b, 1), s).otherwise(b))
      element_at(best, 2).cast("int")
    })

  /** PQ-compressed ANN top-k via asymmetric distance computation (ADC) —
    * the memory-side scale path next to [[ivfTopK]]'s candidate pruning: the
    * corpus is stored as m small code ints per vector (m·~1 byte vs dim·4
    * bytes raw — a 64-dim float corpus compresses ~32× at m=8), and scoring
    * a candidate costs m table lookups + adds instead of dim multiplies.
    *
    * Each query precomputes (broadcast-side, once) the dot product of its
    * subvectors against every codeword; a candidate's approximate dot is the
    * sum of its codes' table entries, and its reconstructed norm comes from
    * a second (query-independent) codeword-norm table — exact for the
    * reconstruction because subspaces partition the coordinates. Score =
    * cosine(query, reconstruction); recall is governed by m·ksub (quantizer
    * resolution), orthogonal to any candidate pruning stacked on top
    * ([[ivfPqTopK]]). Scale shape: codebooks + queries broadcast, corpus
    * encoded in one zero-exchange projection, one scan; shuffle = the k-row
    * per-query TopK aggregation only. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int, ksub: Int,
             fitIters: Int = 0): DataFrame = {
    val cb = fitPqCodebooks(corpus, idCol, vecCol, m, ksub, fitIters)
    val scored = pqScore(corpus, queries, idCol, vecCol, cb)
    rankTopK(scored, k)
  }

  /** [[pqTopK]] with a CALLER-PINNED codebook instead of a fitted one — the
    * deployment shape where codebooks are trained once offline and shipped
    * as an artifact (every production PQ index works this way; re-fitting
    * per query run would churn the codes under the data). Identical ADC
    * plan; and because the codebook is an explicit constant, the whole
    * computation is restatable by an external engine — the fitted path
    * can't be, which is why `sim_topk_pq` is a rows-only row while
    * `sim_topk_pq_fixed` carries a full oracle. */
  def pqTopKPinned(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int,
                   cb: Seq[Seq[Seq[Double]]]): DataFrame =
    rankTopK(pqScore(corpus, queries, idCol, vecCol, cb), k)

  /** [[ivfPqTopK]] with a caller-pinned codebook and the deterministic
    * [[centroidArray]] cells — the fully-restatable billion-scale
    * composition: REAL cell pruning (nProbe < nCells drops candidates, not
    * the full-probe identity) over the compressed ADC scan, every stage an
    * explicit constant or deterministic rule an external engine can
    * reproduce (`sim_topk_ivfpq_fixed` carries the composed oracle; the
    * fitted `sim_topk_ivfpq` stays rows-only). */
  def ivfPqTopKPinned(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, nCells: Int, nProbe: Int,
                      cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    val cents = centroidArray(corpus, idCol, vecCol, nCells)
    val cell = nearestCell(col("v"), cents)
    val scored = pqScore(corpus, queries, idCol, vecCol, cb,
      corpusExtra = Seq(cell.as("cell")),
      probe = q => q.select(col("*"),
        explode(nearestCells(col("qv"), cents, nProbe)).as("cell")),
      joinKeys = Seq("cell"))
    rankTopK(scored, k)
  }

  /** IVF-PQ: [[ivfTopK]]'s cell pruning composed with [[pqTopK]]'s
    * compressed ADC scan — the classic large-scale ANN recipe (prune
    * candidates by inverted file, score survivors against codes, never touch
    * raw vectors after encode). Both index structures ride along as literal
    * broadcasts; every join is keyed on the cell id. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int, nProbe: Int,
                m: Int, ksub: Int, fitIters: Int = 0): DataFrame = {
    val cents =
      if (fitIters > 0) kmeansCentroids(corpus, idCol, vecCol, nCells, fitIters)
      else centroidArray(corpus, idCol, vecCol, nCells)
    val cb = fitPqCodebooks(corpus, idCol, vecCol, m, ksub, fitIters)
    val cell = nearestCell(col("v"), cents)
    val scored = pqScore(corpus, queries, idCol, vecCol, cb,
      corpusExtra = Seq(cell.as("cell")),
      probe = q => q.select(col("*"),
        explode(nearestCells(col("qv"), cents, nProbe)).as("cell")),
      joinKeys = Seq("cell"))
    rankTopK(scored, k)
  }

  /** Shared ADC scoring plan for [[pqTopK]] / [[ivfPqTopK]]: encode the
    * corpus, precompute per-query lookup tables, join (cross or cell-keyed),
    * sum m lookups per candidate. */
  private def pqScore(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cb: Seq[Seq[Seq[Double]]],
      corpusExtra: Seq[Column] = Nil,
      probe: DataFrame => DataFrame = identity,
      joinKeys: Seq[String] = Nil): DataFrame = {
    val m = cb.size
    val dsub = cb.head.head.size
    val cbLit = typedLit(cb)
    // query-independent: squared norm of every codeword
    val normTab = typedLit(cb.map(_.map(cw => cw.map(x => x * x).sum)))
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val enc = base.select((col("id") +:
      pqEncode(col("v"), cbLit, dsub).as("codes") +: corpusExtra): _*)
    val qtab = transform(cbLit, (cbi, i) => transform(cbi, cw =>
      aggregate(zip_with(slice(col("qv"), i * lit(dsub) + 1, lit(dsub)), cw,
        (x, y) => x * y), lit(0.0), (acc, z) => acc + z)))
    val q0 = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .select(col("query_id"), col("qv"), qtab.as("qtab"),
        norm(col("qv")).as("qn"))
    val qp = probe(q0)
    val joined =
      if (joinKeys.isEmpty) enc.crossJoin(broadcast(qp))
      else enc.join(broadcast(qp), joinKeys)
    val subIdx = sequence(lit(0), lit(m - 1))
    val adcDot = aggregate(subIdx, lit(0.0), (acc, i) => acc +
      element_at(element_at(col("qtab"), i + 1),
        element_at(col("codes"), i + 1) + 1))
    val reconSq = aggregate(subIdx, lit(0.0), (acc, i) => acc +
      element_at(element_at(normTab, i + 1),
        element_at(col("codes"), i + 1) + 1))
    joined
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        try_divide(adcDot, col("qn") * sqrt(reconSq)).as("score"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with cosine >=
    * threshold. Unblocked all-pairs is quadratic — correct at verification
    * scale; at 100 TB block first ([[signBucket]] equi-join, same contract as
    * `Dedup.blockedNgramPairs`). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    v.select(col("id").as("a_id"), col("v").as("va"))
      .crossJoin(v.select(col("id").as("b_id"), col("v").as("vb")))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("va"), col("vb")).as("score"))
      .where(col("score") >= threshold)
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023): cluster
    * the embedding space, compare only WITHIN a cluster, and mark a vector
    * duplicate when any lower-id cluster-mate reaches `threshold` cosine —
    * keep-lowest-id, the dedup family's deterministic survivor rule. Emits
    * one row per vector: (id, cell, is_dup).
    *
    * Vs [[cosineNearDupPairsBucketed]]: sign buckets are data-independent
    * hyperplane cuts (a near-dup pair can straddle one), Voronoi cells
    * follow the data — the paper's finding is that semantic duplicates
    * concentrate inside k-means cells, so the within-cell comparison is the
    * right candidate generator for embedding-level dedup at corpus scale.
    *
    * Scale shape: centroids are a broadcast literal ([[centroidArray]];
    * deterministic lowest-id init — swap in [[kmeansCentroids]] for balance,
    * the contract is unchanged), so cell assignment is a zero-exchange
    * projection; the candidate join is a self-equi-join keyed on the cell,
    * and per-cell work is O((N/nCells)²) — `nCells` is the knob that holds
    * cell population flat as the corpus grows (the paper runs 50k clusters
    * on web scale). A pathological hot cell is AQE-skew-split at runtime. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, threshold: Double): DataFrame = {
    val cents = centroidArray(corpus, idCol, vecCol, nCells)
    val assigned = corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("cell", nearestCell(col("v"), cents))
    val dups = assigned
      .select(col("cell"), col("id").as("a_id"), col("v").as("va"))
      .join(assigned.select(col("cell"), col("id").as("b_id"), col("v").as("vb")),
        Seq("cell"))
      .where(col("a_id") < col("b_id") &&
        cosine(col("va"), col("vb")) >= threshold)
      .select(col("b_id").as("id")).distinct()
    assigned
      .join(dups.withColumn("is_dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Bucketed variant of [[cosineNearDupPairs]] — candidates limited to
    * pairs sharing a sign bucket, turning the all-pairs cross product into a
    * self-equi-join on the bucket key (the shuffle key IS the bucket).
    * Recall < 1: highly-similar vectors agree on most sign bits, but a
    * near-dup pair straddling a coordinate sign flip in the first `bits`
    * dims is missed — the standard LSH trade; raise recall with multiple
    * rotated bucketings at proportional cost. */
  def cosineNearDupPairsBucketed(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, bits: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucket(col(vecCol), bits).as("bucket"))
    v.select(col("bucket"), col("id").as("a_id"), col("v").as("va"))
      .join(v.select(col("bucket"), col("id").as("b_id"), col("v").as("vb")),
        Seq("bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("va"), col("vb")).as("score"))
      .where(col("score") >= threshold)
  }

  /** Multi-probe variant of [[cosineNearDupPairsBucketed]]: one side of the
    * self-join is expanded to probe its own bucket PLUS every single-bit
    * flip of it, so a near-dup pair straddling one coordinate's sign
    * boundary — the dominant miss mode of single-bucket LSH — is recovered.
    * Recall strictly dominates the single-bucket variant (its candidate set
    * is a superset); cost is (bits+1)× the probe-side rows, still an
    * equi-join on the bucket key, no cross product. Pairs at Hamming
    * distance ≥ 2 in bucket space are still missed — raise `bits`' coverage
    * further with rotated bucketings if needed.
    *
    * Each qualifying pair matches via exactly one probe (the probe set
    * {own, flip_0..flip_{bits-1}} has pairwise-distinct values), so no
    * dedup pass is needed. */
  def cosineNearDupPairsMultiProbe(df: DataFrame, idCol: String, vecCol: String,
                                   threshold: Double, bits: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucket(col(vecCol), bits).as("bucket"))
    val probeSet = array((col("bucket") +:
      (0 until bits).map(i => col("bucket").bitwiseXOR(lit(1L << i)))): _*)
    v.select(col("id").as("a_id"), col("v").as("va"),
        explode(probeSet).as("bucket"))
      .join(v.select(col("bucket"), col("id").as("b_id"), col("v").as("vb")),
        Seq("bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("va"), col("vb")).as("score"))
      .where(col("score") >= threshold)
  }

  /** Rotated-bucketing multi-probe: the single-bit-flip probe
    * ([[cosineNearDupPairsMultiProbe]]) UNIONed with candidates from a
    * SECOND, independent sign bucketing over a different coordinate slice
    * (dims rotOffset+1 .. rotOffset+bits, see [[signBucketAt]]). A near-dup
    * pair at bucket-Hamming ≥ 2 in the first slice — the residual miss mode
    * of single-flip probing — is recovered whenever its signs agree across
    * the rotated slice; a miss now needs simultaneous multi-bit disagreement
    * in BOTH slices. Candidates are a strict superset of the single-flip
    * variant's, at the cost of one extra bucket equi-join (the scale shape
    * is unchanged: every join is keyed on a bucket). The branch outputs are
    * deduplicated by DISTINCT — scores are bit-identical across branches
    * (same strict fold), so a pair surfacing in both collapses exactly. */
  def cosineNearDupPairsRotated(df: DataFrame, idCol: String, vecCol: String,
                                threshold: Double, bits: Int,
                                rotOffset: Int): DataFrame = {
    val flip = cosineNearDupPairsMultiProbe(df, idCol, vecCol, threshold, bits)
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucketAt(col(vecCol), bits, rotOffset).as("rbucket"))
    val rot = v.select(col("rbucket"), col("id").as("a_id"), col("v").as("va"))
      .join(v.select(col("rbucket"), col("id").as("b_id"), col("v").as("vb")),
        Seq("rbucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("va"), col("vb")).as("score"))
      .where(col("score") >= threshold)
    flip.unionByName(rot).distinct()
  }

  /** Sentinel for the `entryMod` parameter of [[graphTopK]]: derive the
    * entry-set density from the corpus size at runtime via
    * [[adaptiveEntryMod]] — the [[Dedup.AdaptiveBucket]] pattern. */
  val AdaptiveEntries: Long = -1L

  /** Entry modulus giving ~max(minEntries, c·√N) entry points over a corpus
    * of `corpusSize` vectors. Entries scale as √N, so the entry stage's work
    * (queries × entries) grows sub-linearly in the corpus instead of being a
    * fixed fraction of it: at N = 1e4 this is ~400 entries (mod 25), at
    * N = 1e10 it is ~4e5 entries (mod 25,000) — where a fixed mod 8 would
    * score 1.25e9 candidates per query. Monotonic by construction: a larger
    * corpus never yields a smaller modulus. */
  def adaptiveEntryMod(corpusSize: Long, c: Double = 4.0,
                       minEntries: Int = 64): Long = {
    require(corpusSize >= 0, s"corpusSize must be non-negative: $corpusSize")
    require(c > 0, s"entry coefficient must be positive: $c")
    val entries = math.max(minEntries.toDouble,
      math.ceil(c * math.sqrt(corpusSize.toDouble)))
    math.max(1L, (corpusSize / entries).toLong)
  }

  /** Greedy beam search over a k-NN graph — single-layer HNSW-style
    * navigation, closing the graph-ANN gap next to the IVF/PQ/LSH family:
    * from a deterministic entry set, repeatedly score the current beam's
    * graph neighbors against the query and keep the best `beamWidth`
    * candidates; after `hops` rounds, the top `k` of the final beam is the
    * answer. With the full corpus as entries (entryMod = 1) the search is
    * EXACT regardless of the graph (the contract test); with sparse entries
    * recall comes from graph navigability, the property a kNN graph
    * ([[knnGraph]]) is built to provide.
    *
    * The DEFAULT entry set is adaptive ([[AdaptiveEntries]]): the entry
    * COUNT is derived from the corpus size as c·√N and entryMod = N/count.
    * A fixed modulus would make the entry stage score a constant FRACTION
    * of the corpus per query — brute-force-class at scale, silently — the
    * same failure mode [[Dedup.adaptiveBucketCap]] exists to prevent for
    * LSH buckets. With √N entries the entry stage is O(queries·√N) while
    * navigability still holds (√N seeds cover a connected kNN graph densely
    * enough that some seed lands within a few hops of the true neighbors).
    *
    * Scale shape: per hop, one equi-join of the beam against the edge list
    * (keyed on the node id), one equi-join to fetch candidate vectors, and
    * a bounded-heap [[TopK]] aggregation — the shuffle carries beam rows
    * (queries × beamWidth), never the corpus. Each hop's beam is CUT into
    * a driver-side LocalRelation (see [[beamLoop]] — the lineage otherwise
    * doubles per hop, since the beam feeds both the neighbor expansion and
    * the re-rank union, and per-hop replanning of the growing tree
    * dominates wall clock); a beam past [[MaxLocalBeamRows]] falls back to
    * persist+count, and that final persisted beam self-releases after the
    * first consuming action or is owned by the caller's scope — the kmeans
    * precedent for iterative operators that run jobs at call time. */
  def graphTopK(vecs: DataFrame, idCol: String, vecCol: String,
                graph: DataFrame, queries: DataFrame, qidCol: String,
                qvecCol: String, k: Int, beamWidth: Int, hops: Int,
                entryMod: Long = AdaptiveEntries, corpusSize: Long = -1L,
                degBound: Int = -1,
                scope: CacheScope = null): DataFrame = {
    require(beamWidth >= k, s"beamWidth $beamWidth must be >= k $k")
    require((entryMod >= 1 || entryMod == AdaptiveEntries) && hops >= 0,
      s"bad search params: $entryMod/$hops")
    // PIN the query projection (r15): each beam cut is its own job and
    // each job REBUILDS the query broadcast — for a query set filtered
    // out of the corpus (the common serving shape) that re-executed the
    // corpus scan hops+2 times. The pin costs at most one scan, makes
    // every broadcast build driver-local, and yields the query count the
    // loop's bounds need for free.
    val (qPinned, nQ, qPersisted) = boundedCut(
      queries.select(col(qidCol).as("query_id"),
        asDouble(col(qvecCol)).as("qv")), None)
    val q = broadcast(qPinned)
    // the corpus projection feeds the entry set, EVERY hop's scoring join,
    // and the final re-score — persist it for the loop's duration (the
    // hnswTopK discipline: one scan, not hops+2), released with the
    // result's first action; any throw below must release it here
    val c = vecs.select(col(idCol).as("_gid"), asDouble(col(vecCol)).as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a persist-fallback frontier returned by beamLoop is live the moment
    // beamLoop returns; if plan construction below throws before the
    // release listener registers, the catch must release it too (the
    // 1bdffbc defect class — hnswTopK/hnswSearchPrebuilt already do this)
    var frontierRef: DataFrame = null
    try {
    // the adaptive default needs N: take the caller's hint when one is
    // given (callers that just built the kNN graph know it) — the count
    // fallback is one extra corpus scan, real money at the design scale
    val nKnown =
      if (corpusSize >= 0) corpusSize
      else if (entryMod == AdaptiveEntries) c.count()
      else -1L
    val mod =
      if (entryMod != AdaptiveEntries) entryMod else adaptiveEntryMod(nKnown)
    val g = graph.select(col("id").as("_gid"), col("nbr_id"))
    // same bounded-broadcast discipline as the hop joins (see beamLoop):
    // the entry frame is nQ · |{id % mod == 0}| rows of two longs — gate
    // the hint on the MEASURED entry-id count (one cheap job off the
    // persisted corpus), never the N/mod estimate: id spaces correlated
    // with mod (stride-multiplied ids, snowflake low-zero bits) can make
    // the real selection a corpus fraction, and an estimate-gated
    // broadcast would build an O(N)-row hash relation in exactly the
    // scale regime the bound exists to protect
    val entryIds = c.where(pmod(col("_gid"), lit(mod)) === 0).select(col("_gid"))
    val entries0 = q.select(col("query_id")).crossJoin(entryIds)
    val entries =
      if (nKnown >= 0 && {
        val estimate = nQ * (nKnown / mod + 1)
        estimate <= MaxBroadcastCandRows &&
          nQ * entryIds.count() <= MaxBroadcastCandRows
      }) broadcast(entries0)
      else entries0
    val frontier = beamLoop(c, g, q, entries, beamWidth, hops,
      nQueries = nQ, degBound = degBound)
    frontierRef = frontier
    val out = TopK.topKPerKey(beamScored(c, q)(frontier),
        "query_id", "score", "_gid", k)
      .toDF("query_id", "rank", "id", "score")
    CacheScope.handOver(scope, out, frontier, c, qPersisted)
    } catch {
      case t: Throwable =>
        c.unpersist(): Unit
        if (frontierRef != null) frontierRef.unpersist(): Unit // no-op if localized
        if (qPersisted != null) qPersisted.unpersist(): Unit
        throw t
    }
  }

  /** FILTERED graph-ANN search — the mode a production vector store
    * actually serves (every query carries a metadata predicate): results
    * come only from corpus rows satisfying `predicate`, mirroring
    * [[ivfTopKFiltered]]'s pre-filter contract. The filter is applied IN
    * TRAVERSAL: entries are drawn from eligible rows and every hop's
    * candidates drop ineligible nodes at the scoring join, so the beam
    * never holds (or pays to score) filtered-out vectors and the graph's
    * ineligible edges cost nothing but the edge-list join.
    *
    * RECALL CAVEAT (the inherent filtered-graph trade, documented here
    * because no traversal scheme escapes it): the walk cannot pass THROUGH
    * an ineligible node, so a selective predicate thins connectivity —
    * compensate with a larger `beamWidth`/`hops` (over-provisioning), a
    * denser entry set (smaller `entryMod`), or at the limit `entryMod = 1`,
    * where every eligible row seeds the beam and the result is EXACTLY the
    * brute force over eligible rows regardless of graph connectivity (the
    * oracle contract, same as [[graphTopK]]'s). For a prebuilt hierarchical
    * index, filtered search = this operator over its base layer
    * (`index.where(level = 0)` edges): upper layers only accelerate entry
    * choice, and a thinned top layer can lose every eligible seed. */
  def graphTopKFiltered(vecs: DataFrame, idCol: String, vecCol: String,
                        graph: DataFrame, queries: DataFrame, qidCol: String,
                        qvecCol: String, predicate: Column, k: Int,
                        beamWidth: Int, hops: Int,
                        entryMod: Long = AdaptiveEntries,
                        degBound: Int = -1,
                        scope: CacheScope = null): DataFrame =
    graphTopK(vecs.where(predicate), idCol, vecCol, graph, queries,
      qidCol, qvecCol, k, beamWidth, hops, entryMod,
      degBound = degBound, scope = scope)

  /** (query_id, _gid) candidates → scored rows against `c` (_gid, cv) and
    * broadcast `q` (query_id, qv); self-matches excluded like the
    * brute-force catalog convention. */
  private def beamScored(c: DataFrame, q: DataFrame)(cands: DataFrame): DataFrame =
    cands
      .join(c, "_gid").join(q, "query_id")
      .where(col("_gid") =!= col("query_id"))
      .select(col("query_id"), col("_gid"),
        cosine(col("qv"), col("cv")).as("score"))

  /** A plan that only projects and filters driver-resident rows
    * (LocalRelation / OneRowRelation): reading it runs no job and no
    * cluster scan, so pins and layer caches skip the persist/count
    * bookkeeping. Judged on the analyzed plan: asking for the optimized
    * one would fix the frame's cache lookup before a pin persists it. */
  private def isDriverLocal(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.analyzed.exists {
      case _: LocalRelation | _: OneRowRelation | _: Project | _: Filter => false
      case _ => true
    }
  }

  /** The one bounded CUT: ends `df`'s lineage at materialized rows, so
    * every later job reads them instead of re-running the plan (a query
    * set filtered out of the corpus would otherwise re-scan that corpus
    * in every job that rebuilds its broadcast, and the iterative search
    * operators run one job per beam cut). `local` is the caller's choice
    * where its row bound is arithmetic — decided BEFORE any job, never by
    * collecting first and measuring (that would materialize an unbounded
    * frame on the driver before the bound could refuse it): Some(true)
    * collects into a LocalRelation, Some(false) persists + counts. None
    * is the PIN of a frame whose size the caller's contract bounds (query
    * sets, append batches — the broadcast-size commitment): a
    * driver-local plan collects outright (no jobs); otherwise persist +
    * count, and collect + release under [[MaxBroadcastCandRows]]. A
    * persisted frame comes back in the third slot — the CALLER owns its
    * release on both the happy and error paths (a throw inside the cut
    * releases it here). Returns (frame, rowCount, persistedOrNull). */
  private def boundedCut(df: DataFrame,
                         local: Option[Boolean]): (DataFrame, Long, DataFrame) = {
    def localized(rows: Array[org.apache.spark.sql.Row]) =
      (df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
        df.schema), rows.length.toLong, null)
    if (local.getOrElse(isDriverLocal(df))) localized(df.collect())
    else {
      val m = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = m.count()
        if (local.isEmpty && n <= MaxBroadcastCandRows) {
          val rows = m.collect()
          m.unpersist(): Unit
          localized(rows)
        } else (m, n, m)
      } catch { case t: Throwable => m.unpersist(blocking = false); throw t }
    }
  }

  /** Frontier localization bound: a cut frontier holds at most
    * |queries| × beamWidth (query_id, _gid) pairs — the same driver-side
    * magnitude the operator already commits to by broadcasting the query
    * set. Up to this many rows the cut is a collect into a LocalRelation;
    * past it, persist + count (≈48 MB of Row overhead at the bound). */
  private val MaxLocalBeamRows = 1 << 21

  /** Broadcast ceiling for a hop's candidate frame (rows of two longs):
    * 2^20 rows ≈ tens of MB in the broadcast hash relation — comfortably
    * inside executor memory, far under the 8 GB broadcast hard limit. */
  private val MaxBroadcastCandRows = 1L << 20

  /** The shared greedy beam loop: seed a beam from `entries`, then per hop
    * expand along `g` and re-rank to `beamWidth` (bounded-heap TopK; the
    * shuffle carries beam rows, never the corpus).
    *
    * Frontier cadence: each hop CUTS the frontier by collecting it into a
    * LocalRelation (the kmeans-centroid precedent — small loop state lives
    * on the driver as literals). The alternatives — persist + count per
    * hop, or lazily chained hops — leave every hop's plan referencing the
    * whole tree built so far, and the per-materialization Catalyst/AQE
    * replan of that ever-deepening tree is what actually dominated the
    * operator's wall clock (measured on the bench heavy sim_topk_hnsw:
    * 84 sequential micro-stages averaging ~130 ms of replan + scheduling
    * floor over 2 000 corpus rows, ~10 s total; r12). With localized cuts
    * each hop is one flat LocalTableScan ⋈ graph ⋈ corpus job. Results are
    * bit-identical either way — the cut only decides where jobs end. A
    * beam whose bound outgrows [[MaxLocalBeamRows]] uses the persist+count
    * cut for EVERY hop (released at the next cut; a persisted FINAL
    * frontier is the caller's to release via scope/self-release — both
    * release paths are no-ops on a localized frontier).
    *
    * The local-vs-persist choice is made ARITHMETICALLY from the known
    * bound |queries| × beamWidth BEFORE any job runs — never by collecting
    * first and measuring: a collect-then-check guard materializes the
    * frontier on the driver before the bound can refuse it, which is a
    * driver OOM in exactly the regime the fallback exists for.
    * `nQueries` is the caller's query count (its query pin measured it);
    * `maxLocalRows` is a test seam, defaulted to [[MaxLocalBeamRows]]. */
  private[ext] def beamLoop(c: DataFrame, g: DataFrame, q: DataFrame,
                       entries: DataFrame, beamWidth: Int,
                       hops: Int, nQueries: Long,
                       maxLocalRows: Long = MaxLocalBeamRows,
                       degBound: Int = -1): DataFrame = {
    // candidate streams repeat ids (the frontier unions its own neighbor
    // expansion; distinct probe buckets can reach the same neighbor) with
    // the same deterministic score — the dedup-heap TopK collapses them
    // inside the map-side partials, so no separate distinct() EXCHANGE
    // precedes the rank exchange (one shuffle per hop, not two; result-
    // identical by the equal-score argument on TopKDistinctAggregator)
    def beamOf(cands: DataFrame): DataFrame =
      TopK.topKPerKeyDistinct(beamScored(c, q)(cands), "query_id", "score",
          "_gid", beamWidth)
        .select(col("query_id"), col("id").as("_gid"))
    val localBeam = nQueries <= maxLocalRows / math.max(1, beamWidth) // no overflow
    // per-hop candidate frames are ARITHMETICALLY bounded at
    // nQueries·beamWidth·(degBound+1) (the frontier plus each member's ≤
    // degBound graph edges) — but the planner cannot see that through the
    // frontier ⋈ graph expansion join, estimates the union as huge, and
    // exchanges the CORPUS on _gid for every hop's scoring join (measured:
    // 3 × 79 MB of the append proof's 281 MB was exactly this). When the
    // caller vouches for the graph's out-degree and the bound fits a
    // broadcast, hint the candidate side explicitly: the corpus is then
    // scanned per hop, never shuffled. Results are identical — the hint
    // only picks the join strategy.
    val hintCands: DataFrame => DataFrame =
      if (degBound > 0 && localBeam &&
          nQueries * beamWidth * (degBound + 1L) <= MaxBroadcastCandRows)
        broadcast
      else identity
    // (measured dead end, r14: re-hosting each cut onto a `newSession`
    // clone with AQE off did drop the job count 68 → 40 on the bench hnsw
    // row, but the per-cut re-analysis under the fresh session cost ~2×
    // what the saved stage-jobs bought — cuts stay on the caller's session)
    var lastCkpt: DataFrame = null // the persist-fallback cut, if any
    def cut(df: DataFrame): DataFrame = {
      // localized: ≤ nQueries·beamWidth ≤ maxLocalRows rows, pre-checked
      val (out, _, persisted) = boundedCut(df, Some(localBeam))
      if (lastCkpt ne null) lastCkpt.unpersist(): Unit
      lastCkpt = persisted
      out
    }
    // a mid-loop throw must release the previous hop's persisted cut — the
    // happy-path FINAL cut is the caller's to release (scope/self-release),
    // but no caller handle exists for an intermediate one (the 1bdffbc
    // defect class; localized cuts make every release below a no-op)
    try {
      var frontier = cut(beamOf(entries))
      for (_ <- 1 to hops) {
        val nbrs = frontier.join(g, "_gid")
          .select(col("query_id"), col("nbr_id").as("_gid"))
        frontier = cut(beamOf(hintCands(frontier.unionByName(nbrs))))
      }
      frontier
    } catch {
      case t: Throwable =>
        if (lastCkpt ne null) lastCkpt.unpersist(blocking = false): Unit
        throw t
    }
  }

  /** Deterministic HNSW level for a node id: the largest L ≤ `maxLevel`
    * with md5-60bit(id, salt) ≡ 0 (mod m^L) — the geometric level law
    * (P[level ≥ L] = m^-L, Malkov & Yashunin 2016) in a keyed-hash form an
    * external oracle can restate exactly (no RNG state). Level sets nest:
    * layer L contains every node of level ≥ L. */
  def hnswLevel(id: Column, m: Int, maxLevel: Int,
                salt: String = "hnsw"): Column = {
    require(m >= 2 && maxLevel >= 1, s"bad level params: m=$m max=$maxLevel")
    val h = conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 15),
      16, 10).cast("long")
    (maxLevel to 1 by -1).foldLeft(Option.empty[Column]) { (acc, l) =>
      val cond = h % math.pow(m.toDouble, l.toDouble).toLong === 0
      Some(acc.fold(when(cond, l))(_.when(cond, l)))
    }.get.otherwise(0)
  }

  /** The hierarchical family's corpus projection: (_gid, cv, _lv), the
    * level from [[hnswLevel]]. */
  private def leveled(vecs: DataFrame, idCol: String, vecCol: String,
                      m: Int, maxLevel: Int, salt: String): DataFrame =
    vecs.select(col(idCol).as("_gid"), asDouble(col(vecCol)).as("cv"),
      hnswLevel(col(idCol), m, maxLevel, salt).as("_lv"))

  /** Per-level node counts and the fixed vector dimension of a
    * [[leveled]] frame. */
  private final case class LevelGeometry(counts: Map[Int, Long], dim: Int) {
    def nAtLeast(level: Int): Long =
      counts.collect { case (l, n) if l >= level => n }.sum
    /** Layer `level`'s bucket width: `bits`, or under [[AdaptiveBits]] the
      * width derived from THAT layer's node count — the upper layers are
      * m^-L of the corpus, so a width tuned to the base layer would leave
      * them with ~2^bits near-empty buckets while a width tuned to them
      * would make the base build bucket-quadratic. */
    def bitsFor(level: Int, bits: Int): Int =
      if (bits != AdaptiveBits) bits
      else adaptiveBitsCapped(nAtLeast(level), dim) // never past the array
  }

  /** The [[LevelGeometry]] of a [[leveled]] frame from ONE tiny level
    * histogram. With `emptyTop` given, an EMPTY top layer (tiny corpus vs
    * m^maxLevel — every query would silently get zero results) fails fast
    * naming the entry point `op` and the fix `emptyTop`. */
  private def levelGeometry(c: DataFrame, m: Int, maxLevel: Int, op: String,
                            emptyTop: String = null): LevelGeometry = {
    val rows = c.groupBy("_lv").agg(count(lit(1)).as("n"),
      min(size(col("cv"))).as("dlo"), max(size(col("cv"))).as("dhi")).collect()
    val counts = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(emptyTop == null || counts.keys.exists(_ >= maxLevel),
      s"$op: top layer (level >= $maxLevel at m=$m) is empty — $emptyTop")
    LevelGeometry(counts, requireFixedDim(rows.toSeq.flatMap(r =>
      Seq(2, 3).filterNot(r.isNullAt).map(r.getInt)), op))
  }

  private val EmptyTopBuild = "lower maxLevel (or m) for this corpus size"

  /** Layer `level` of the hierarchical index over a persisted [[leveled]]
    * corpus: [[knnGraph]] over the nodes of level ≥ `level` at `geo`'s
    * width for that layer, sized from the histogram (no recount). */
  private def hnswLayer(c: DataFrame, geo: LevelGeometry, knnK: Int,
                        bits: Int, level: Int): DataFrame =
    knnGraph(c.where(col("_lv") >= level), "_gid", "cv", knnK,
      geo.bitsFor(level, bits), corpusSize = geo.nAtLeast(level))

  /** HIERARCHICAL graph ANN — multi-layer HNSW-style search over nested
    * kNN-graph layers, the log-scale entry descent that keeps hop counts
    * flat as the corpus grows (single-layer [[graphTopK]] needs √N entry
    * points; here the top layer IS the entry set, m^maxLevel-fold smaller
    * than the corpus, and each layer's beam seeds the next layer down).
    * Levels come from [[hnswLevel]] (deterministic, oracle-restatable);
    * layer L's graph is [[knnGraph]] over the nodes of level ≥ L.
    *
    * This is [[hnswSearchPrebuilt]] ∘ [[hnswBuild]] in one call: the
    * layers are built by the build's code off the search's persisted
    * corpus (one level histogram serves both), and the descent vouches
    * `knnK` as the graph's out-degree. A caller that already built
    * knnGraph(vecs, idCol, vecCol, knnK, bits) — e.g. to run the flat
    * search it is being compared against — passes it as `baseGraph`
    * ((id, nbr_id) rows): it becomes level 0 and only the upper layers
    * are built.
    *
    * Search: score ALL top-layer nodes per query (the top layer is
    * corpus/m^maxLevel nodes — the descent's entry cost), beam down with
    * `hopsPerLevel` hops inside each upper layer, then `baseHops` hops in
    * the full base layer; top `k` of the final beam is the answer.
    *
    * Scale shape: identical per-hop joins to [[graphTopK]] (beam-sized
    * shuffles only); the extra cost over single-layer is the upper-layer
    * graph builds (≤ 1/m + 1/m² + … of the base build) bought back by the
    * entry stage shrinking from √N·queries to N/m^maxLevel·queries scored
    * rows plus strictly-better-seeded base navigation. Pass
    * [[AdaptiveBits]] for `bits` to derive EACH layer's bucket width from
    * that layer's node count ([[adaptiveSignBits]], one histogram
    * aggregation for all layers) — the graph build then stays
    * linear-with-log in N instead of bucket-quadratic at a fixed width. */
  def hnswTopK(vecs: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, qidCol: String, qvecCol: String,
               k: Int, beamWidth: Int, knnK: Int, bits: Int,
               m: Int = 8, maxLevel: Int = 2, hopsPerLevel: Int = 1,
               baseHops: Int = 2, salt: String = "hnsw",
               baseGraph: DataFrame = null,
               scope: CacheScope = null): DataFrame =
    hnswSearch(vecs, idCol, vecCol, queries, qidCol, qvecCol, k, beamWidth,
        m, maxLevel, hopsPerLevel, baseHops, salt, knnK, scope, null,
        "hnswTopK", EmptyTopBuild) { (c, geo) => level =>
      if (level == 0 && baseGraph != null) baseGraph
      else hnswLayer(c, geo, knnK, bits, level)
    }

  /** MATERIALIZED hierarchical ANN index: one frame of
    * (level, id, rank, nbr_id, score) rows — layer L's [[knnGraph]] over
    * the nodes of [[hnswLevel]] ≥ L, bucket widths per layer via
    * [[adaptiveSignBits]] under [[AdaptiveBits]] (one level-histogram
    * aggregation decides all of them). This is the index [[hnswTopK]]
    * builds transiently, persisted AS DATA: write it to parquet and the
    * hierarchy outlives the session — searchable
    * ([[hnswSearchPrebuilt]]; search ∘ build is exactly [[hnswTopK]]) and
    * appendable ([[hnswAppend]]), completing graph ANN's index-
    * maintenance story (build once, serve + ingest forever) the way
    * [[centroidArray]]/[[ivfAssign]] already complete IVF's. */
  def hnswBuild(vecs: DataFrame, idCol: String, vecCol: String,
                knnK: Int, bits: Int, m: Int = 8, maxLevel: Int = 2,
                salt: String = "hnsw"): DataFrame = {
    val c = leveled(vecs, idCol, vecCol, m, maxLevel, salt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val geo = levelGeometry(c, m, maxLevel, "hnswBuild", EmptyTopBuild)
      val out = (0 to maxLevel).map(l => hnswLayer(c, geo, knnK, bits, l)
          .select(lit(l).as("level"), col("id"), col("rank"), col("nbr_id"),
            col("score")))
        .reduce(_ unionByName _)
      CacheScope.handOver(null, out, c)
    } catch { case t: Throwable => c.unpersist(): Unit; throw t }
  }

  /** Descent over a PREBUILT [[hnswBuild]] index: the dominant build cost
    * is paid once and amortized across every query batch, and
    * search ∘ build returns exactly [[hnswTopK]]'s rows on the same
    * corpus/parameters (spec-pinned law) — [[hnswTopK]] is this descent
    * over layers it builds itself. `degBound` vouches for the index's
    * out-degree (its knnK); without it, one max(rank) scan of the index
    * measures it. `exclude` (one id column) bans ids from every RESULT
    * while their nodes keep routing the descent. */
  def hnswSearchPrebuilt(vecs: DataFrame, idCol: String, vecCol: String,
                         index: DataFrame, queries: DataFrame,
                         qidCol: String, qvecCol: String,
                         k: Int, beamWidth: Int, m: Int = 8,
                         maxLevel: Int = 2, hopsPerLevel: Int = 1,
                         baseHops: Int = 2, salt: String = "hnsw",
                         degBound: Int = -1,
                         scope: CacheScope = null,
                         exclude: DataFrame = null): DataFrame =
    hnswSearch(vecs, idCol, vecCol, queries, qidCol, qvecCol, k, beamWidth,
        m, maxLevel, hopsPerLevel, baseHops, salt,
        if (degBound > 0) degBound
        else index.agg(max(col("rank"))).head() match {
          case r if r.isNullAt(0) => -1 // empty index: no bound to vouch
          case r => r.getInt(0)
        },
        scope, exclude, "hnswSearchPrebuilt",
        "index and search params must agree") { (_, _) => level =>
      index.where(col("level") === level)
    }

  /** The one hierarchical DESCENT ([[hnswSearchPrebuilt]], and through it
    * [[hnswTopK]]): pin the queries, persist the [[leveled]] corpus, take
    * its [[LevelGeometry]], get each layer's (id, nbr_id, …) graph from
    * `layersOf` (which may build it off that corpus and geometry), then
    * beam `hopsPerLevel` times per upper layer and `baseHops` times in the
    * base, each layer seeded by the cut beam above it; the top `k` of the
    * final beam, minus `exclude`, is the answer. `degBound` (by name,
    * evaluated after the level histogram) vouches for the graphs'
    * out-degree. A throw releases everything this call persisted; the
    * happy path hands the corpus, the query pin and the final frontier to
    * `scope`/self-release. */
  private def hnswSearch(vecs: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      beamWidth: Int, m: Int, maxLevel: Int, hopsPerLevel: Int,
      baseHops: Int, salt: String, degBound: => Int, scope: CacheScope,
      exclude: DataFrame, op: String, emptyTop: String)(
      layersOf: (DataFrame, LevelGeometry) => Int => DataFrame): DataFrame = {
    require(beamWidth >= k, s"beamWidth $beamWidth must be >= k $k")
    require(exclude == null || exclude.columns.length == 1,
      "exclude must be a ONE-column frame of result-banned ids, got " +
        (if (exclude == null) "" else exclude.columns.mkString("(", ", ", ")")))
    require(hopsPerLevel >= 0 && baseHops >= 0,
      s"bad hops: $hopsPerLevel/$baseHops")
    // pin the query projection (r15, the graphTopK rationale): the
    // descent rebuilds the query broadcast once per beam cut per layer
    val (qPinned, nQ, qPersisted) = boundedCut(
      queries.select(col(qidCol).as("query_id"),
        asDouble(col(qvecCol)).as("qv")), None)
    val q = broadcast(qPinned)
    // (id, vector, level) feeds every layer's candidate set (and any layer
    // build), the entry cross join and the final re-score — one corpus
    // projection persisted for the call's duration
    val cAll = leveled(vecs, idCol, vecCol, m, maxLevel, salt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var layers = Seq.empty[DataFrame]
    var frontier: DataFrame = null // the last cut beam
    try {
      // one histogram off the persisted corpus: the empty-top-layer guard,
      // the top-layer count for the entry broadcast, any build's widths
      val geo = levelGeometry(cAll, m, maxLevel, op, emptyTop)
      // the out-degree bound lets the hop joins broadcast their candidate
      // frames (results are identical either way — it only picks joins); a
      // serving loop passes the known knnK instead of a scan per call
      val deg = degBound
      // fetch every layer's graph UP FRONT, persist them, and materialize
      // them all in ONE action: the layers are independent subtrees, so
      // their stages schedule concurrently instead of serializing level by
      // level, and no beam cut ever carries a build tree in its plan —
      // cuts read the cache. Peak cache is Σ layers < base·m/(m−1). A
      // driver-resident layer (a caller's collected base graph) is
      // already materialized and is read as it is.
      val layerOf = layersOf(cAll, geo)
      val layerGs = (maxLevel to 0 by -1).map(l =>
        layerOf(l).select(col("id").as("_gid"), col("nbr_id")))
      layers = layerGs.filterNot(isDriverLocal)
        .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      if (layers.nonEmpty) layers.reduce(_ unionByName _).count(): Unit
      // the entry frame is nQ·|top layer| rows of two longs — broadcast it
      // under the same bound as the hop joins so the top layer's scoring
      // join never exchanges the corpus slice
      val entries0 = q.select(col("query_id"))
        .crossJoin(cAll.where(col("_lv") >= maxLevel).select(col("_gid")))
      var entries =
        if (nQ * geo.nAtLeast(maxLevel) <= MaxBroadcastCandRows)
          broadcast(entries0)
        else entries0
      for ((layerG, level) <- layerGs.zip(maxLevel to 0 by -1)) {
        val beam = beamLoop(cAll.where(col("_lv") >= level).select("_gid", "cv"),
          layerG, q, entries, beamWidth,
          if (level == 0) baseHops else hopsPerLevel, nQ, degBound = deg)
        if (frontier != null) frontier.unpersist(): Unit // no-op if localized
        frontier = beam
        entries = beam
      }
      layers.foreach(_.unpersist(): Unit)
      // tombstone exclusion lands on the CANDIDATE set, before the top-k
      // cut — excluded nodes still ROUTED the descent (their edges carried
      // the beam), they just cannot surface, and survivors backfill the k
      // from the same beam; the exclusion set is tombstone-sized, so it
      // broadcasts
      val candAll = beamScored(cAll.select("_gid", "cv"), q)(frontier)
      val cand =
        if (exclude == null) candAll
        else candAll.join(
          broadcast(exclude.select(col(exclude.columns.head).as("_gid"))
            .distinct()),
          Seq("_gid"), "left_anti")
      val out = TopK.topKPerKey(cand, "query_id", "score", "_gid", k)
        .toDF("query_id", "rank", "id", "score")
      CacheScope.handOver(scope, out, frontier, cAll, qPersisted)
    } catch {
      case t: Throwable =>
        layers.foreach(_.unpersist(): Unit)
        cAll.unpersist(): Unit
        if (frontier != null) frontier.unpersist(): Unit
        if (qPersisted != null) qPersisted.unpersist(): Unit
        throw t
    }
  }

  /** Persist an [[hnswBuild]] index with its geometry sidecar
    * ([[StoreMeta]]): the frame's rows carry no trace of (m, maxLevel,
    * salt) — the level-assignment law — so a prebuilt descent with
    * drifted parameters walks wrong layers and silently degrades recall.
    * knnK/bits are recorded for provenance (build-time only). */
  def hnswSave(index: DataFrame, dir: String, knnK: Int, bits: Int,
               m: Int = 8, maxLevel: Int = 2, salt: String = "hnsw"): Unit = {
    index.write.mode("overwrite").parquet(dir)
    StoreMeta.Hnsw.put(index.sparkSession, dir,
      StoreMeta.Hnsw(m, maxLevel, salt, knnK, bits))
  }

  /** Open an [[hnswSave]] index, verifying the level-assignment geometry
    * (m, maxLevel, salt) a [[hnswSearchPrebuilt]] descent is about to
    * assume — loud on drift. */
  def hnswOpen(spark: org.apache.spark.sql.SparkSession, dir: String,
               m: Int = 8, maxLevel: Int = 2,
               salt: String = "hnsw"): DataFrame = {
    StoreMeta.open(spark, dir, StoreMeta.Hnsw, (g: StoreMeta.Hnsw) =>
      g.copy(m = m, maxLevel = maxLevel, salt = salt))
    spark.read.parquet(dir)
  }

  /** The tombstone sidecar dir of a served hnsw index (underscore-prefixed:
    * invisible to the index's own parquet read). */
  val HnswTombstoneDir = "_graft_tombstones"

  /** SOFT-DELETE ids from a served hnsw index (right of erasure for the
    * ANN family): ids land in a tombstone sidecar next to the index, and
    * [[hnswSearchPrebuiltAt]] bans them from every RESULT while their
    * nodes keep ROUTING the descent — the standard HNSW soft-delete
    * (hard-removing a node's edges disconnects its neighborhood and
    * silently degrades recall for the survivors; rebuild the index to
    * reclaim tombstoned mass). Ids must be integral (the library's index
    * id contract — they round-trip the sidecar as longs). Append-mode and
    * idempotent (re-tombstoning is a no-op at read, which distincts).
    * Returns the tombstone-set size after the append. */
  def hnswTombstoneAt(spark: org.apache.spark.sql.SparkSession,
                      dir: String, ids: DataFrame): Long = {
    StoreMeta.open(spark, dir, StoreMeta.Hnsw)
    require(ids.columns.length == 1,
      s"ids must be a ONE-column frame of index ids, got " +
        ids.columns.mkString("(", ", ", ")"))
    ids.select(col(ids.columns.head).cast("long").as("id")).distinct()
      .write.mode("append").parquet(s"$dir/$HnswTombstoneDir")
    hnswTombstonesAt(spark, dir).count()
  }

  /** The current tombstone set of a served hnsw index: one `id` column,
    * distinct; empty when nothing was ever tombstoned. */
  def hnswTombstonesAt(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir, HnswTombstoneDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(p.toString).distinct()
    else spark.range(0).select(col("id"))
  }

  /** RECLAIM a tombstone-laden served index: rebuild from the surviving
    * vectors (every construction parameter — m, maxLevel, salt, knnK,
    * bits — read from the sidecar, so the rebuild cannot drift from the
    * original contract) and swap the rebuilt index in for the old index
    * files and the tombstone sidecar together, in one claimed swap
    * ([[StoreMeta.swapRewrite]]; the geometry sidecar is untouched). `vecs`
    * is the full corpus (tombstoned vectors are dropped here — this is the
    * op that finally hard-removes them); after it, routing no longer
    * passes through deleted mass. After a crash at any step the next open
    * sees the old index with its tombstones or the rebuilt one without
    * them — a tombstoned id is banned or gone, never revived. A tombstone
    * landing while a rebuild runs is retired with the rest: serialize
    * [[hnswTombstoneAt]] with rebuilds. Returns the number of tombstones
    * reclaimed (0 = nothing to do, or superseded by a concurrent
    * maintainer — index untouched). */
  def hnswRebuildAt(spark: org.apache.spark.sql.SparkSession, dir: String,
                    vecs: DataFrame, idCol: String, vecCol: String): Long = {
    val g = StoreMeta.open(spark, dir, StoreMeta.Hnsw)
    val tombstones = hnswTombstonesAt(spark, dir)
    val reclaimed = tombstones.count()
    if (reclaimed == 0) return 0L
    val banned = tombstones
      .select(col("id").cast(vecs.schema(idCol).dataType).as(idCol))
    val survivors = vecs.join(broadcast(banned), Seq(idCol), "left_anti")
    val idx = hnswBuild(survivors, idCol, vecCol, knnK = g.knnK,
      bits = g.bits, m = g.m, maxLevel = g.maxLevel, salt = g.salt)
    val retire = spark.read.parquet(dir).inputFiles.toSeq :+
      new org.apache.hadoop.fs.Path(dir, HnswTombstoneDir).toUri.toString
    if (StoreMeta.swapRewrite(spark, dir, idx, retire)) reclaimed else 0L
  }

  /** [[hnswSearchPrebuilt]] against a SERVED index: the level-assignment
    * geometry (m, maxLevel, salt) comes FROM the sidecar — drift
    * impossible by construction — and the tombstone sidecar's ids are
    * excluded from every result (still routing; see [[hnswTombstoneAt]]).
    * `vecs` must carry the index's corpus INCLUDING tombstoned vectors —
    * dropping them from `vecs` only costs routing, never correctness. */
  def hnswSearchPrebuiltAt(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           vecs: DataFrame, idCol: String, vecCol: String,
                           queries: DataFrame, qidCol: String,
                           qvecCol: String,
                           k: Int, beamWidth: Int,
                           hopsPerLevel: Int = 1, baseHops: Int = 2,
                           degBound: Int = -1,
                           scope: CacheScope = null): DataFrame = {
    val g = StoreMeta.open(spark, dir, StoreMeta.Hnsw)
    hnswSearchPrebuilt(vecs, idCol, vecCol, spark.read.parquet(dir),
      queries, qidCol, qvecCol, k, beamWidth, m = g.m, maxLevel = g.maxLevel,
      hopsPerLevel = hopsPerLevel, baseHops = baseHops, salt = g.salt,
      degBound = degBound, scope = scope,
      exclude = hnswTombstonesAt(spark, dir))
  }

  /** Persist a pinned centroid set (the [[ivfAssign]]/[[ivfSearchAssigned]]
    * contract state) as data + geometry sidecar. Centroid ids must be
    * integral — they round-trip as longs. */
  def centroidsSave(spark: org.apache.spark.sql.SparkSession,
                    cents: Seq[(Any, Seq[Double])], dir: String): Unit = {
    require(cents.nonEmpty, "centroidsSave: empty centroid set")
    val dims = cents.map(_._2.length).distinct
    require(dims.length == 1,
      s"centroidsSave: ragged centroid dims ${dims.sorted.mkString(",")}")
    val rows = cents.map {
      case (l: Long, v) => (l, v)
      case (i: Int, v) => (i.toLong, v)
      case (other, _) =>
        sys.error(s"centroid ids must be integral to persist, got: $other")
    }
    import spark.implicits._
    rows.toDF("cent_id", "cent_v").write.mode("overwrite").parquet(dir)
    StoreMeta.Centroids.put(spark, dir,
      StoreMeta.Centroids(cents.length, dims.head))
  }

  /** Open a [[centroidsSave]] set, verifying the DIMENSION the probe's
    * vectors will score against (a dim mismatch inside the cosine would
    * throw per-row or rank garbage, depending on padding) — returns the
    * centroid seq ready for [[centroidLiteral]]/[[ivfAssign]]. */
  def centroidsOpen(spark: org.apache.spark.sql.SparkSession, dir: String,
                    expectDim: Int): Seq[(Any, Seq[Double])] = {
    StoreMeta.open(spark, dir, StoreMeta.Centroids,
      (g: StoreMeta.Centroids) => g.copy(dim = expectDim))
    spark.read.parquet(dir).orderBy("cent_id").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
  }

  /** Incremental append for the HIERARCHICAL index: [[knnGraphAppend]]
    * applied per layer — each new vector joins every layer its
    * [[hnswLevel]] admits it to (search-based insertion against that
    * layer's old nodes + the batch's own per-layer bucketed graph),
    * old nodes patch reciprocally, untouched edges pass through
    * byte-identical. Batch widths derive per layer from the batch's OWN
    * level histogram under [[AdaptiveBits]]. Returns the appended index
    * in [[hnswBuild]]'s shape. Old and new id sets must be disjoint;
    * `index` must be an [[hnswBuild]]-shaped frame over `oldVecs` with
    * the same (m, maxLevel, salt). */
  def hnswAppend(oldVecs: DataFrame, index: DataFrame, newVecs: DataFrame,
                 idCol: String, vecCol: String, knnK: Int, bits: Int,
                 beamWidth: Int, hops: Int, m: Int = 8, maxLevel: Int = 2,
                 entryMod: Long = AdaptiveEntries,
                 indexDegBound: Int = -1,
                 salt: String = "hnsw"): DataFrame = {
    require(maxLevel >= 1, s"maxLevel must be >= 1: $maxLevel")
    // pin the batch ONCE: each level otherwise re-executes the batch's
    // lineage for its own knnGraphAppend pin (L+1 scans of a possibly
    // corpus-wide filter) — a LocalRelation batch makes every per-level
    // pin driver-cheap (knnGraphAppend detects it and skips its
    // persist/count jobs). Falls back to the raw frame past the bound;
    // knnGraphAppend's own persist path then bounds each level.
    val (batchPinned, _, batchPersisted) =
      boundedCut(newVecs.select(col(idCol), col(vecCol)), None)
    try {
    // the batch's OWN level histogram; an empty batch top layer is fine
    val geo = levelGeometry(
      leveled(batchPinned, idCol, vecCol, m, maxLevel, salt), m, maxLevel,
      "hnswAppend")
    val out = (0 to maxLevel).map { l =>
      val lvl = hnswLevel(col(idCol), m, maxLevel, salt)
      val o = oldVecs.where(lvl >= l)
      val nu = batchPinned.where(lvl >= l)
      val g = index.where(col("level") === l)
        .select(col("id"), col("rank"), col("nbr_id"), col("score"))
      knnGraphAppend(o, g, nu, idCol, vecCol, knnK, beamWidth, hops,
          entryMod, batchBits = geo.bitsFor(l, bits),
          graphDegBound = indexDegBound)
        .select(lit(l).as("level"), col("id"), col("rank"),
          col("nbr_id"), col("score"))
    }.reduce(_ unionByName _)
    CacheScope.handOver(null, out, batchPersisted)
    } catch {
      // the width-probe aggregation, requireFixedDim, and every eager
      // per-level append can throw before the release above registers —
      // a persist-fallback pin must not strand (no-op when localized)
      case t: Throwable =>
        if (batchPersisted != null) batchPersisted.unpersist(blocking = false): Unit
        throw t
    }
  }

  /** Sparse LEXICAL cosine similarity — the tf-vector member of the tf-idf
    * family, complementing the dense-embedding ANN suite with the other
    * standard retrieval modality (term overlap, not embedding geometry).
    * Emits (a_id, b_id, dot, cosine) for every document pair whose
    * term-frequency vectors — over the `df <= maxDf` vocabulary — meet the
    * cosine threshold. Dropping stopword-class terms (df > maxDf) before
    * vectorization is both the signal-bearing choice (ubiquitous terms
    * carry no lexical-similarity information) and what makes the all-pairs
    * join tractable: it is exactly the df-capping of all-pairs similarity
    * search (Bayardo et al., WWW 2007), so each term contributes at most
    * maxDf² candidate pairs and the quadratic blowup of web-scale stopwords
    * never materializes.
    *
    * Scale shape: token rows collapse to (doc, term, tf) BEFORE any join;
    * the candidate self-join is keyed on the term; dots and norms are
    * term/doc-keyed aggregations. Exact arithmetic throughout: dot and
    * norm² are integer sums, and cosine = dot / (√a·√b) composes only
    * correctly-rounded IEEE ops (÷, ×, √) on exact integers — bit-identical
    * in any engine, unlike a log-weighted tf-idf score. */
  def lexicalCosinePairs(df: DataFrame, idCol: String, textCol: String,
                         maxDf: Int, threshold: Double,
                         scope: CacheScope = null): DataFrame = {
    require(maxDf >= 1, s"maxDf must be positive: $maxDf")
    // tf feeds the df filter, both self-join sides, and the norms — always
    // persist it (recomputing the corpus explode four times is the single
    // biggest cost of the operator)
    val tf = df
      .select(col(idCol).as("_lid"), explode(Dedup.words(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col("_lid"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("term"))
    val tfKept = tf.join(keep, "term")
    val norms = tfKept.groupBy(col("_lid"))
      .agg(sum(col("tf") * col("tf")).as("norm2"))
    val out = tfKept.select(col("term"), col("_lid").as("a_id"), col("tf").as("a_tf"))
      .join(tfKept.select(col("term"), col("_lid").as("b_id"), col("tf").as("b_tf")),
        Seq("term"))
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("a_tf") * col("b_tf")).as("dot"))
      .join(norms.select(col("_lid").as("a_id"), col("norm2").as("_na")), Seq("a_id"))
      .join(norms.select(col("_lid").as("b_id"), col("norm2").as("_nb")), Seq("b_id"))
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))))
      .where(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("dot"), col("cosine"))
    CacheScope.handOver(scope, out, tf)
  }
}
