package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import FixedPoint.DivOps

/** Domain-targeted data selection via hashed n-gram importance weights —
  * the DSIR recipe (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023): estimate target-corpus and
  * raw-corpus distributions over a hashed n-gram feature space, weight each
  * bucket by how over-represented it is in the TARGET, score every raw
  * document by the weights of the buckets its grams fall in, and keep the
  * top of the ranking. This is the standard pretraining-mix move ("make the
  * crawl look like Wikipedia/books") next to the quality gates in
  * [[TextStats]] and the per-key samplers in [[Sampling]].
  *
  * Portability: DSIR proper scores by the log-likelihood ratio
  * Σ c_b·(ln p_b − ln q_b). `ln` is not correctly-rounded, so cross-engine
  * bit-equality cannot be promised for it ([[importanceLogWeights]] is that
  * form, Spark-side). The ORACLE-CHECKED form here replaces each bucket's
  * log-ratio with the fixed-point frequency DIFFERENCE
  * `w_b = pf_b − qf_b` (denominator-smoothed, scaled by `scale`, truncating
  * integer division — [[Graph.pageRankExact]]'s arithmetic): per bucket it
  * moves in the same direction as the log-ratio (both positive iff
  * p_b > q_b), every value is an exact BIGINT, and the whole computation
  * restates verbatim in ANSI SQL. The difference form is the linear
  * hashed-feature classifier score; the ranking it induces differs from the
  * LLR's only in how much rare-vs-common bucket evidence is traded off.
  *
  * Scale shape: the two distribution estimates are vocabulary-sized
  * aggregations (one tiny exchange of ≤ `nBuckets` partial rows each, full
  * map-side combine); the weight table is `nBuckets` rows — broadcast-small
  * BY CONSTRUCTION — so scoring is explode → broadcast-hash join →
  * doc-keyed aggregation: the corpus crosses exactly ONE exchange (the
  * per-doc sum, with partial aggregation). Nothing all-pairs, nothing
  * driver-side beyond the selection count.
  *
  * Fixed-point capacity: `cnt · scale` must fit a BIGINT — with the
  * default `scale` = 2²⁰ that admits ~2⁴³ gram occurrences per corpus
  * (≈ 8·10¹², comfortably past a 100 TB text corpus's bigram count in any
  * one bucket; raise `nBuckets`, not `scale`, as the corpus grows). */
object Dsir {

  /** Lowercased whitespace word array, empty tokens dropped
    * ([[TextStats.tokens]] + the empty-token filter every gram consumer
    * needs — double spaces must not mint empty grams). */
  private def words(text: Column): Column =
    filter(TextStats.tokens(text), t => length(t) > 0)

  /** All `n`-word grams of `text` (space-joined occurrence list, not a
    * set). Texts shorter than `n` words yield an empty array — guarded
    * explicitly because `sequence(1, 0)` would DESCEND, not vanish. */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be positive: $n")
    val w = words(text)
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - lit(n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Engine-portable feature bucket of one gram: first 8 md5 hex digits as
    * an integer, modulo `nBuckets` — the [[Sampling.unitHash]] md5 move
    * applied to feature hashing (DuckDB: `('0x' || substr(md5(g), 1, 8))
    * ::BIGINT % nBuckets`). Non-negative by construction. */
  def bucketOf(gram: Column, nBuckets: Int): Column = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    pmod(conv(substring(md5(gram), 1, 8), 16, 10).cast("long"), lit(nBuckets.toLong))
  }

  /** Per-bucket gram-occurrence counts of a corpus — the distribution
    * estimate's sufficient statistic. Vocabulary-sized output (≤ `nBuckets`
    * rows); the aggregation partials map-side so the exchange carries at
    * most `nBuckets` rows per input partition. */
  def bucketCounts(df: DataFrame, textCol: String, nBuckets: Int,
                   n: Int = 2): DataFrame =
    df.select(explode(ngrams(col(textCol), n)).as("gram"))
      .select(bucketOf(col("gram"), nBuckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Both corpora's bucket counts over the FULL [0, nBuckets) support plus
    * their smoothed totals: (bucket, tcnt, rcnt, ttot, rtot) where
    * `ttot = target_total + nBuckets` (and rtot likewise) — the shared
    * sufficient statistic of both weight forms. The totals ride in as 1-row
    * aggregates (broadcast NL join), not driver collects — restatable as
    * scalar subqueries. */
  private def jointCounts(target: DataFrame, raw: DataFrame, textCol: String,
                          nBuckets: Int, n: Int): DataFrame = {
    val spark = target.sparkSession
    val support = spark.range(nBuckets).select(col("id").as("bucket"))
    val tc = bucketCounts(target, textCol, nBuckets, n)
      .withColumnRenamed("cnt", "tcnt")
    val rc = bucketCounts(raw, textCol, nBuckets, n)
      .withColumnRenamed("cnt", "rcnt")
    val ttot = tc.agg((coalesce(sum(col("tcnt")), lit(0L)) +
      lit(nBuckets.toLong)).as("ttot"))
    val rtot = rc.agg((coalesce(sum(col("rcnt")), lit(0L)) +
      lit(nBuckets.toLong)).as("rtot"))
    support.join(tc, Seq("bucket"), "left").join(rc, Seq("bucket"), "left")
      .crossJoin(broadcast(ttot)).crossJoin(broadcast(rtot))
      .select(col("bucket"),
        coalesce(col("tcnt"), lit(0L)).as("tcnt"),
        coalesce(col("rcnt"), lit(0L)).as("rcnt"),
        col("ttot"), col("rtot"))
  }

  /** The importance-weight table: for every bucket in [0, nBuckets),
    * fixed-point scaled frequencies under the TARGET (`pf`) and RAW (`qf`)
    * corpora and the difference weight `w = pf − qf`:
    *
    * {{{
    *   pf_b = (target_cnt_b · scale) div (target_total + nBuckets)
    *   qf_b = (raw_cnt_b    · scale) div (raw_total    + nBuckets)
    * }}}
    *
    * Smoothing is CENTERED — the `+nBuckets` lives in the denominator only,
    * so a bucket unseen in both corpora weighs exactly 0. The textbook
    * Laplace `+1` numerator would hand every bucket a floor probability
    * whose difference `scale·(1/T − 1/R)` is a per-GRAM constant whenever
    * the corpora differ in size (they always do: the target is small by
    * design), silently biasing the ranking toward longer documents. The
    * denominator smoothing alone keeps the division total-order-safe and
    * the frequencies comparable across corpora.
    *
    * Output is `nBuckets` rows — broadcast-small by construction;
    * [[scoreDocuments]] broadcasts it into the scoring join. */
  def importanceWeightsFixed(target: DataFrame, raw: DataFrame,
                             textCol: String, nBuckets: Int, n: Int = 2,
                             scale: Long = 1L << 20): DataFrame = {
    require(scale > 0, s"scale must be positive: $scale")
    jointCounts(target, raw, textCol, nBuckets, n)
      .select(col("bucket"),
        (col("tcnt") * lit(scale)).divLong(col("ttot")).as("pf"),
        (col("rcnt") * lit(scale)).divLong(col("rtot")).as("qf"))
      .select(col("bucket"), col("pf"), col("qf"),
        (col("pf") - col("qf")).as("w"))
  }

  /** True log-likelihood-ratio weights (DSIR's own scoring), DOUBLE-valued:
    * `w = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))` — here the Laplace `+1`
    * IS needed (ln 0 diverges), and the per-gram floor shift it introduces
    * is the paper's own behavior. Spark-side twin of
    * [[importanceWeightsFixed]] for consumers that want the LLR's exact
    * trade-off between rare and common evidence; not oracle-hashed because
    * `ln` carries no cross-engine bit contract. */
  def importanceLogWeights(target: DataFrame, raw: DataFrame, textCol: String,
                           nBuckets: Int, n: Int = 2): DataFrame =
    jointCounts(target, raw, textCol, nBuckets, n)
      .select(col("bucket"),
        (log((col("tcnt") + lit(1L)).cast("double") / col("ttot").cast("double")) -
          log((col("rcnt") + lit(1L)).cast("double") / col("rtot").cast("double")))
          .as("w"))

  /** Per-document importance score against a weight table: explode grams,
    * bucket, BROADCAST-join the `nBuckets`-row weight table, sum per doc —
    * `score_fixed = Σ_occurrences w_bucket(gram)`, `n_grams` the occurrence
    * count. Documents with no grams (empty/short text) surface with score 0
    * rather than vanishing: a selection operator that silently drops the
    * degenerate rows would bias every downstream fraction. The corpus
    * crosses one exchange (the doc-keyed sum). Requires `idCol` unique. */
  def scoreDocuments(df: DataFrame, idCol: String, textCol: String,
                     weights: DataFrame, nBuckets: Int,
                     n: Int = 2): DataFrame = {
    val occ = df.select(col(idCol), explode(ngrams(col(textCol), n)).as("gram"))
      .select(col(idCol), bucketOf(col("gram"), nBuckets).as("bucket"))
    val scored = occ.join(broadcast(weights.select(col("bucket"), col("w"))),
        "bucket")
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score_fixed"), count(lit(1)).as("n_grams"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("score_fixed"), lit(0L)).as("score_fixed"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"))
  }

  /** End-to-end selection: weight against `target`, score `df`, keep the
    * exact top `frac` of documents by (score desc, id asc) — the
    * deterministic stand-in for DSIR's Gumbel resampling draw (same
    * selection pressure, reproducible row set; [[Sampling.unitHash]] salt
    * tricks can jitter it when diversity across draws matters).
    *
    * The global ranking is the [[etl.Fact.withFactIdsScalable]] shape: a
    * range-partitioned sort (no single-partition window) + `zipWithIndex`
    * per-partition offsets — exact global ranks with one lightweight count
    * job and no bottleneck. Returns the selected rows of `df` unchanged. */
  def resampleTopFraction(df: DataFrame, idCol: String, textCol: String,
                          target: DataFrame, frac: Double,
                          nBuckets: Int = 1 << 16, n: Int = 2,
                          scale: Long = 1L << 20,
                          scope: CacheScope = null): DataFrame = {
    require(frac > 0 && frac <= 1, s"fraction out of range: $frac")
    val weights = importanceWeightsFixed(target, df, textCol, nBuckets, n, scale)
    val scores = scoreDocuments(df, idCol, textCol, weights, nBuckets, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = scores.count()
    val keep = math.ceil(frac * total).toLong
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = scores.orderBy(col("score_fixed").desc, col(idCol).asc)
    val schema = StructType(Seq(StructField("_rk", LongType, nullable = false),
      sorted.schema(idCol)))
    val ranked = df.sparkSession.createDataFrame(
      sorted.select(col(idCol)).rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(Seq(i + 1L, r.get(0)))
      }, schema)
    val kept = ranked.where(col("_rk") <= keep).select(col(idCol))
    CacheScope.handOver(scope, df.join(kept, Seq(idCol), "left_semi"), scores)
  }
}
