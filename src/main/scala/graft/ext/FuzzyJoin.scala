package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-table approximate-text equi-join (record linkage / entity
  * matching): join `left` to `right` on *approximately equal* text — the
  * supplier-name-matching / catalog-reconciliation shape that exact joins
  * cannot express and a naive `crossJoin` + similarity filter cannot
  * survive at scale.
  *
  * Spark-first plan, reusing [[Dedup]]'s portable MinHash law end to end:
  * each side is shingled once ([[Dedup.wordShingles]], persisted — the
  * frame feeds both the signature projection and the verify join), banded
  * MinHash signatures ([[Dedup.minhashSignature]], the md5-string family an
  * external engine can restate bit-for-bit) turn the similarity join into a
  * plain `(band, v)` equi-join between the two banded frames — candidates
  * are generated per shared bucket, NEVER all-pairs — and candidates are
  * verified by exact shingle-set Jaccard before anything is emitted. Every
  * stage is a key-partitioned join or aggregation: at 100 TB the only
  * quadratic risk is a degenerate bucket (e.g. a stop-word-only name
  * matching everything), which `maxBucketSize` drops with the same
  * documented recall trade as [[Dedup.nearDuplicatesFast]]'s cap.
  *
  * LSH recall: with `bandRows` = 1 a true pair at Jaccard j is a candidate
  * with probability 1-(1-j)^numHashes (0.996 at j = 0.5 with the default 8
  * seeds); the catalog oracle restates the banding itself, so the gate is
  * exact, not probabilistic. Use more seeds for a tighter tail at scale.
  *
  * Reference scope: the reference's pipelines join on exact keys only
  * (`populate_dimension_fact_tables.sql`); this is the training-data
  * extension for joining corpora that share no key — linking crawled
  * records to a reference catalog by name.
  */
object FuzzyJoin {

  /** Approximate-match pairs between two tables. Output: one row per
    * verified pair — `left_id`, `right_id`, `jaccard` (exact shingle-set
    * Jaccard, >= `threshold`). Id columns keep their incoming types; both
    * frames may use any id/text column names (they are independent tables,
    * unlike [[Dedup.nearDuplicates]]' single corpus).
    *
    * `maxBucketSize` caps the size of one `(band, v)` bucket counted ACROSS
    * both sides; a bucket above the cap is dropped entirely (a degenerate
    * value that collides everything would otherwise make one reducer
    * quadratic). Default keeps every bucket — the oracle-checked setting.
    */
  def linkage(left: DataFrame, leftId: String, leftText: String,
              right: DataFrame, rightId: String, rightText: String,
              shingleLen: Int = 1, numHashes: Int = 8,
              threshold: Double = 0.5,
              maxBucketSize: Int = Int.MaxValue,
              scope: CacheScope = null,
              tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    require(maxBucketSize > 0, s"maxBucketSize must be positive: $maxBucketSize")
    val shL = shingled(left, leftId, leftText, shingleLen, tok)
    val shR = shingled(right, rightId, rightText, shingleLen, tok)
    val bL = banded(shL, numHashes).withColumnRenamed("_fj_id", "_fj_l")
    val bR = banded(shR, numHashes).withColumnRenamed("_fj_id", "_fj_r")
    // One bucket = one (band, v); candidates are generated ONLY inside a
    // bucket ([[cappedCandidates]]), so the join is a plain equi-join on
    // the band key — the similarity join never degenerates to all-pairs.
    val cand = cappedCandidates(bL, bR, maxBucketSize)
    CacheScope.handOver(scope, verifyPairs(cand, shL, shR, threshold), shL, shR)
  }

  /** Incremental linkage at the continuous-ingest design point: the
    * reference catalog is SERVED STATE — a capped banded signature store
    * written once ([[Dedup.minhashStoreBandedWrite]] over the catalog's
    * (id, text), geometry pinned in the `_graft_store_meta.json` sidecar)
    * — and each incoming batch links against it per batch: the batch's
    * bands broadcast against the streamed store (no store shuffle, no
    * store-wide window — [[Dedup.nearDupAgainstBandedStore]]'s exchange
    * shape), candidate pairs are then EXACT-verified by token-set Jaccard
    * against the catalog table itself. The verify shingles BOTH sides
    * with the geometry read from the sidecar, so probe-time drift from
    * the stored contract is impossible by construction.
    *
    * `candidateThreshold` gates the store probe on signature agreement
    * (fraction of agreeing seeds) BEFORE the exact verify — 0.0 admits
    * every shared-band pair (the exact verify is the filter); raise it to
    * cut verify traffic when the batch is dirty. Store-side recall is the
    * served-store trade: a catalog row evicted from every shared bucket by
    * the store's `cap` is unreachable (size the cap so each entity's
    * distinctive-token buckets stay under it — then every entity remains
    * reachable through them). Output: (left_id, right_id, jaccard), the
    * [[linkage]] contract with batch ids on the left. */
  def linkageAgainstStore(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String,
                          catalog: DataFrame, catalogId: String,
                          catalogText: String,
                          batch: DataFrame, batchId: String,
                          batchText: String,
                          threshold: Double = 0.5,
                          candidateThreshold: Double = 0.0,
                          broadcastBatch: Boolean = true,
                          scope: CacheScope = null): DataFrame = {
    val g = StoreMeta.open(spark, storeDir, StoreMeta.Banded)
    // no second distinct: the probe's output is already one row per
    // (batch_id, store_id) — n_agree/est_jaccard are functions of the
    // pair's two signatures, so the probe's own 4-column dedup leaves the
    // 2-column projection unique, and re-deduping it would re-exchange the
    // whole candidate set for nothing
    val cand = Dedup.bandedProbe(spark, storeDir, g, batch, batchId,
        batchText, candidateThreshold, broadcastBatch)
      .select(col("batch_id").as("_fj_l"), col("store_id").as("_fj_r"))
    val shL = shingled(batch, batchId, batchText, g.shingleLen, g.tokenizer)
    val shR = shingled(catalog, catalogId, catalogText, g.shingleLen,
      g.tokenizer)
    CacheScope.handOver(scope, verifyPairs(cand, shL, shR, threshold), shL, shR)
  }

  /** Top-1 linkage against a SERVED catalog store: each batch record's
    * best catalog match ([[bestMatch]]'s contract — highest Jaccard, ties
    * to the smallest right id, with the contested-win count) over
    * [[linkageAgainstStore]]'s probe chain — the production
    * reconciliation loop's per-drop form, no pair plumbing by hand. */
  def bestMatchAgainstStore(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String,
                            catalog: DataFrame, catalogId: String,
                            catalogText: String,
                            batch: DataFrame, batchId: String,
                            batchText: String,
                            threshold: Double = 0.5,
                            candidateThreshold: Double = 0.0,
                            broadcastBatch: Boolean = true,
                            scope: CacheScope = null): DataFrame =
    bestOf(linkageAgainstStore(spark, storeDir, catalog, catalogId,
      catalogText, batch, batchId, batchText, threshold, candidateThreshold,
      broadcastBatch, scope))

  /** Linkage funnel census against a SERVED catalog store: every batch
    * record classified matched / ambiguous / unmatched ([[linkageCensus]]'s
    * contract) over [[linkageAgainstStore]]'s probe chain — the per-drop
    * operational summary. */
  def censusAgainstStore(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String,
                         catalog: DataFrame, catalogId: String,
                         catalogText: String,
                         batch: DataFrame, batchId: String,
                         batchText: String,
                         threshold: Double = 0.5,
                         candidateThreshold: Double = 0.0,
                         broadcastBatch: Boolean = true,
                         scope: CacheScope = null): DataFrame =
    censusOf(batch.select(col(batchId).as("left_id")),
      linkageAgainstStore(spark, storeDir, catalog, catalogId, catalogText,
        batch, batchId, batchText, threshold, candidateThreshold,
        broadcastBatch, scope))

  /** Frequency-weighted linkage: [[linkage]]'s candidate machinery with
    * the verify scored by WEIGHTED Jaccard, w(t) = 1/df(t) — the standard
    * record-linkage refinement for corpora whose entities are built from a
    * small shared vocabulary plus a few distinctive tokens. Two entities
    * sharing only stop-grade tokens ("Brand#2 ECONOMY") score near zero
    * even though their unweighted Jaccard clears a naive threshold, while
    * a pair sharing one rare token scores near one; df is the document
    * frequency of the token across BOTH tables (computed in one aggregate
    * over the persisted token sets — no extra scan of the inputs).
    *
    * Candidate recall has TWO channels. Banded minhash gives the standard
    * unweighted-Jaccard curve (1-(1-j)^numHashes at bandRows = 1) — but
    * the pairs this weighting PROMOTES (few shared rare tokens among many
    * common ones) are exactly the pairs whose raw Jaccard, and hence band
    * collision probability, is LOW: one shared token of 13 misses banding
    * ~1/4 of the time at 16 seeds. `rareDf` closes that hole
    * deterministically: every pair sharing at least one token with
    * df <= rareDf is ALWAYS a candidate, via a plain token equi-join
    * filtered to rare tokens — bounded by construction (a rare token
    * contributes at most df_left × df_right <= rareDf² pairs, and the df
    * cap means no hot keys exist in this join BY DEFINITION). A shared
    * token with w(t) = 1/df(t) large enough to clear a threshold on its
    * own is a rare token, so the regime the weighting exists for is
    * exact-gated, not probabilistic; pairs whose weighted evidence is
    * spread across common tokens still ride the banded channel (their raw
    * Jaccard is high, where banding recall is near 1). rareDf = 0 (the
    * default) keeps the pure-banded behavior. `weightedCandidates` = K
    * upgrades the banded channel itself to a WEIGHTED sampler (integer-
    * replication minhash: collision probability = the K-quantized weighted
    * Jaccard — see the inline note), so the banding curve is governed by
    * the verify's own score for EVERY pair shape, at K× signature cost.
    *
    * Portability discipline: the per-pair score folds weights in
    * TOKEN-SORTED order with a strict left fold from 0.0, so an external
    * engine restates the exact double bit for bit. Output:
    * (left_id, right_id, wjaccard >= threshold). */
  def weightedLinkage(left: DataFrame, leftId: String, leftText: String,
                      right: DataFrame, rightId: String, rightText: String,
                      numHashes: Int = 16,
                      threshold: Double = 0.5,
                      maxBucketSize: Int = Int.MaxValue,
                      rareDf: Int = 0,
                      weightedCandidates: Int = 0,
                      scope: CacheScope = null,
                      tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    require(maxBucketSize > 0, s"maxBucketSize must be positive: $maxBucketSize")
    require(rareDf >= 0, s"rareDf must be >= 0 (0 disables): $rareDf")
    require(weightedCandidates >= 0,
      s"weightedCandidates must be >= 0 (0 disables): $weightedCandidates")
    // token-level (shingleLen = 1): df weights are per TOKEN — a weighted
    // Jaccard over n-gram shingles would need shingle-level df, which is
    // the same code with a different unit; the token unit is the linkage
    // standard (entity strings are short).
    val shL = shingled(left, leftId, leftText, 1, tok)
    val shR = shingled(right, rightId, rightText, 1, tok)
    // df over entity-token incidences (sets per entity, so df = #entities
    // containing t across both tables). PERSISTED: the frame feeds up to
    // three consumers (the rare-token filter, the verify's weight lookup,
    // and both sides' weighted-sampler expansions) — without the pin each
    // consumer re-explodes both shingle frames and re-pays the token
    // aggregation's exchange (the r18 plan carried 44 Exchanges for the
    // rare row largely from exactly this repetition).
    val vocab = shL.select(explode(col("sh")).as("_fj_t"))
      .unionByName(shR.select(explode(col("sh")).as("_fj_t")))
      .groupBy("_fj_t").agg(count(lit(1)).as("_fj_df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The banded channel samples UNWEIGHTED Jaccard unless
    // `weightedCandidates` = K > 0 switches it to a WEIGHTED sampler by
    // integer replication: token t expands into ceil(K/df(t)) virtual
    // tokens "t#1".."t#W" and the SAME portable md5 minhash law runs over
    // the expanded sets — unweighted Jaccard of the expansions IS the
    // K-quantized weighted Jaccard (Σ_∩ W / Σ_∪ W with W = ceil(K/df), the
    // classic exact-for-integer-weights reduction), so a band collides
    // with probability governed by (near) the score the verify thresholds
    // on, not the raw Jaccard the weighting exists to override. A rare
    // token (df = 1) carries K replicas, a stop token 1 — the promoted
    // regime (one shared rare token among many common ones) goes from
    // banding-probability ~Jaccard≈0.07 to ~J_w≈0.5 at the same seed
    // count. K bounds both the quantization error (weights resolve to
    // 1/K steps) and the expansion (≤ K virtual tokens per token);
    // 16-32 is plenty for 1/df weights. Everything stays engine-portable:
    // replica strings, md5 mins, banding, and the cap restate in SQL
    // verbatim. rareDf composes on top for a DETERMINISTIC floor.
    val (bL, bR) =
      if (weightedCandidates == 0)
        (banded(shL, numHashes).withColumnRenamed("_fj_id", "_fj_l"),
          banded(shR, numHashes).withColumnRenamed("_fj_id", "_fj_r"))
      else
        (weightedBandedRows(shL, vocab, weightedCandidates, numHashes,
          "_fj_l"),
          weightedBandedRows(shR, vocab, weightedCandidates, numHashes,
            "_fj_r"))
    val cand =
      if (rareDf == 0) cappedCandidates(bL, bR, maxBucketSize)
      else {
        // the rare-token channel: a token-keyed equi-join whose every
        // bucket is <= rareDf entities BY THE FILTER ITSELF — the one
        // candidate join in this family that cannot have a hot key. The
        // rare-token list is a filtered cut of the (persisted,
        // vocabulary-sized) df frame — BROADCAST it, same sizing argument
        // as the verify's weight lookup: a shuffled token join here would
        // exchange both exploded sides on the token.
        val rare = broadcast(
          vocab.where(col("_fj_df") <= rareDf).select(col("_fj_t")))
        val tl = shL.select(col("_fj_id").as("_fj_l"),
          explode(col("sh")).as("_fj_t")).join(rare, "_fj_t")
        val tr = shR.select(col("_fj_id").as("_fj_r"),
          explode(col("sh")).as("_fj_t")).join(rare, "_fj_t")
        // ONE distinct over the union — the banded channel's own dedup is
        // skipped (dedup = false) so its candidate stream is exchanged
        // once, not once per channel and again for the union
        cappedCandidates(bL, bR, maxBucketSize, dedup = false).unionByName(
          tl.join(tr, "_fj_t").select(col("_fj_l"), col("_fj_r"))).distinct()
      }
    val out = weightedVerify(cand, shL, shR,
      vocab.select(col("_fj_t"), (lit(1.0) / col("_fj_df")).as("_fj_w")),
      threshold)
    CacheScope.handOver(scope, out, shL, shR, vocab)
  }

  /** The weighted verify shared by [[weightedLinkage]] and
    * [[weightedLinkageAgainstStore]]: exact weighted Jaccard of each
    * candidate pair's token sets under the supplied weight frame
    * (`_fj_t`, `_fj_w`; tokens absent from it weigh 1.0 — maximal rarity,
    * the frozen-vocabulary law for unseen probe tokens). The per-pair
    * score folds weights in TOKEN-SORTED order with a strict left fold
    * from 0.0, so an external engine restates the double bit for bit. */
  private def weightedVerify(cand: DataFrame, shL: DataFrame,
                             shR: DataFrame, weights: DataFrame,
                             threshold: Double): DataFrame = {
    // Attach weights ONCE PER ENTITY, not once per candidate-pair×token:
    // the former shape exploded every pair's union tokens, broadcast-joined
    // the weights, collect_list'ed them back per pair and fold-scored the
    // array — a pair×token row blowup plus an object hash-aggregate whose
    // per-row CPU dominated the verify stage while AQE, seeing only its
    // small shuffled BYTES, coalesced it to single-digit tasks. Here each
    // side's tokens join the (vocabulary-sized, broadcast — a shuffled
    // token join would hot-key on exactly the stop tokens the weighting
    // discounts) weight frame once, regroup to a SORTED (t, w) array per
    // entity, and each candidate pair is scored by ONE native sorted-merge
    // projection ([[graft.ext.expressions.WJaccardMergeExpr]]) — no
    // per-pair explode, no pair-level aggregation. Bit-identity with the
    // HOF fold law is pinned by NativeExprSpec and FuzzyJoinSpec.
    def preWeighted(sh: DataFrame, idOut: String, out: String): DataFrame =
      sh.select(col("_fj_id"), explode(col("sh")).as("_fj_t"))
        .join(broadcast(weights), Seq("_fj_t"), "left_outer")
        .select(col("_fj_id"), struct(col("_fj_t").as("t"),
          coalesce(col("_fj_w"), lit(1.0)).as("w")).as("_fj_e"))
        .groupBy("_fj_id")
        .agg(array_sort(collect_list(col("_fj_e"))).as(out))
        .withColumnRenamed("_fj_id", idOut)
    val wl = preWeighted(shL, "_fj_l", "_fj_wl")
    val wr = preWeighted(shR, "_fj_r", "_fj_wr")
    cand
      .join(wl, "_fj_l")
      .join(wr, "_fj_r")
      .select(col("_fj_l").as("left_id"), col("_fj_r").as("right_id"),
        wjaccardMerge(col("_fj_wl"), col("_fj_wr")).as("wjaccard"))
      .where(col("wjaccard") >= threshold)
  }

  /** The SPARSE-candidate form of the weighted verify — the served-store
    * probe regime, where candidates are few relative to the catalog: the
    * pair's union tokens explode (bounded by |cand| × tokens-per-entity,
    * small HERE by the regime's definition), look up their weight from the
    * broadcast frame, and fold per pair. [[weightedVerify]]'s pre-weighted
    * merge shape is the DENSE twin (batch linkage: most entities are
    * candidates) — there the per-entity regroup amortizes over many pairs;
    * here it would explode + sort + regroup catalog-sized frames to score
    * a handful of pairs. Both compute the identical token-sorted
    * strict-fold law (oracle-gated on every served row). */
  private def weightedVerifySparse(cand: DataFrame, shL: DataFrame,
                                   shR: DataFrame, weights: DataFrame,
                                   threshold: Double): DataFrame = {
    val pairTok = cand
      .join(shL.select(col("_fj_id").as("_fj_l"), col("sh").as("sh_l")),
        "_fj_l")
      .join(shR.select(col("_fj_id").as("_fj_r"), col("sh").as("sh_r")),
        "_fj_r")
      .select(col("_fj_l"), col("_fj_r"), col("sh_l"), col("sh_r"),
        explode(array_union(col("sh_l"), col("sh_r"))).as("_fj_t"))
      .select(col("_fj_l"), col("_fj_r"), col("_fj_t"),
        (array_contains(col("sh_l"), col("_fj_t")) &&
          array_contains(col("sh_r"), col("_fj_t"))).as("_fj_both"))
    val entries = pairTok
      .join(broadcast(weights), Seq("_fj_t"), "left_outer")
      .select(col("_fj_l"), col("_fj_r"),
        struct(col("_fj_t").as("t"),
          coalesce(col("_fj_w"), lit(1.0)).as("w"),
          col("_fj_both").as("b")).as("_fj_e"))
    val folded = entries.groupBy(col("_fj_l"), col("_fj_r"))
      .agg(array_sort(collect_list(col("_fj_e"))).as("_fj_es"))
    val sumW = (es: Column) => aggregate(es, lit(0.0),
      (acc, e) => acc + e.getField("w"))
    folded
      .select(col("_fj_l").as("left_id"), col("_fj_r").as("right_id"),
        (sumW(filter(col("_fj_es"), e => e.getField("b"))) /
          sumW(col("_fj_es"))).as("wjaccard"))
      .where(col("wjaccard") >= threshold)
  }

  private def wjaccardMerge(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.WJaccardMergeExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** `(band, v, <outCol>)` rows of the integer-replication WEIGHTED
    * sampler signature ([[weightedLinkage]]'s `weightedCandidates` law):
    * each token expands into ceil(quantK / df) virtual tokens "t#i" from
    * the supplied (`_fj_t`, `_fj_df`) frame — a token ABSENT from it takes
    * df = 1 (maximal rarity, quantK replicas: the frozen-vocabulary law
    * for unseen probe tokens) — and the portable md5 minhash law runs
    * over the expansion. The df frame is vocabulary-sized: it broadcasts. */
  private def weightedBandedRows(sh: DataFrame, dfFrame: DataFrame,
                                 quantK: Int, numHashes: Int,
                                 outCol: String): DataFrame = {
    val vocabW = dfFrame.select(col("_fj_t"),
      ceil(lit(quantK.toDouble) / col("_fj_df")).cast("int").as("_fj_wk"))
    // NOTE (r19, measured): a per-token reformulation — signature kernel
    // over each token's own replica array map-side, then a partial-
    // aggregating min keyed on (id, band) — was tried and REVERTED: min
    // over strings has no fixed-size aggregation buffer, so both the
    // partial and final aggregations fell out of hash aggregation and the
    // reshape measured ~15% slower on the cws row than this shape despite
    // moving the md5 work map-side. Kept as the collect_list form.
    sh.select(col("_fj_id"), explode(col("sh")).as("_fj_t"))
      .join(broadcast(vocabW), Seq("_fj_t"), "left_outer")
      .select(col("_fj_id"), col("_fj_t"),
        explode(sequence(lit(1),
          coalesce(col("_fj_wk"), lit(quantK)))).as("_fj_i"))
      .select(col("_fj_id"),
        concat(col("_fj_t"), lit("#"), col("_fj_i")).as("_fj_tr"))
      .groupBy("_fj_id").agg(collect_list(col("_fj_tr")).as("shx"))
      .select(col("_fj_id").as(outCol),
        posexplode(Dedup.minhashSignature(col("shx"), numHashes)))
      .select(col(outCol), col("pos").as("band"), col("col").as("v"))
      .where(col("v").isNotNull)
  }

  /** Vocabulary sidecar dir of a [[weightedStoreWrite]] store
    * (underscore-prefixed: invisible to the store's own parquet read). */
  val WeightedVocabDir = "_graft_vocab"

  /** SERVED STATE for weighted linkage: the catalog's weighted-sampler
    * banded signatures ([[weightedBandedRows]] under the catalog's OWN
    * token frequencies) plus the FROZEN vocabulary as a sidecar, geometry
    * pinned in the store meta. The frozen-df law is the deployment
    * contract: every probe scores with w(t) = 1/df_catalog(t) (unseen
    * probe tokens weigh 1.0 — maximal rarity), so per-drop scores are
    * COMPARABLE across drops and immune to batch composition — unlike
    * [[weightedLinkage]], whose df shifts with every batch (both laws are
    * legitimate; the frozen one is what a reconciliation loop can
    * threshold against stably). Catalog changes = rebuild (an append
    * would silently drift df for every existing signature — refusing that
    * trade is the point of freezing). `cap` is the store-side bucket
    * valve ([[Dedup.capBuckets]], the law [[Dedup.minhashStoreBanded]]
    * caps by). */
  def weightedStoreWrite(catalog: DataFrame, catalogId: String,
                         catalogText: String, dir: String,
                         numHashes: Int = 16, quantK: Int = 24,
                         cap: Int = Int.MaxValue,
                         tok: Tokenizer = Tokenizer.Whitespace): Unit = {
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    require(quantK >= 1, s"quantK must be >= 1: $quantK")
    require(cap > 0, s"cap must be positive: $cap")
    val spark = catalog.sparkSession
    val sh = shingled(catalog, catalogId, catalogText, 1, tok)
    val vocab = sh.select(explode(col("sh")).as("_fj_t"))
      .groupBy("_fj_t").agg(count(lit(1)).as("_fj_df"))
    // the signature frame FIRST (overwrite clears the dir), sidecars after
    Dedup.capBuckets(weightedBandedRows(sh, vocab, quantK, numHashes,
        "store_id"), cap)
      .write.mode("overwrite").parquet(dir)
    vocab.select(col("_fj_t").as("t"), col("_fj_df").as("df"))
      .write.mode("overwrite").parquet(s"$dir/$WeightedVocabDir")
    StoreMeta.Weighted.put(spark, dir,
      StoreMeta.Weighted(numHashes, quantK, cap, tok))
    sh.unpersist(): Unit
  }

  /** Weighted linkage of a batch against a [[weightedStoreWrite]] SERVED
    * catalog: geometry, quantization, tokenizer, and the frozen
    * vocabulary all come FROM the sidecars (drift impossible by
    * construction); the batch's weighted-sampler bands broadcast against
    * the streamed store (no store shuffle — [[Dedup
    * .nearDupAgainstBandedStore]]'s exchange shape), and candidates are
    * exact-verified by the FROZEN-weight Jaccard against the catalog
    * table. Output: (left_id, right_id, wjaccard >= threshold) with batch
    * ids on the left — [[weightedLinkage]]'s contract under the served
    * scoring law. */
  def weightedLinkageAgainstStore(spark: org.apache.spark.sql.SparkSession,
                                  storeDir: String,
                                  catalog: DataFrame, catalogId: String,
                                  catalogText: String,
                                  batch: DataFrame, batchId: String,
                                  batchText: String,
                                  threshold: Double = 0.5,
                                  broadcastBatch: Boolean = true,
                                  scope: CacheScope = null): DataFrame = {
    val g = StoreMeta.open(spark, storeDir, StoreMeta.Weighted)
    val vocab = spark.read.parquet(s"$storeDir/$WeightedVocabDir")
      .select(col("t").as("_fj_t"), col("df").as("_fj_df"))
    val shB = shingled(batch, batchId, batchText, 1, g.tokenizer)
    val bb = weightedBandedRows(shB, vocab, g.quantK, g.numHashes, "_fj_l")
    // read-side widening for small stores (see Dedup.ensureParallelism)
    val store = Dedup.ensureParallelism(spark.read.parquet(storeDir))
    val cand =
      (if (broadcastBatch) store.join(broadcast(bb), Seq("band", "v"))
       else store.join(bb, Seq("band", "v")))
        .select(col("_fj_l"), col("store_id").as("_fj_r")).distinct()
    val shC = shingled(catalog, catalogId, catalogText, 1, g.tokenizer)
    val out = weightedVerifySparse(cand, shB, shC,
      vocab.select(col("_fj_t"), (lit(1.0) / col("_fj_df")).as("_fj_w")),
      threshold)
    CacheScope.handOver(scope, out, shB, shC)
  }

  /** Candidate pairs from the banded frames under the joint bucket cap —
    * the shared middle of [[linkage]] and [[weightedLinkage]]. Capped
    * path: group each side's bucket membership ONCE (the two aggregates
    * leave both frames hash-partitioned on (band, v), so the bucket join
    * adds no exchange), drop buckets whose JOINT size exceeds the cap —
    * same recall trade, loudly documented, as the self-join cap in Dedup
    * — and emit the per-bucket cross product by a double explode, bounded
    * by cap² rows per bucket. One pass over each banded frame (the
    * portable md5 signature is computed exactly once per side), no
    * broadcast rounds, no census pass. */
  private def cappedCandidates(bL: DataFrame, bR: DataFrame,
                               maxBucketSize: Int,
                               dedup: Boolean = true): DataFrame = {
    // dedup = false lets a caller that unions this stream with another
    // channel dedupe ONCE at the union instead of paying a (l, r)
    // exchange here and again after the union — identical pair set
    val raw =
      if (maxBucketSize == Int.MaxValue)
        bL.join(bR, Seq("band", "v"))
          .select(col("_fj_l"), col("_fj_r"))
      else {
        val gL = bL.groupBy("band", "v")
          .agg(collect_list(col("_fj_l")).as("_fj_ls"))
        val gR = bR.groupBy("band", "v")
          .agg(collect_list(col("_fj_r")).as("_fj_rs"))
        gL.join(gR, Seq("band", "v"))
          .where(size(col("_fj_ls")) + size(col("_fj_rs")) <= maxBucketSize)
          .select(explode(col("_fj_ls")).as("_fj_l"), col("_fj_rs"))
          .select(col("_fj_l"), explode(col("_fj_rs")).as("_fj_r"))
      }
    if (dedup) raw.distinct() else raw
  }

  /** Exact shingle-set Jaccard verify ([[Dedup.overlapPairs]]). Output:
    * (left_id, right_id, jaccard). */
  private def verifyPairs(cand: DataFrame, shL: DataFrame, shR: DataFrame,
                          threshold: Double): DataFrame =
    Dedup.jaccardPairs(Dedup.overlapPairs(cand, "_fj_l", "_fj_r", shL, shR,
        "_fj_id"), "_fj_l", "_fj_r", threshold)
      .toDF("left_id", "right_id", "jaccard")

  /** Top-1 linkage: for every left row with at least one verified match,
    * its best right match (highest Jaccard; ties broken by smallest
    * `right_id`, so the result is deterministic). Output: `left_id`,
    * `right_id`, `jaccard`, `n_matches` (how contested the win was — a
    * downstream reviewer's ambiguity signal). One extra shuffle on
    * `left_id`; everything upstream is [[linkage]]. */
  def bestMatch(left: DataFrame, leftId: String, leftText: String,
                right: DataFrame, rightId: String, rightText: String,
                shingleLen: Int = 1, numHashes: Int = 8,
                threshold: Double = 0.5,
                maxBucketSize: Int = Int.MaxValue,
                scope: CacheScope = null,
                tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    bestOf(linkage(left, leftId, leftText, right, rightId, rightText,
      shingleLen, numHashes, threshold, maxBucketSize, scope, tok))
  }

  /** The top-1 cut over a verified pair frame — shared by [[bestMatch]],
    * [[bestMatchAgainstStore]], and the weighted served forms (`scoreCol`
    * names the score: `jaccard` or `wjaccard`). One shuffle on
    * `left_id`. */
  private def bestOf(pairs: DataFrame,
                     scoreCol: String = "jaccard"): DataFrame = {
    val w = Window.partitionBy("left_id")
      .orderBy(col(scoreCol).desc, col("right_id").asc)
    pairs
      .withColumn("_fj_rn", row_number().over(w))
      .withColumn("n_matches", count(lit(1)).over(
        Window.partitionBy("left_id")))
      .where(col("_fj_rn") === 1)
      .select(col("left_id"), col("right_id"), col(scoreCol),
        col("n_matches"))
  }

  /** Top-1 weighted linkage against the FROZEN-vocabulary served store
    * ([[weightedLinkageAgainstStore]]'s contract + [[bestMatch]]'s cut):
    * each batch record's best catalog match by the frozen weighted score,
    * ties to the smallest right id, with the contested-win count. Because
    * the frozen law is batch-composition invariant, a record's best match
    * and score are THE SAME whatever else rode its drop — the property a
    * reconciliation loop thresholds against. */
  def weightedBestMatchAgainstStore(spark: org.apache.spark.sql.SparkSession,
                                    storeDir: String,
                                    catalog: DataFrame, catalogId: String,
                                    catalogText: String,
                                    batch: DataFrame, batchId: String,
                                    batchText: String,
                                    threshold: Double = 0.5,
                                    broadcastBatch: Boolean = true,
                                    scope: CacheScope = null): DataFrame =
    bestOf(weightedLinkageAgainstStore(spark, storeDir, catalog, catalogId,
      catalogText, batch, batchId, batchText, threshold, broadcastBatch,
      scope), "wjaccard")

  /** Per-drop funnel census under the frozen weighted law
    * ([[linkageCensus]]'s matched / ambiguous / unmatched contract over
    * [[weightedLinkageAgainstStore]]'s pairs). */
  def weightedCensusAgainstStore(spark: org.apache.spark.sql.SparkSession,
                                 storeDir: String,
                                 catalog: DataFrame, catalogId: String,
                                 catalogText: String,
                                 batch: DataFrame, batchId: String,
                                 batchText: String,
                                 threshold: Double = 0.5,
                                 broadcastBatch: Boolean = true,
                                 scope: CacheScope = null): DataFrame =
    censusOf(batch.select(col(batchId).as("left_id")),
      weightedLinkageAgainstStore(spark, storeDir, catalog, catalogId,
        catalogText, batch, batchId, batchText, threshold, broadcastBatch,
        scope))

  /** Linkage funnel census: every left row classified as `matched` (exactly
    * one verified match), `ambiguous` (more than one — a human-review
    * queue, not an auto-merge), or `unmatched` (none). Output: `status`,
    * `n` — the three-row operational summary a linkage run is judged by.
    * The unmatched count comes from an aggregate over the LEFT side (one
    * pass), not an anti-join per status. */
  def linkageCensus(left: DataFrame, leftId: String, leftText: String,
                    right: DataFrame, rightId: String, rightText: String,
                    shingleLen: Int = 1, numHashes: Int = 8,
                    threshold: Double = 0.5,
                    maxBucketSize: Int = Int.MaxValue,
                    scope: CacheScope = null,
                    tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    censusOf(left.select(col(leftId).as("left_id")),
      linkage(left, leftId, leftText, right, rightId, rightText,
        shingleLen, numHashes, threshold, maxBucketSize, scope, tok))
  }

  /** The funnel census over a verified pair frame — shared by
    * [[linkageCensus]] and [[censusAgainstStore]]. `leftIds` is the full
    * left side as a `left_id` column (unmatched comes from one aggregate
    * over it, not an anti-join per status). */
  private def censusOf(leftIds: DataFrame, pairs: DataFrame): DataFrame = {
    val perLeft = pairs.groupBy(col("left_id")).agg(count(lit(1)).as("nm"))
    val statused = leftIds
      .join(perLeft, Seq("left_id"), "left_outer")
      .select(when(col("nm").isNull, lit("unmatched"))
        .when(col("nm") === 1, lit("matched"))
        .otherwise(lit("ambiguous")).as("status"))
    statused.groupBy("status").agg(count(lit(1)).as("n"))
  }

  /** Shared per-side prep: (`_fj_id`, distinct shingle set) via
    * [[Dedup.shingleSets]], persisted because the frame feeds both the
    * signature projection and the exact-verify join. The entry point hands
    * the cache over against the frame it returns. */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int, tok: Tokenizer): DataFrame =
    Dedup.shingleSets(df, idCol, textCol, shingleLen, tok,
      col(idCol).as("_fj_id"), Dedup.wordShingles(_, _, tok))

  /** (band, v, id) rows: band b carries the b-th md5-min signature value.
    * bandRows is fixed at 1 — with the portable md5-string family each
    * signature position is already a 128-bit value, so single-row bands
    * give the standard recall curve with the simplest restatable law. */
  private def banded(sh: DataFrame, numHashes: Int): DataFrame =
    sh.select(col("_fj_id"),
        posexplode(Dedup.minhashSignature(col("sh"), numHashes)))
      .select(col("_fj_id"), col("pos").as("band"), col("col").as("v"))
      .where(col("v").isNotNull)

}
