package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composition a user actually runs —
  * exact dedup → near-dup cluster dedup → quality gate, plus optional
  * benchmark decontamination and PII scrubbing — over a documents table.
  * Each stage is one of the §2.8 operators; this wires them with the
  * survivor policy made explicit: min-id everywhere by default (so the
  * pipeline is deterministic and re-runs are idempotent), or
  * quality-priority near-dup survivors via `Config.survivorQuality`
  * (still deterministic — quality DESC, id ASC).
  *
  * Scale shape: stages communicate by doc_id (semi/anti joins on the id,
  * never by re-shipping text); the only heavyweight stages are the two dedup
  * shuffles, both keyed on hash/bucket values. Decontamination runs AFTER
  * the dedup/quality stages (fewest docs probe the n-gram join) and PII
  * scrubbing last (a pure projection — masking earlier would perturb the
  * dedup fingerprints). */
object Curation {

  final case class Config(
      /** Main-content extraction BEFORE every dedup stage (None = off):
        * Some(minWords) replaces the text column with
        * [[Extract.mainTextOf]]'s per-page extraction (blocks under
        * minWords visible words or over 1/3 link density are chrome) and
        * DROPS pages with zero surviving blocks. A crawl recipe must
        * extract before dedup: shared site chrome otherwise welds every
        * page of a host into one near-dup cluster, and the min-id survivor
        * policy then throws away the host's whole corpus but one page. */
      extractMinWords: Option[Int] = None,
      shingleLen: Int = 3,
      numHashes: Int = 8,
      jaccardThreshold: Double = 0.5,
      /** Hot-bucket valve for the near-dup LSH stage
        * ([[Dedup.nearDuplicates]]' maxBucketSize;
        * [[Dedup.AdaptiveBucket]] derives c·√N): a 100 TB crawl WILL
        * carry a boilerplate shingle welding a corpus fraction into one
        * band bucket, and per-bucket pair work is quadratic. Default
        * uncapped — byte-identical to the oracle-exact pair set. */
      nearDupMaxBucket: Int = Int.MaxValue,
      minTokens: Int = 30,
      maxStopwordRatio: Double = 0.25,
      stopwords: Seq[String] = Seq("data", "table", "row", "value"),
      /** Probe set for benchmark decontamination (None = stage off). */
      probes: Option[DataFrame] = None,
      probeTextCol: String = "text",
      decontamNgram: Int = 8,
      /** Mask emails / long digit runs in the survivors' text. */
      scrubPii: Boolean = false,
      /** Per-document quality expression (evaluated over the input columns)
        * for near-dup survivor choice: each cluster keeps its max-quality
        * member, ties to min id ([[Dedup.qualitySurvivors]]). None = the
        * min-id (cluster representative) default. */
      survivorQuality: Option[Column] = None,
      /** Fingerprint store of previously-KEPT documents for incremental
        * (continuous-ingest) runs: a frame with a `fingerprint` column
        * holding `md5(lower(text))` values ([[Dedup.exactGroups]]' key).
        * Batch documents whose fingerprint is already in the store are
        * dropped BEFORE every other stage via
        * [[Dedup.newAgainstHistory]] — exact result, zero shuffle of the
        * store. None = full (from-scratch) run. */
      history: Option[DataFrame] = None,
      /** Bloom sizing for the history probe (items in the store). */
      historyExpectedItems: Long = 1L << 22,
      /** Token law for the near-dup shingles AND the quality gate
        * ([[Tokenizer.ScriptAware]] for CJK/Thai corpora — whitespace
        * tokenization makes such a document ONE token, so the near-dup
        * stage goes blind and the count gate rejects everything). The
        * exact-dedup fingerprint is tokenizer-independent (md5 of the
        * normalized text), so history stores work across tokenizers. */
      tokenizer: Tokenizer = Tokenizer.Whitespace)

  /** The quality-gate predicate (enough tokens, bounded stopword share).
    * The Whitespace arm keeps the historical expressions verbatim (plans
    * — and therefore gated hashes — stay byte-identical); other
    * tokenizers run the seam forms. */
  private def qualityPred(textCol: String, cfg: Config): Column =
    cfg.tokenizer match {
      case Tokenizer.Whitespace =>
        TextStats.nTokens(col(textCol)) >= cfg.minTokens &&
          TextStats.stopwordRatio(col(textCol), cfg.stopwords) <= cfg.maxStopwordRatio
      case tok =>
        TextStats.nTokens(col(textCol), tok) >= cfg.minTokens &&
          TextStats.stopwordRatio(col(textCol), cfg.stopwords, tok) <= cfg.maxStopwordRatio
    }

  /** The pipeline stages as frames — (afterExact, losers, afterNear,
    * afterQuality) — shared by [[curate]] and [[funnel]] so the heavyweight
    * dedup stages are planned once.
    *
    * Cache discipline: the shingle/band frames persisted inside
    * [[Dedup.nearDuplicates]] are fully consumed once
    * [[Dedup.duplicateClusters]] returns (it is eager — the cluster labels
    * come back as a local relation, or checkpointed past its driver budget),
    * so they are released HERE, before returning. A star-rounds label
    * checkpoint is still read lazily by the returned frames, so it goes to
    * the caller's `scope` (the exception documented on [[CacheScope]]); the
    * persisted `incoming` frame is handed over by [[curate]] and [[funnel]]
    * against the frame each returns. */
  private def stages(docs: DataFrame, idCol: String, textCol: String,
                     cfg: Config, scope: CacheScope)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    // 0a. main-content extraction (crawl recipes): replace the text column
    //     with the extracted main text BEFORE any dedup fingerprinting —
    //     a zero-shuffle projection, so downstream re-executions just
    //     re-run it at scan level. All-chrome pages (zero kept blocks)
    //     drop here; the history fingerprints of an extracting recipe are
    //     therefore fingerprints of EXTRACTED text, consistent across runs.
    //     The kept-blocks array (regex-heavy: block split + keep rule per
    //     block) is projected ONCE behind a Generate barrier — explode of a
    //     one-element array — because neither predicate pushdown nor
    //     CollapseProject crosses a Generate: a plain filter-then-project
    //     would clone the whole kernel into the filter and evaluate it
    //     twice per page (codegen CSE stops at the operator boundary).
    val extracted = cfg.extractMinWords.fold(docs) { mw =>
      docs.select(col("*"),
          explode(array(Extract.keptBlocksOf(col(textCol), mw)))
            .as("__graft_kept_blocks"))
        .where(size(col("__graft_kept_blocks")) >= 1)
        .withColumn(textCol, Extract.textOfKeptBlocks(col("__graft_kept_blocks")))
        .drop("__graft_kept_blocks")
    }

    // 0. incremental runs: drop documents already kept by a previous run
    //    (bloom probe + exact confirm — the store is never shuffled).
    //    PERSISTED: every downstream stage consumes this frame repeatedly
    //    (shingles, bands, cluster iterations, anti-joins) and each
    //    re-execution would otherwise re-probe the bloom AND re-scan the
    //    store for the confirm join — measured 7× the whole pipeline's
    //    cost at sf0.1 before this cache.
    val incoming = {
      val inc = incomingStage(extracted, textCol, cfg, scope)
      if (inc eq extracted) extracted
      else inc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    // 1. exact dedup: keep the min-id copy of each normalized text
    val afterExact = Dedup.exactDedup(incoming, idCol, textCol)

    // 2. near-dup cluster dedup: MinHash pairs → components → keep each
    //    component's min id (non-members pass through untouched)
    val inner = new CacheScope
    val losers =
      try {
        val pairs = Dedup.nearDuplicates(afterExact, idCol, textCol,
          cfg.shingleLen, cfg.numHashes, cfg.jaccardThreshold,
          maxBucketSize = cfg.nearDupMaxBucket, scope = inner,
          tok = cfg.tokenizer)
        val clusters = Dedup.duplicateClusters(pairs, scope = scope)
        cfg.survivorQuality match {
          case None => clusters
            .where(col("id") =!= col("rep"))
            .select(col("id").as(idCol))
          case Some(q) =>
            // quality-priority survivors: losers = cluster members minus
            // each cluster's best member (anti join keyed on the id)
            val survivors = Dedup.qualitySurvivors(clusters,
                afterExact.select(col(idCol), q.as("_q")), idCol, "_q")
              .select(col("survivor_id").as("id"))
            clusters.join(survivors, Seq("id"), "left_anti")
              .select(col("id").as(idCol))
        }
      } finally inner.close() // converged OR thrown ⇒ shingles/bands released
    val afterNear = afterExact.join(losers, Seq(idCol), "left_anti")

    // 3. quality gate: enough tokens, bounded stopword share
    val afterQuality = afterNear.where(qualityPred(textCol, cfg))
    (extracted, incoming, afterExact, losers, afterNear, afterQuality)
  }

  /** History pre-filter (no-op without `cfg.history`). The bloom blob's
    * broadcast follows the caller's scope (destroyed at `scope.close()`);
    * scope-less it self-destroys after the first action — safe here because
    * [[stages]] persists the incoming frame, so the probe executes once. */
  private def incomingStage(docs: DataFrame, textCol: String,
                            cfg: Config, scope: CacheScope): DataFrame =
    cfg.history.fold(docs) { h =>
      require(h.columns.contains("fingerprint"),
        "Config.history must carry a 'fingerprint' column (md5 of normalized text)")
      require(!docs.columns.contains("_fp"),
        "curate: input already has a '_fp' column — it would collide with the history probe")
      Dedup.newAgainstHistory(
          docs.withColumn("_fp", md5(lower(col(textCol)))),
          h.select(col("fingerprint").as("_fp")), "_fp",
          cfg.historyExpectedItems, scope = scope)
        .drop("_fp")
    }

  /** Decontamination stage over a survivors frame (no-op without probes). */
  private def decontamStage(survivors: DataFrame, idCol: String,
                            textCol: String, cfg: Config): DataFrame =
    cfg.probes.fold(survivors)(p => Decontaminate.decontaminate(
      survivors, idCol, textCol, p, cfg.probeTextCol, cfg.decontamNgram))

  /** Surviving documents after the full pipeline. Output = input rows of the
    * survivors (all columns pass through; with `cfg.scrubPii` the text
    * column carries the masked form). Pass a [[CacheScope]] and close it
    * after the consuming actions to release every cached intermediate.
    * Without one they are released after the first action, and with
    * `cfg.history` the result is then single-consumption: the history
    * bloom broadcast is destroyed with them (see [[Dedup.newAgainstHistory]]). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config(), scope: CacheScope = null): DataFrame = {
    val (extracted, incoming, _, _, _, afterQuality) =
      stages(docs, idCol, textCol, cfg, scope)
    val decon = decontamStage(afterQuality, idCol, textCol, cfg)
    CacheScope.handOver(scope,
      if (cfg.scrubPii) decon.withColumn(textCol, TextStats.scrubPii(col(textCol)))
      else decon,
      if (incoming eq extracted) null else incoming)
  }

  /** Per-stage funnel counts — the audit a curation run reports. The three
    * post-input counts come from ONE aggregation job over the exact-dedup
    * survivors (loser flag via left join + conditional sums), not three
    * separate actions each re-running the dedup lineage. */
  def funnel(docs: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config(), scope: CacheScope = null): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(!docs.columns.contains("_loser"),
      "funnel: input already has a '_loser' column — it would collide with the stage flag")
    val (extracted, incoming, afterExact, losers, _, afterQuality) =
      stages(docs, idCol, textCol, cfg, scope)
    val surviving = col("_loser").isNull
    val counts = afterExact
      .join(losers.select(col(idCol), lit(true).as("_loser")), Seq(idCol), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(when(surviving, 1L).otherwise(0L)), lit(0L)).as("n_near"),
        coalesce(sum(when(surviving && qualityPred(textCol, cfg), 1L)
          .otherwise(0L)), lit(0L)).as("n_quality"))
      .head()
    // the optional extraction / vs-history rows each cost one extra
    // action, only when their stage is on; "0a"/"0b" keep the stable-label
    // ordering (extraction runs before the history probe)
    val base = Seq(("0_input", docs.count())) ++
      (if (cfg.extractMinWords.isEmpty) Nil
       else Seq(("0a_extracted", extracted.count()))) ++
      (if (cfg.history.isEmpty) Nil
       else Seq(("0b_vs_history", incoming.count()))) ++
      Seq(("1_exact_dedup", counts.getLong(0)),
      ("2_neardup_dedup", counts.getLong(1)),
      ("3_quality_gate", counts.getLong(2)))
    // the optional decontamination row costs one extra action (the probe
    // join over the quality survivors) — only when the stage is on
    val withDecon = if (cfg.probes.isEmpty) base
      else base :+ ("4_decontaminated",
        decontamStage(afterQuality, idCol, textCol, cfg).count())
    // the optional PII-scrub row pins stage ORDER (scrub runs last, after
    // decontamination); scrubbing is a pure projection that drops no rows,
    // so the count is the previous stage's — zero extra jobs. Stage labels
    // stay fixed ("5_scrubbed" even when decontamination is off) so a
    // funnel reader keys on stable names.
    val rows = if (!cfg.scrubPii) withDecon
      else withDecon :+ ("5_scrubbed", withDecon.last._2)
    CacheScope.handOver(scope, rows.toDF("stage", "n_docs"),
      if (incoming eq extracted) null else incoming)
  }

  /** Pairwise source-overlap matrix: for every pair of sources, how many
    * distinct canonical fingerprints ([[TextStats.canonicalFingerprint]] —
    * order/duplication-insensitive bag-of-words identity) appear in BOTH —
    * the cross-source contamination audit run before mixing corpora (a
    * crawl snapshot re-sold under two vendors, a benchmark laundered into a
    * "new" source, boilerplate shared between mirrors all surface here).
    *
    * Scale shape: each side collapses to DISTINCT (source, fingerprint)
    * rows first (fingerprint-keyed aggregation with map-side partials —
    * corpus text never crosses an exchange, only 32-char digests), the
    * self-join is keyed on the fingerprint (never a product), and the
    * output is at most |sources|² rows. A fingerprint shared by k sources
    * contributes k·(k−1)/2 pairs — bounded by the source count, not the
    * corpus. */
  def sourceOverlap(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    val fp = docs.select(col(groupCol).as("src"),
        TextStats.canonicalFingerprint(col(textCol)).as("fp"))
      .distinct()
    fp.select(col("src").as("src_a"), col("fp"))
      .join(fp.select(col("src").as("src_b"), col("fp")), Seq("fp"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
  }
}
