package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, BloomJoin, Curation, Decontaminate, Dedup, Dsir, Funnel, FuzzyJoin, Graph, Layout, Multimodal, RangeJoin, Resample, Sampling, Similarity, SkewJoin, Sketches, TextStats, Tokenizer, Urls}
import graft.streaming.EventTimeOps

/** Deduplication family (SURVEY §2.8 E1): exact/span/anchored/substring, MinHash/SimHash/edit-distance/semantic LSH, cluster closure, survivors, incremental.
  *
  * One catalog family of [[ExtQueries]] (split from the former monolith,
  * zero behavior change): `queries` are the Spark definitions, `oracle`
  * the DuckDB restatements the driver gates them against. Portability
  * rules are documented on [[ExtQueries]]; shared fixtures/helpers live
  * in [[CatalogShared]]. */
object DedupCatalog {
  import CatalogShared._

  /** Fixture for the gated xxhash64 anchored-span row: 26 constructed docs
    * of 3-letter tokens — per-doc prefix/suffix from integer formulas both
    * engines restate, a shared 6-token motif at a per-doc offset (the
    * phase-shifted duplicate the anchored cut must re-align). */
  private[graft] val anchoredMotif: Seq[String] = (0 until 6).map(m =>
    (0 until 3).map(k => ('a' + (m * 5 + k * 3 + 1) % 26).toChar).mkString)

  private def anchoredFixtureTokens(i: Int): Seq[String] = {
    def w3(f: Int => Int): String =
      (0 until 3).map(k => ('a' + f(k) % 26).toChar).mkString
    val pre = (0 until (3 + (i * 3) % 7)).map(j => w3(k => i * 11 + j * 7 + k * 3))
    val post = (0 until (4 + (i * 5) % 6)).map(j =>
      w3(k => i * 11 + (j + 50) * 7 + k * 3 + 5))
    pre ++ anchoredMotif ++ post
  }

  /** Spark's `xxhash64(lit(42), token)` — [[graft.ext.Dedup.tokenHashFast]]
    * — evaluated driver-side through the very same Catalyst expression, so
    * the pinned cut table can't drift from what the executors compute. */
  private def xx42(tok: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal(42), Literal(tok))).eval(null).asInstanceOf[Long]
  }

  /** Per-doc cut bounds (0 ++ 1-based anchor positions ++ n) under the
    * xxhash64 anchor law, precomputed at fixture-construction time — the
    * mm_decode_containers pinning pattern applied to cut points: the hash
    * itself has no external restatement (DuckDB lacks xxhash64), so the
    * cuts ship as a literal table to BOTH engines and everything around
    * them (spans, first-owner, reassembly) stays independently restated. */
  private[graft] lazy val anchoredFastBounds: Seq[(Int, Seq[Int])] =
    (0 until 26).map { i =>
      val toks = anchoredFixtureTokens(i)
      val cuts = toks.zipWithIndex.collect {
        case (t, j) if java.lang.Math.floorMod(xx42(t), 8L) == 0L => j + 1
      }
      i -> (0 +: cuts :+ toks.length)
    }

  /** Record-linkage fixture over `part`, shaped like a REAL entity corpus:
    * every entity carries one near-unique token (the price, made integer-
    * portable as `p<round(price*10)>`) among common-vocabulary ones
    * (64 names × ~25 brands × 6 types), because that is what makes capped
    * LSH work — true pairs always share a low-traffic bucket through their
    * distinctive token while the cap kills the stop-token mega-buckets.
    * LEFT: every part as "name brand type size p<price>". RIGHT: a catalog
    * of the even parts as "name brand type p<price>" (J = 5/6 with its
    * source) plus a PLANTED duplicate listing for every 20th part
    * ("name brand p<price>", J = 4/6) — so every 20th part is genuinely
    * ambiguous, the other evens match exactly once, odds are unmatched:
    * census 100·k / 900·k / 1000·k at any scale. Ids live in disjoint
    * namespaces (+1e6 / +2e6). */
  private def fuzzyFixture(part: DataFrame): (DataFrame, DataFrame) = {
    val priceTok = concat(lit("p"),
      round(col("p_retailprice") * 10, 0).cast("long").cast("string"))
    val left = part.select(col("p_partkey").as("entity_id"),
      concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), priceTok).as("entity"))
    val catalog = part.where(col("p_partkey") % 2 === 0)
      .select((col("p_partkey") + 1000000L).as("cat_id"),
        concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"),
          priceTok).as("cat_name"))
    val dupListings = part.where(col("p_partkey") % 20 === 0)
      .select((col("p_partkey") + 2000000L).as("cat_id"),
        concat_ws(" ", col("p_name"), col("p_brand"), priceTok)
          .as("cat_name"))
    (left, catalog.unionByName(dupListings))
  }

  /** The RARE-TOKEN regime fixture for weighted linkage: the same left
    * entities, linked to billing-style records (even parts, +3e6 ids)
    * whose text shares ONLY the rare price token with its part — every
    * other right token ("invoice", acct k%3, region k%7) is corpus-common,
    * so 1/df weighting makes the shared rare token carry the whole score
    * while raw Jaccard (~1/14) sits where pure 16-seed banding misses
    * ~1/4 of true pairs. The regime `rareDf` exists for. */
  private def fuzzyRareFixture(part: DataFrame): (DataFrame, DataFrame) = {
    val priceTok = concat(lit("p"),
      round(col("p_retailprice") * 10, 0).cast("long").cast("string"))
    val left = part.select(col("p_partkey").as("entity_id"),
      concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), priceTok).as("entity"))
    val right = part.where(col("p_partkey") % 2 === 0)
      .select((col("p_partkey") + 3000000L).as("cat_id"),
        concat_ws(" ", lit("invoice"),
          concat(lit("acct"), (col("p_partkey") % 3).cast("string")),
          concat(lit("region"), (col("p_partkey") % 7).cast("string")),
          priceTok).as("cat_name"))
    (left, right)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: one hash-aggregate on the normalization fingerprint.
    "dedup_exact" -> ((s, d) => {
      Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")
        .orderBy("fingerprint")
    }),


    // Span-level exact dedup: tile into 16-token spans, keep the first
    // corpus-wide occurrence of each distinct span, reassemble survivors.
    "dedup_spans" -> ((s, d) => {
      Dedup.dedupSpans(t(s, d, "documents"), "doc_id", "text", window = 16)
        .orderBy("doc_id")
    }),


    // INTRA-document repeated-line removal (the Gopher/RefinedWeb
    // within-doc cleanup the cross-doc span family never sees): each doc
    // gets a planted newsletter stub and a head-of-text echo, both TWICE —
    // first occurrences survive in order, repeats drop. The oracle
    // restates the construction and the first-occurrence window, so it
    // stays exact even where the echo line happens to equal the full text.
    "dedup_lines_within" -> ((s, d) => {
      val multi = concat(col("text"), lit("\nsubscribe to our newsletter\n"),
        substring(col("text"), 1, 40), lit("\nsubscribe to our newsletter\n"),
        substring(col("text"), 1, 40))
      Dedup.dedupLinesWithinDoc(
        t(s, d, "documents").select(col("doc_id"), multi.as("text")),
        "doc_id", "text")
        .orderBy("doc_id")
    }),


    // TRUE substring dedup at ARBITRARY offsets (Lee et al. 2021) via
    // distributed prefix-doubling suffix ranks: every 16-char window that
    // repeats anywhere in the corpus — any doc, any offset, any phase —
    // yields a merged duplicated span for each non-first occurrence. The
    // fixture is CONSTRUCTED (ids from the documents table, text from
    // integer formulas both engines restate): a shared 24-char motif
    // planted at a per-doc arbitrary offset inside quadratic-residue
    // filler, so the duplicate alignment differs doc to doc — exactly what
    // the tile/anchor stand-ins cannot see below their period. The oracle
    // brute-forces every window of the same constructed text.
    "dedup_substring_sa" -> ((s, d) => {
      val did = col("doc_id")
      def seg(n: Column, f: Column => Column): Column =
        array_join(transform(sequence(lit(0), n.cast("int") - 1),
          j => chr(f(j) % 26 + 97)), "")
      val motifStr = (0 until 24).map(j => ('a' + (5 * j + 2) % 26).toChar).mkString
      val docs = t(s, d, "documents").select(col("doc_id")).where(did < 26)
        .select(did, concat(
          seg(lit(8) + (did * 3) % 11, j => did * 7 + j * j),
          lit(motifStr),
          seg(lit(10) + (did * 5) % 9, j => did * 7 + (j + 40) * (j + 40)))
          .as("text"))
      Dedup.substringDupSpans(docs, "doc_id", "text", minLen = 16)
        .orderBy("doc_id", "span_start")
    }),


    // The same suffix-rank substring dedup over the REAL corpus (every
    // document, ~150k chars at the gate SF): evidence the operator runs
    // beyond its constructed fixture. minLen=20 chars; the oracle is the
    // same brute-force window comparison over the actual text. The corpus
    // is ASCII-printable at every SF, so char indexing agrees across
    // engines without a filter.
    "dedup_substring_real" -> ((s, d) => {
      Dedup.substringDupSpans(t(s, d, "documents"), "doc_id", "text",
          minLen = 20)
        .orderBy("doc_id", "span_start")
    }),

    // Shingle-anchored span dedup: spans cut at content-defined boundaries
    // (portable token hash ≡ 0 mod 8), so a duplicated passage aligns to
    // the same spans at ANY document offset — the phase-robust variant of
    // dedup_spans (fixed tiles miss phase-shifted duplicates).
    "dedup_spans_anchored" -> ((s, d) => {
      Dedup.dedupSpansAnchored(t(s, d, "documents"), "doc_id", "text",
          anchorMod = 8)
        .orderBy("doc_id")
    }),


    // The PRODUCTION anchored-span path: codegen'd xxhash64 anchors instead
    // of the portable md5 token hash (~10× cheaper per token). DuckDB has
    // no xxhash64, so the cut POSITIONS are precomputed at fixture-
    // construction time through the same Catalyst expression the executors
    // run and shipped to both engines as a literal table (anchoredFastBounds
    // — the pinned-constants pattern); the fixture text, span slicing,
    // first-owner rule, and reassembly are all independently restated, so
    // the full hash gate applies to everything but the hash law itself.
    // ExtSpec pins the phase-robustness contract across both hash families.
    "dedup_spans_anchored_fast" -> ((s, d) => {
      val did = col("doc_id")
      def w3(f: Column => Column): Column =
        concat_ws("", transform(sequence(lit(0), lit(2)),
          k => chr(f(k) % 26 + 97)))
      val pre = transform(sequence(lit(0), lit(3) + (did * 3) % 7 - 1),
        j => w3(k => did * 11 + j * 7 + k * 3))
      val post = transform(sequence(lit(0), lit(4) + (did * 5) % 6 - 1),
        j => w3(k => did * 11 + (j + 50) * 7 + k * 3 + 5))
      val motif = array(anchoredMotif.map(lit): _*)
      val docs = t(s, d, "documents").select(did).where(did < 26)
        .select(did,
          concat_ws(" ", concat(pre, motif, post)).as("text"))
      Dedup.dedupSpansAnchored(docs, "doc_id", "text",
          anchorMod = 8, fastHash = true)
        .orderBy("doc_id")
    }),


    // Shuffle-lean span dedup: ownership keyed on xxhash64(chunk_text)
    // (fixed-width exchange rows instead of text keys); reassembly re-slices
    // surviving tiles from the doc's own text, so corpus text crosses one
    // exchange instead of two. Result ≡ dedup_spans absent a 64-bit span
    // collision — the text-keyed oracle SQL applies verbatim.
    "dedup_spans_hashed" -> ((s, d) => {
      Dedup.dedupSpansHashed(t(s, d, "documents"), "doc_id", "text",
          window = 16)
        .orderBy("doc_id")
    }),


    // Incremental dedup: a new batch checked against a historical store via
    // a BloomFilterAggregate blob + exact confirm join — the store is
    // scanned but NEVER shuffled (the continuous-ingest shape at 100 TB).
    // Result is exact (the bloom only routes candidates; the confirm join
    // compares fingerprint values), so the plain NOT EXISTS oracle applies.
    "dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), md5(lower(col("text"))).as("fingerprint"))
      val hist = docs.where(col("doc_id") % 10 < 7)
      val batch = docs.where(col("doc_id") % 10 >= 7)
      Dedup.newAgainstHistory(batch, hist, "fingerprint",
          expectedHistItems = 4096, fpp = 0.01)
        .select(col("doc_id"), col("fingerprint"))
        .orderBy("doc_id")
    }),


    // The NEAR-DUP index AS DATA: per-document portable minhash signatures
    // (the frame a continuous-ingest deployment materializes per batch and
    // unions — signatures are per-row pure, so store(a) ∪ store(b) ≡
    // store(a ∪ b) exactly). Arrays serialize to comma strings for the
    // cross-engine compare; the oracle restates the keyed-md5 60-bit
    // signature law position by position.
    "dedup_sig_store" -> ((s, d) => {
      Dedup.minhashStore(t(s, d, "documents").where(col("doc_id") % 10 < 7),
          "doc_id", "text")
        .select(col("id"), concat_ws(",", col("sig")).as("sig_s"))
        .orderBy("id")
    }),


    // INCREMENTAL near-dup against the SERVED store — the batch twin of
    // q_streaming_neardup and the near-dup sibling of dedup_incremental:
    // the later 30% of documents probe the first 70%'s signature store
    // WITHOUT re-reading its text. With 1-row bands a shared bucket is
    // implied by the ≥ 8/16 agreement filter and no gate-SF bucket nears
    // the cap, so the emitted pair set restates as the all-pairs
    // batch×store agreement filter over the md5 signature law.
    "dedup_near_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val store = Dedup.minhashStore(docs.where(col("doc_id") % 10 < 7),
        "doc_id", "text")
      Dedup.nearDupAgainstStore(store, docs.where(col("doc_id") % 10 >= 7),
          "doc_id", "text")
        .orderBy("batch_id", "store_id")
    }),


    // The MATERIALIZED capped band-representative store — the served
    // LSH-bucket state as data (band, v, representative id, signature),
    // each bucket truncated to its cap=2 lowest ids. This is the frame a
    // continuous-ingest deployment writes once and probes per batch (the
    // store-wide representative window is paid at CONSTRUCTION, never per
    // batch). The oracle restates the 8-hash signature law, the banding,
    // and the per-bucket rank cut.
    "dedup_store_banded" -> ((s, d) => {
      Dedup.minhashStoreBanded(t(s, d, "documents").where(col("doc_id") % 10 < 7),
          "doc_id", "text", numHashes = 8, cap = 2)
        .select(col("band"), col("v"), col("store_id"),
          concat_ws(",", col("store_sig")).as("sig_s"))
        .orderBy("band", "v", "store_id")
    }),


    // INCREMENTAL near-dup at the DESIGN POINT: served banded store built
    // over the first half, APPEND-maintained over the next fifth (ids are
    // NOT monotone across the two phases here, so this row additionally
    // pins the first-cap-ARRIVALS semantics the append documents), then
    // the last 30% probes the maintained representatives directly — no
    // store-wide window, no store count, per-batch exchange bounded by
    // batch size. The oracle restates representatives as a rank over
    // (arrival phase, id) and the probe as the banded agreement join.
    "dedup_near_banded_append" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // the store is SERVED state: built ONCE per process (the scratch
      // root is per-JVM, so correctness runs always build fresh), read
      // back for the append and the probe — the operator's actual
      // deployment shape. The bench's timed passes therefore measure the
      // PER-BATCH work (append delta + probe), not a store rebuild the
      // design point pays once; the build cost itself is pinned in
      // ScaleProof/SURVEY §6. Content is deterministic, so reuse cannot
      // change the result.
      val base = scratchDir("graft_banded_base", d)
      val deltaDir = scratchDir("graft_banded_delta", d)
      if (!new java.io.File(base).exists())
        Dedup.minhashStoreBanded(docs.where(col("doc_id") % 10 < 5),
            "doc_id", "text", cap = 2)
          .write.mode("overwrite").parquet(base)
      Dedup.minhashStoreBandedAppend(s.read.parquet(base),
          docs.where(col("doc_id") % 10 >= 5 && col("doc_id") % 10 < 7),
          "doc_id", "text", cap = 2)
        .write.mode("overwrite").parquet(deltaDir)
      Dedup.nearDupAgainstBandedStore(
          s.read.parquet(base).unionByName(s.read.parquet(deltaDir)),
          docs.where(col("doc_id") % 10 >= 7), "doc_id", "text")
        .orderBy("batch_id", "store_id")
    }),


    // The served store WITH ITS GEOMETRY SIDECAR: the store is written
    // once (minhashStoreBandedWrite pins the (family, numHashes, bandRows,
    // cap, tokenizer) contract next to the parquet), and the probe reads
    // the geometry FROM the sidecar (nearDupAgainstBandedStoreAt) — a
    // drifted probe is impossible by construction, and a missing/wrong
    // sidecar throws instead of returning near-empty matches. Same
    // agreement law as the other banded rows; the oracle restates the
    // capped representatives and the banded probe.
    "dedup_store_probe_meta" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = scratchDir("graft_banded_meta", d)
      if (!new java.io.File(dir).exists())
        Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") % 10 < 7),
          "doc_id", "text", dir, cap = 2)
      Dedup.nearDupAgainstBandedStoreAt(s, dir,
          docs.where(col("doc_id") % 10 >= 7), "doc_id", "text")
        .orderBy("batch_id", "store_id")
    }),


    // STORE COMPACTION is invisible to the probe: build the served store,
    // append TWO maintenance batches (each a parquet append — the
    // file-count growth a year of hourly batches turns into ~10k file
    // groups), then StoreMeta.compact rewrites the snapshot into one file
    // with rows, sidecar, and cap/arrival semantics untouched. The oracle
    // restates the UNCOMPACTED chain (three arrival phases ranked into the
    // capped representatives + the banded agreement probe) — a compaction
    // that drops, duplicates, or re-ranks a single row hash-fails.
    "dedup_store_compact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = scratchDir("graft_banded_compact", d)
      if (!new java.io.File(dir).exists()) {
        Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") % 10 < 5),
          "doc_id", "text", dir, cap = 2)
        Dedup.minhashStoreBandedAppendAt(s, dir,
          docs.where(col("doc_id") % 10 === 5), "doc_id", "text")
        Dedup.minhashStoreBandedAppendAt(s, dir,
          docs.where(col("doc_id") % 10 === 6), "doc_id", "text")
        graft.ext.StoreMeta.compact(s, dir, targetFiles = 1): Unit
      }
      Dedup.nearDupAgainstBandedStoreAt(s, dir,
          docs.where(col("doc_id") % 10 >= 7), "doc_id", "text")
        .orderBy("batch_id", "store_id")
    }),


    // ENTITY DELETION from the served store (right-of-erasure / retract a
    // bad catalog entry): build on %10 < 7, delete the %10 = 6 entities'
    // signature ROWS in place, probe the last 30%. Row semantics are the
    // contract — a freed representative slot is NOT re-filled (only a
    // rebuild re-derives signatures), so the oracle ranks the ORIGINAL
    // store into its capped representatives and THEN filters the deleted
    // ids: a delete that re-ranked, dropped a survivor, or left a deleted
    // row matchable hash-fails.
    "dedup_store_delete" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = scratchDir("graft_banded_del", d)
      if (!new java.io.File(dir).exists()) {
        Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") % 10 < 7),
          "doc_id", "text", dir, cap = 2)
        Dedup.minhashStoreBandedDeleteAt(s, dir,
          docs.where(col("doc_id") % 10 === 6).select("doc_id")): Unit
      }
      Dedup.nearDupAgainstBandedStoreAt(s, dir,
          docs.where(col("doc_id") % 10 >= 7), "doc_id", "text")
        .orderBy("batch_id", "store_id")
    }),


    // CROSS-TABLE record linkage (fuzzy join): parts described one way
    // (name + brand + type + size) linked against a reference catalog that
    // describes a subset of them another way (name + brand + type, ids in
    // a disjoint namespace) — no shared key, only approximately-equal
    // text. Banded md5-minhash candidates across the two tables (a plain
    // (band, v) equi-join, never all-pairs), verified by exact token-set
    // Jaccard. The oracle restates the signature law, the banding, and the
    // verify — the gate is exact, not probabilistic.
    "dedup_fuzzy_link" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      FuzzyJoin.linkage(left, "entity_id", "entity",
          right, "cat_id", "cat_name",
          shingleLen = 1, numHashes = 16, threshold = 0.6,
          maxBucketSize = 150)
        .orderBy("left_id", "right_id")
    }),


    // Top-1 linkage: each left entity's best catalog match (ties broken by
    // smallest right id — deterministic), with how contested the win was.
    "dedup_fuzzy_best" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      FuzzyJoin.bestMatch(left, "entity_id", "entity",
          right, "cat_id", "cat_name",
          shingleLen = 1, numHashes = 16, threshold = 0.6,
          maxBucketSize = 150)
        .orderBy("left_id")
    }),


    // The linkage funnel: every left entity classified matched (exactly one
    // verified match — auto-merge), ambiguous (several — review queue), or
    // unmatched. The three-row summary a linkage run is operated by.
    "dedup_fuzzy_census" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      FuzzyJoin.linkageCensus(left, "entity_id", "entity",
          right, "cat_id", "cat_name",
          shingleLen = 1, numHashes = 16, threshold = 0.6,
          maxBucketSize = 150)
        .orderBy("status")
    }),


    // FREQUENCY-WEIGHTED linkage: the same banded candidates, scored by
    // weighted Jaccard with w(t) = 1/df(t) — shared RARE evidence
    // dominates, shared common vocabulary counts for almost nothing. On
    // this fixture the law's two faces both show: pairs sharing only
    // (name, brand, type) collisions are crushed below threshold, while
    // the cycling retail prices make each price token a ~4-entity rarity
    // and EVERY price-sharing pair is promoted (984 extra pairs vs the
    // unweighted row, all price-sharing — exactly what weighting does to
    // two records sharing a rare phone number). The score folds weights
    // in TOKEN-SORTED order with a strict left fold from 0.0, so the
    // oracle restates the exact double bit for bit.
    "dedup_fuzzy_weighted" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      FuzzyJoin.weightedLinkage(left, "entity_id", "entity",
          right, "cat_id", "cat_name",
          numHashes = 16, threshold = 0.5, maxBucketSize = 150)
        .orderBy("left_id", "right_id")
    }),


    // INCREMENTAL linkage at the continuous-ingest design point: the
    // reference catalog is a SERVED capped banded store (written once per
    // process, geometry in the sidecar); the batch of incoming entities
    // probes it (batch broadcasts, store streams — no store shuffle) and
    // candidates are exact-verified against the catalog table with the
    // sidecar's shingle law. cap = 8 and every entity carries a
    // distinctive price token, so each catalog row stays reachable through
    // its own low-traffic buckets. The oracle restates the representative
    // rank cut, the band-agreement probe, and the exact verify.
    "dedup_fuzzy_store" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      val dir = scratchDir("graft_fuzzy_store", d)
      if (!new java.io.File(dir).exists())
        Dedup.minhashStoreBandedWrite(right, "cat_id", "cat_name", dir,
          shingleLen = 1, numHashes = 16, cap = 8)
      FuzzyJoin.linkageAgainstStore(s, dir, right, "cat_id", "cat_name",
          left, "entity_id", "entity", threshold = 0.6)
        .orderBy("left_id", "right_id")
    }),


    // Top-1 linkage AGAINST THE SERVED STORE: the production
    // reconciliation loop's operational form — each incoming entity's best
    // catalog match straight off the store probe (same store, same
    // candidate/verify chain as dedup_fuzzy_store, then the deterministic
    // top-1 cut with the contested-win count). The oracle restates the
    // probe chain and the window.
    "dedup_fuzzy_best_store" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      val dir = scratchDir("graft_fuzzy_store", d)
      if (!new java.io.File(dir).exists())
        Dedup.minhashStoreBandedWrite(right, "cat_id", "cat_name", dir,
          shingleLen = 1, numHashes = 16, cap = 8)
      FuzzyJoin.bestMatchAgainstStore(s, dir, right, "cat_id", "cat_name",
          left, "entity_id", "entity", threshold = 0.6)
        .orderBy("left_id")
    }),


    // Per-drop linkage funnel AGAINST THE SERVED STORE: every incoming
    // entity classified matched / ambiguous / unmatched off the store
    // probe — the per-batch census a continuous reconciliation deployment
    // is operated by, with no pair plumbing by hand.
    "dedup_fuzzy_census_store" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      val dir = scratchDir("graft_fuzzy_store", d)
      if (!new java.io.File(dir).exists())
        Dedup.minhashStoreBandedWrite(right, "cat_id", "cat_name", dir,
          shingleLen = 1, numHashes = 16, cap = 8)
      FuzzyJoin.censusAgainstStore(s, dir, right, "cat_id", "cat_name",
          left, "entity_id", "entity", threshold = 0.6)
        .orderBy("status")
    }),


    // The RARE-TOKEN RECALL regime of weighted linkage, exact-gated: left
    // entities (name brand type size p<price>, ~11 tokens) linked to
    // billing-style records that share ONLY the rare price token (invoice
    // acct<k%3> region<k%7> p<price> — every other token is corpus-common,
    // so weights crush them and w(ptok) dominates). Raw Jaccard of a true
    // pair is ~1/14, where 16-seed banding alone misses ~1/4 of pairs —
    // the exact hole rareDf closes: with rareDf = 16 every pair sharing a
    // df<=16 token is a candidate DETERMINISTICALLY, and the oracle
    // restates both channels (banding ∪ rare-token equi-join), so the
    // recall law is pinned, not probabilistic.
    "dedup_fuzzy_weighted_rare" -> ((s, d) => {
      val (left, right) = fuzzyRareFixture(t(s, d, "part"))
      FuzzyJoin.weightedLinkage(left, "entity_id", "entity",
          right, "cat_id", "cat_name",
          numHashes = 16, threshold = 0.5, maxBucketSize = 150,
          rareDf = 16)
        .orderBy("left_id", "right_id")
    }),


    // The WEIGHTED candidate SAMPLER on the same rare-token regime:
    // weightedCandidates = 24 replaces unweighted banding with integer-
    // replication minhash — token t expands to ceil(24/df) virtual tokens
    // "t#i", and unweighted Jaccard of the expansions IS the 24-quantized
    // weighted Jaccard, so band-collision probability tracks the verify's
    // own score (a true pair's J_w ≈ 0.5+ bands with P ≈ 1-2^-16 instead
    // of the raw-Jaccard ≈ 0.07 curve). No rareDf floor here — the row
    // gates the sampler itself: the oracle restates the expansion, the
    // md5 law over replica strings, the banding + joint cap, and the
    // exact 1/df-weighted verify, so a wrong replica count, a drifted
    // quantization, or a sampler that lost a promoted pair hash-fails.
    "dedup_fuzzy_weighted_cws" -> ((s, d) => {
      val (left, right) = fuzzyRareFixture(t(s, d, "part"))
      FuzzyJoin.weightedLinkage(left, "entity_id", "entity",
          right, "cat_id", "cat_name",
          numHashes = 16, threshold = 0.5, maxBucketSize = 150,
          weightedCandidates = 24)
        .orderBy("left_id", "right_id")
    }),


    // Weighted linkage AGAINST THE SERVED STORE under the FROZEN
    // vocabulary law: the catalog's weighted-sampler signatures and its
    // token frequencies are built once (weightedStoreWrite — df frozen in
    // a sidecar), and every probe scores with w(t) = 1/df_catalog(t),
    // unseen batch tokens at maximal rarity 1.0 — per-drop scores are
    // COMPARABLE across drops (the batch form's df shifts with every
    // batch). The oracle restates the catalog df, the ceil(24/df)
    // expansion on BOTH sides (unseen → 24 replicas), the store's
    // rank-8 bucket cap, the probe banding, and the frozen-weight
    // token-sorted fold — a drifted df, a wrong replica count for an
    // unseen token, or a probe that shuffled the wrong law hash-fails.
    "dedup_fuzzy_weighted_served" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      val dir = scratchDir("graft_fuzzy_wstore", d)
      if (!new java.io.File(dir).exists())
        FuzzyJoin.weightedStoreWrite(right, "cat_id", "cat_name", dir,
          numHashes = 16, quantK = 24, cap = 8)
      FuzzyJoin.weightedLinkageAgainstStore(s, dir,
          right, "cat_id", "cat_name",
          left.where(col("entity_id") % 11 === 0), "entity_id", "entity",
          threshold = 0.3)
        .orderBy("left_id", "right_id")
    }),


    // Top-1 under the frozen weighted law — the reconciliation loop's
    // per-drop decision row: batch-composition-invariant scores mean a
    // record's best match never depends on what else rode its drop.
    "dedup_fuzzy_weighted_best_served" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      val dir = scratchDir("graft_fuzzy_wstore", d)
      if (!new java.io.File(dir).exists())
        FuzzyJoin.weightedStoreWrite(right, "cat_id", "cat_name", dir,
          numHashes = 16, quantK = 24, cap = 8)
      FuzzyJoin.weightedBestMatchAgainstStore(s, dir,
          right, "cat_id", "cat_name",
          left.where(col("entity_id") % 11 === 0), "entity_id", "entity",
          threshold = 0.3)
        .orderBy("left_id")
    }),


    // Per-drop funnel census under the frozen weighted law.
    "dedup_fuzzy_weighted_census_served" -> ((s, d) => {
      val (left, right) = fuzzyFixture(t(s, d, "part"))
      val dir = scratchDir("graft_fuzzy_wstore", d)
      if (!new java.io.File(dir).exists())
        FuzzyJoin.weightedStoreWrite(right, "cat_id", "cat_name", dir,
          numHashes = 16, quantK = 24, cap = 8)
      FuzzyJoin.weightedCensusAgainstStore(s, dir,
          right, "cat_id", "cat_name",
          left.where(col("entity_id") % 11 === 0), "entity_id", "entity",
          threshold = 0.3)
        .orderBy("status")
    }),


    // MinHash+LSH near-dup under the SCRIPT-AWARE tokenizer over a planted
    // mixed-script fixture: each base doc gets a twin differing in one
    // trailing latin word, with its Han/Katakana/Thai runs glued to the
    // latin words — under whitespace tokenization each run is ONE token
    // welded to its neighbors and every signature degenerates; per-
    // codepoint script tokens restore the shingle granularity LSH needs.
    // The oracle restates the fixture, the script-aware token law, and the
    // full shingle → signature → band → exact-Jaccard chain.
    "dedup_minhash_cjk" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id"))
        .where(col("doc_id") < 20)
      val base = ids.select(col("doc_id"),
        CjkFixture.text(col("doc_id"), "epsilon").as("text"))
      // text FIRST, rename AFTER: Spark 4's lateral column alias resolution
      // would otherwise bind the fixture's doc_id reference to the shifted
      // alias in the same projection list, silently changing the twin's text
      val twins = ids.select(col("doc_id"),
          CjkFixture.text(col("doc_id"), "zeta").as("text"))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.nearDuplicates(base.unionByName(twins), "doc_id", "text",
          shingleLen = 3, numHashes = 8, threshold = 0.5,
          tok = Tokenizer.ScriptAware)
        .orderBy("a_id", "b_id")
    }),


    // MinHash + LSH near-dup: shingle → signature → band bucket join →
    // exact-Jaccard verify. The at-scale dedup workhorse.
    "dedup_minhash" -> ((s, d) => {
      Dedup.nearDuplicates(t(s, d, "documents"), "doc_id", "text",
          shingleLen = 3, numHashes = 8, threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),


    // ASYMMETRIC CONTAINMENT dedup (Dedup.containmentPairs): every doc
    // gets a 10-word MID-EXCERPT twin (words 4-13 — not a prefix, so
    // span/anchor alignment isn't what catches it), whose Jaccard against
    // its source is tiny but whose containment is 1.0 — the short-in-long
    // case the MinHash-Jaccard pipeline misses BY DESIGN (detection prob
    // ≈ J). Candidates come from a sampled-shingle inverted join (salted
    // md5 picks 1/4 of shingles; stop-shingle cap keeps the self-join
    // linear); the exact verify scores true containment in ppm. The
    // oracle restates sampling, cap, candidates, and verify.
    "dedup_containment" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val variants = docs.select((col("doc_id") + 200000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(4), lit(10)), " ")
          .as("text"))
      Dedup.containmentPairs(docs.unionByName(variants), "doc_id", "text")
        .orderBy("a_id", "b_id")
    }),


    // LSH DETECTION-RATE harness (Dedup.lshDetectionEval): planted pairs
    // = each doc vs its PREFIX variant (first 2 + id%29 words — a spread
    // of true Jaccard levels on real text), detection = "some 2-row band
    // of the 8-hash portable family agrees", bucketed by exact-Jaccard
    // decile. The emitted S-curve (low deciles mostly missed, high
    // deciles near-certain) is banding theory MEASURED, not asserted —
    // the oracle recomputes signatures, bands, and exact Jaccard per
    // pair, so a hash, banding, or bucketing bug hash-fails.
    "dedup_eval" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
      val variants = docs.select((col("doc_id") + 100000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          (col("doc_id") % 29 + 2).cast("int")), " ").as("text"))
      val pairs = docs.select(col("doc_id").as("a_id"),
        (col("doc_id") + 100000L).as("b_id"))
      Dedup.lshDetectionEval(docs.unionByName(variants), "doc_id", "text",
          pairs, shingleLen = 3, numHashes = 8, bandRows = 2)
        .orderBy("jac_decile")
    }),


    // The at-scale minhash: xxhash64 signatures (codegen'd long arithmetic)
    // with 16 seeds / 1-row bands, so LSH recall ≥ 1-2^-16 per true pair and
    // the exact-Jaccard verify makes the output the TRUE pair set — which is
    // what the oracle checks, via an exhaustive pair scan (no hash to
    // reproduce cross-engine). This is the benched dedup path; dedup_minhash
    // above stays as the portable-hash oracle row.
    "dedup_minhash_fast" -> ((s, d) => {
      Dedup.nearDuplicatesFast(t(s, d, "documents"), "doc_id", "text",
          shingleLen = 3, numHashes = 16, threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),


    // Pair → cluster resolution: connected components over the MinHash
    // near-dup pairs, every member labeled with its component's min id (the
    // survivor). Without this step A≈B, B≈C dedup keeps two survivors.
    "dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.nearDuplicates(t(s, d, "documents"), "doc_id", "text")
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }),


    // Same clusters via large-star/small-star (the O(log n)-round published
    // algorithm for web-scale graphs) — dedup_clusters resolves this small
    // graph by driver union-find, so the two rows pin both CC algorithms to
    // one oracle answer.
    "dedup_clusters_star" -> ((s, d) => {
      val pairs = Dedup.nearDuplicates(t(s, d, "documents"), "doc_id", "text")
      Dedup.connectedComponentsStar(pairs)
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }),


    // Quality-priority cluster survivors: per near-dup cluster keep the
    // highest-quality member (regex word count; ties → min doc_id) — the
    // production survivor policy (keep the cleanest copy of a duplicated
    // page, not whichever crawl got the lowest id). Spark side is a
    // partial-aggregating max(struct(quality, -id)); the oracle restates it
    // as a rank window.
    "dedup_survivors_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.duplicateClusters(
          Dedup.nearDuplicates(docs, "doc_id", "text"))
        .select(col("id"), col("rep"))
      val quality = docs.select(col("doc_id"),
        TextStats.nWords(col("text")).as("q"))
      Dedup.qualitySurvivors(clusters, quality, "doc_id", "q")
        .orderBy("rep")
    }),


    // The full curation pipeline: exact dedup → near-dup cluster dedup →
    // quality gate; output = surviving document ids.
    "curation_pipeline" -> ((s, d) => {
      Curation.curate(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id")).orderBy("doc_id")
    }),


    // The WHOLE curation recipe under the SCRIPT-AWARE tokenizer
    // (Config.tokenizer — E52 composed into E1c): mixed-script corpus with
    // near-dup twins that only per-codepoint shingles can see, plus
    // low-token ideograph docs the count gate must reject by SCRIPT-AWARE
    // counting (whitespace counting would pass them at 2 tokens... and
    // reject every FULL doc at ~7). Exact dedup (tokenizer-independent
    // fingerprints) → script-aware near-dup clusters (min-id survivors) →
    // script-aware quality gate. The oracle reuses the recursive curation
    // CTE chain with the words law swapped.
    "curation_pipeline_cjk" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id"))
        .where(col("doc_id") < 20)
      val base = ids.select(col("doc_id"),
        CjkFixture.text(col("doc_id"), "epsilon").as("text"))
      val twins = ids.select(col("doc_id"),
          CjkFixture.text(col("doc_id"), "zeta").as("text"))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val shorts = t(s, d, "documents").select(col("doc_id"))
        .where(col("doc_id") >= 20 && col("doc_id") < 30)
        .select(col("doc_id"), CjkFixture.shortText(col("doc_id")).as("text"))
      Curation.curate(base.unionByName(twins).unionByName(shorts),
          "doc_id", "text",
          Curation.Config(minTokens = 10,
            tokenizer = graft.ext.Tokenizer.ScriptAware))
        .select(col("doc_id")).orderBy("doc_id")
    }),


    // Per-source data card — the summary a curation run publishes with a
    // released dataset: doc/token volume, language breadth, exact-dup
    // membership (global fingerprint groups ≥ 2, counted per source), and
    // the classifier pass rate (native kernel as a projection). One
    // fingerprint-keyed aggregation + one broadcast-able dup-set join +
    // one source-keyed aggregation.
    "curation_datacard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val stats = docs.select(col("source"), col("lang"),
        size(split(col("text"), " ")).as("n_tok"),
        md5(lower(col("text"))).as("fp"),
        when(TextStats.hashedLinearScoreCol(col("text"))
          .getField("score_fp") > 0, 1L).otherwise(0L).as("pos"))
      val dupFps = stats.groupBy(col("fp"))
        .agg(count(lit(1)).as("_n")).where(col("_n") >= 2).select(col("fp"))
      stats.join(dupFps.withColumn("_dup", lit(1L)), Seq("fp"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(coalesce(col("_dup"), lit(0L))).as("n_dup_docs"),
          sum(col("pos")).as("n_quality_pos"))
        .orderBy("source")
    }),


    // The WHOLE training-data recipe in one row: curate (exact + near dedup
    // + quality gates) → hashed-linear classifier gate (score_fp > 0, a
    // pure scan-level filter via the native kernel — no score join) →
    // fractional-epoch materialization by source. Output is the final
    // repeated multiset a trainer would read; the oracle restates every
    // stage (curation CTEs + classifier arithmetic + floor/hash epochs).
    "curation_recipe_e2e" -> ((s, d) => {
      val surv = Curation.curate(t(s, d, "documents"), "doc_id", "text")
      val kept = surv.where(
        TextStats.hashedLinearScoreCol(col("text")).getField("score_fp") > 0)
      Sampling.epochMaterialize(kept, "source", "doc_id",
          Map("src0" -> 2.5, "src1" -> 2.0, "src2" -> 0.75),
          defaultEpochs = 1.0, salt = "ep")
        .select(col("doc_id"), col("source"), col("copy_no"))
        .orderBy("doc_id", "copy_no")
    }),


    // The same pipeline under the quality-priority survivor policy: each
    // near-dup cluster keeps its max-word-count member instead of min id.
    "curation_pipeline_quality" -> ((s, d) => {
      Curation.curate(t(s, d, "documents"), "doc_id", "text",
          Curation.Config(survivorQuality = Some(TextStats.nWords(col("text")))))
        .select(col("doc_id")).orderBy("doc_id")
    }),


    // The curation audit: per-stage funnel counts (input → exact dedup →
    // near-dup dedup → quality gate → PII scrub) — the numbers a curation
    // run reports. scrubPii on: the 5_scrubbed row pins the stage ORDER
    // (scrub last, a row-preserving projection — its count equals the
    // quality gate's, which is exactly what the oracle asserts).
    // Incremental curation: the batch (doc_id % 10 >= 7) curated with the
    // kept-fingerprint store of a previous run over the rest — the history
    // probe (bloom + exact confirm, store never shuffled) runs BEFORE the
    // pipeline; the oracle feeds the same NOT EXISTS-filtered batch
    // through the shared curation CTE chain.
    "curation_pipeline_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hist = docs.where(col("doc_id") % 10 < 7)
        .select(md5(lower(col("text"))).as("fingerprint"))
      Curation.curate(docs.where(col("doc_id") % 10 >= 7), "doc_id", "text",
          Curation.Config(history = Some(hist)))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    "curation_funnel" -> ((s, d) => {
      Curation.funnel(t(s, d, "documents"), "doc_id", "text",
          Curation.Config(scrubPii = true))
        .orderBy("stage")
    }),


    // EXTRACTION COMPOSED INTO THE RECIPE — the raw-vs-extracted contrast
    // on crawl pages with planted SITE CHROME: every page of a host
    // carries the same link-heavy nav + footer (host-flavored, so the
    // chrome is per-site like real chrome), body = the document's own
    // text. Without extraction the shared chrome dominates the shingle
    // sets, same-host pages weld into near-dup clusters, and the min-id
    // survivor policy throws away the host's corpus; with
    // Config.extractMinWords the chrome dies to the link-density rule
    // BEFORE fingerprinting and the distinct bodies survive. Output: per
    // (variant, host) survivor census — the welding contrast as data. The
    // oracle runs BOTH pipelines (suffixed CTE chains) with the extraction
    // stage restated block-for-block.
    "curation_pipeline_extracted" -> ((s, d) => {
      val host = concat(lit("h"), col("doc_id") % 7)
      val html = CatalogShared.chromePage(host, substring(col("text"), 1, 400))
      val pages = t(s, d, "documents").where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), html.as("text"))
      val cfg = Curation.Config(jaccardThreshold = 0.35)
      val raw = Curation.curate(pages, "doc_id", "text", cfg)
      val ext = Curation.curate(pages, "doc_id", "text",
        cfg.copy(extractMinWords = Some(5)))
      raw.select(lit("raw").as("variant"), col("doc_id"))
        .unionByName(ext.select(lit("extracted").as("variant"), col("doc_id")))
        .select(col("variant"), concat(lit("h"), col("doc_id") % 7).as("host"),
          col("doc_id"))
        .groupBy("variant", "host")
        .agg(count(lit(1)).as("n_survivors"), sum(col("doc_id")).as("sum_id"))
        .orderBy("variant", "host")
    }),


    // Cross-source contamination audit: distinct canonical-fingerprint
    // overlap per source pair — run before mixing corpora.
    "curation_source_overlap" -> ((s, d) => {
      Curation.sourceOverlap(t(s, d, "documents"), "source", "text")
        .orderBy("src_a", "src_b")
    }),


    // SimHash fingerprints (16-bit) per document.
    "dedup_simhash" -> ((s, d) => {
      Dedup.simhashOf(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),


    // SimHash near-dup PAIRS: banded-nibble candidates (exact by pigeonhole
    // for hamming <= 3) + Hamming verify — the join that turns E3's
    // fingerprints into an actual dedup operator.
    "dedup_simhash_pairs" -> ((s, d) => {
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 2)
        .orderBy("a_id", "b_id")
    }),


    // The at-scale SimHash pair join: 60-bit fingerprints, 6 bands of 10
    // bits (exact for hamming <= 5; ~2^-10 per-band random collision where
    // the 16-bit variant's nibbles saturate on a big corpus).
    "dedup_simhash_pairs_wide" -> ((s, d) => {
      Dedup.simhashPairsWide(t(s, d, "documents"), "doc_id", "text",
          maxHamming = 4)
        .orderBy("a_id", "b_id")
    }),


    // Blocked character-n-gram Jaccard near-dup (quadratic within a block).
    "dedup_ngram" -> ((s, d) => {
      Dedup.blockedNgramPairs(t(s, d, "documents"), "doc_id", "text",
          blockCol = "lang", n = 4, threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),


    // EXACT word-set Jaccard >= 1/2 pairs via prefix filtering (PPJoin
    // family) — no blocking key, no false negatives; the oracle is the
    // exhaustive all-pairs scan, so a single missed or phantom pair
    // hash-fails. Evidence is integer-exact (intersection/union counts).
    "dedup_jaccard_prefix" -> ((s, d) => {
      Dedup.prefixJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          thresholdNum = 1L, thresholdDen = 2L)
        .orderBy("a_id", "b_id")
    }),


    // Blocked edit-distance near-dup: quadratic within a block, so the demo
    // models the documented STRONG-blocking contract — (length bucket ×
    // first token), under which edit-dist<=50 survivors are near-identical
    // records (a `lang` block is the scaladoc's own anti-pattern: 5 blocks
    // of 100+ docs each ran 43 s at sf0.1; this key runs in bench-class
    // time). A <=50-edit pair CAN straddle a 50-length bucket boundary or
    // differ in token 1 — the block defines the operator's contract, and
    // the oracle mirrors it exactly.
    "dedup_editdist" -> ((s, d) => {
      val blocked = t(s, d, "documents").withColumn("blk",
        concat_ws("|", floor(length(col("text")) / 50).cast("int"),
          element_at(split(col("text"), " "), 1)))
      Dedup.editDistancePairs(blocked, "doc_id", "text",
          blockCol = "blk", maxDist = 50)
        .orderBy("a_id", "b_id")
    }),


    // Embedding-cosine near-dup pairs.
    "dedup_embedding" -> ((s, d) => {
      Similarity.cosineNearDupPairs(t(s, d, "embeddings"), "vec_id",
          "embedding", threshold = 0.4)
        .orderBy("a_id", "b_id")
    }),


    // Sign-bucketed embedding near-dup — the scale path (equi-join on the
    // bucket replaces the all-pairs cross product).
    "dedup_embedding_lsh" -> ((s, d) => {
      Similarity.cosineNearDupPairsBucketed(t(s, d, "embeddings"), "vec_id",
          "embedding", threshold = 0.3, bits = 6)
        .orderBy("a_id", "b_id")
    }),


    // Multi-probe variant: probe side expanded to its bucket + every
    // single-bit flip — recovers near-dup pairs straddling one sign
    // boundary, the dominant single-bucket miss mode. Candidate set is a
    // strict superset of dedup_embedding_lsh's.
    "dedup_embedding_lsh_mp" -> ((s, d) => {
      Similarity.cosineNearDupPairsMultiProbe(t(s, d, "embeddings"), "vec_id",
          "embedding", threshold = 0.3, bits = 6)
        .orderBy("a_id", "b_id")
    }),


    // Rotated-bucketing multi-probe: single-bit-flip probing UNION a second
    // independent sign bucketing over dims 7-12 — recovers pairs at
    // bucket-Hamming >= 2 in the first slice that every flip probe misses.
    // Candidates are a strict superset of dedup_embedding_lsh_mp's.
    "dedup_embedding_lsh_rot" -> ((s, d) => {
      Similarity.cosineNearDupPairsRotated(t(s, d, "embeddings"), "vec_id",
          "embedding", threshold = 0.3, bits = 6, rotOffset = 6)
        .orderBy("a_id", "b_id")
    }),


    // SemDeDup-shaped semantic dedup: Voronoi cells around the 8 lowest-id
    // vectors (deterministic init), within-cell cosine >= 0.4 to a lower id
    // marks a duplicate. The oracle restates centroid choice, argmax cell
    // assignment (score desc, cent_id asc tie-break, zero-norm at -2), and
    // the pair rule verbatim.
    "dedup_semantic" -> ((s, d) => {
      Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
          nCells = 8, threshold = 0.4)
        .orderBy("id")
    }),

    // Brute-force cosine top-k (query set = vec_id < 5, k = 10).
  )

  /** Shared CTE chain for the record-linkage rows: the part fixture
    * (price token made integer-portable as `p<round(price*10)>` — both
    * engines round half away from zero for positive doubles), both sides'
    * distinct-token sets, the 16-seed md5-string signature law (identical
    * family to the Spark side's `Dedup.minhashSignature`), single-row
    * bands, the joint bucket census with the 150 cap, the cross-table
    * (band, v) candidate join over surviving buckets, and the
    * exact-Jaccard verify at 0.6. At sf0.01 the cap drops nothing a true
    * pair needed: the capped pair set EQUALS the exhaustive-scan truth
    * (1100 pairs), because every entity's distinctive price token keeps
    * it reachable through a low-traffic bucket. */
  /** Fixture + per-side token sets, shared by the in-memory-linkage and
    * served-store oracle chains. */
  private lazy val fuzzyBaseSql: String =
    s"""pt AS (SELECT *,
       |    'p' || round(p_retailprice * 10)::BIGINT::VARCHAR AS ptok
       |  FROM part),
       |lw AS (SELECT p_partkey AS id, string_split(lower(
       |    p_name || ' ' || p_brand || ' ' || p_type || ' ' ||
       |    p_size::VARCHAR || ' ' || ptok), ' ') AS words FROM pt),
       |rw AS (
       |  SELECT p_partkey + 1000000 AS id, string_split(lower(
       |      p_name || ' ' || p_brand || ' ' || p_type || ' ' || ptok),
       |      ' ') AS words
       |    FROM pt WHERE p_partkey % 2 = 0
       |  UNION ALL
       |  SELECT p_partkey + 2000000 AS id, string_split(lower(
       |      p_name || ' ' || p_brand || ' ' || ptok), ' ') AS words
       |    FROM pt WHERE p_partkey % 20 = 0),
       |shl AS (SELECT id, list_distinct(words) AS s FROM lw
       |  WHERE len(words) >= 1),
       |shr AS (SELECT id, list_distinct(words) AS s FROM rw
       |  WHERE len(words) >= 1)""".stripMargin

  /** Base + the 16-seed banding, joint bucket cap (150), and the
    * cross-table candidate join — shared by the unweighted and weighted
    * verify chains. */
  private lazy val fuzzyCandSql: String = {
    val sigs16 = "[" + (1 to 16).map(j =>
      s"list_min(list_transform(s, x -> md5('$j:' || x)))").mkString(", ") + "]"
    s"""$fuzzyBaseSql,
       |sigl AS (SELECT id, $sigs16 AS sigs FROM shl),
       |sigr AS (SELECT id, $sigs16 AS sigs FROM shr),
       |bl AS (SELECT id, band::INT AS band, sigs[band + 1] AS v FROM sigl
       |  CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
       |br AS (SELECT id, band::INT AS band, sigs[band + 1] AS v FROM sigr
       |  CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
       |ok AS (SELECT band, v FROM (SELECT band, v, count(*) AS n
       |    FROM (SELECT * FROM bl UNION ALL SELECT * FROM br)
       |    GROUP BY band, v) WHERE n <= 150),
       |blc AS (SELECT bl.* FROM bl
       |  SEMI JOIN ok ON bl.band = ok.band AND bl.v = ok.v),
       |brc AS (SELECT br.* FROM br
       |  SEMI JOIN ok ON br.band = ok.band AND br.v = ok.v),
       |cand AS (SELECT DISTINCT blc.id AS lid, brc.id AS rid
       |  FROM blc JOIN brc ON blc.band = brc.band AND blc.v = brc.v)""".stripMargin
  }

  private lazy val fuzzySql: String =
    s"""$fuzzyCandSql,
       |j AS (SELECT lid, rid,
       |    len(list_intersect(x.s, y.s))::DOUBLE /
       |    len(list_distinct(list_concat(x.s, y.s))) AS jaccard
       |  FROM cand JOIN shl x ON x.id = cand.lid
       |  JOIN shr y ON y.id = cand.rid),
       |f AS (SELECT * FROM j WHERE jaccard >= 0.6)""".stripMargin

  /** The SERVED-STORE probe chain (catalog side's 60-bit signature law,
    * per-bucket rank cut at cap 8, band-agreement candidates, exact verify
    * at 0.6) ending in `fs(lid, rid, jaccard)` — shared by the pair, top-1,
    * and census store oracles so the three rows restate ONE chain. */
  private lazy val fuzzyStoreSql: String = {
    val sigs60 = "[" + (1 to 16).map(j =>
      s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
      .mkString(",\n       |    ") + "]"
    s"""$fuzzyBaseSql,
       |sigr AS (SELECT id, $sigs60 AS sigs FROM shr),
       |sbr AS (SELECT id, band::INT AS band, sigs[band + 1]::VARCHAR AS v
       |  FROM sigr CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
       |reps AS (SELECT * FROM (SELECT sbr.*, row_number() OVER
       |    (PARTITION BY band, v ORDER BY id) AS rn FROM sbr)
       |  WHERE rn <= 8),
       |sigb AS (SELECT id, $sigs60 AS sigs FROM shl),
       |bb AS (SELECT id, band::INT AS band, sigs[band + 1]::VARCHAR AS v
       |  FROM sigb CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
       |cand AS (SELECT DISTINCT bb.id AS lid, reps.id AS rid
       |  FROM bb JOIN reps ON bb.band = reps.band AND bb.v = reps.v),
       |j AS (SELECT lid, rid,
       |    len(list_intersect(x.s, y.s))::DOUBLE /
       |    len(list_distinct(list_concat(x.s, y.s))) AS jaccard
       |  FROM cand JOIN shl x ON x.id = cand.lid
       |  JOIN shr y ON y.id = cand.rid),
       |fs AS (SELECT lid, rid, jaccard FROM j WHERE jaccard >= 0.6)""".stripMargin
  }

  /** The frozen-vocabulary served weighted probe chain, ending in
    * `fws(lid, rid, wjaccard)` (threshold 0.3) with `shb` = the probe
    * batch — shared by the pair, top-1, and census rows. */
  private lazy val fuzzyWeightedStoreSql: String = {
    val sigs16 = "[" + (1 to 16).map(j =>
      s"list_min(list_transform(s, x -> md5('$j:' || x)))").mkString(", ") + "]"
    s"""$fuzzyBaseSql,
       |vocabr AS (SELECT t, count(*) AS df FROM (
       |    SELECT id, unnest(s) AS t FROM shr) GROUP BY t),
       |vwr AS (SELECT t, ceil(24::DOUBLE / df)::INT AS wk FROM vocabr),
       |exr AS (SELECT e.id, list(e.t || '#' || r.i::VARCHAR) AS s FROM
       |  (SELECT id, unnest(s) AS t FROM shr) e JOIN vwr USING (t),
       |  unnest(range(1, vwr.wk + 1)) AS r(i) GROUP BY e.id),
       |sigr AS (SELECT id, $sigs16 AS sigs FROM exr),
       |sbr AS (SELECT id, band::INT AS band, sigs[band + 1] AS v
       |  FROM sigr CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
       |reps AS (SELECT * FROM (SELECT sbr.*, row_number() OVER
       |    (PARTITION BY band, v ORDER BY id) AS rn FROM sbr)
       |  WHERE rn <= 8),
       |shb AS (SELECT id, s FROM shl WHERE id % 11 = 0),
       |exb AS (SELECT e.id,
       |    list(e.t || '#' || r.i::VARCHAR) AS s FROM
       |  (SELECT id, unnest(s) AS t FROM shb) e LEFT JOIN vwr USING (t),
       |  unnest(range(1, coalesce(vwr.wk, 24) + 1)) AS r(i) GROUP BY e.id),
       |sigb AS (SELECT id, $sigs16 AS sigs FROM exb),
       |bb AS (SELECT id, band::INT AS band, sigs[band + 1] AS v
       |  FROM sigb CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
       |cand AS (SELECT DISTINCT bb.id AS lid, reps.id AS rid
       |  FROM bb JOIN reps ON bb.band = reps.band AND bb.v = reps.v),
       |ptok AS (SELECT lid, rid, u.t AS t,
       |    list_contains(x.s, u.t) AND list_contains(y.s, u.t) AS b
       |  FROM cand JOIN shb x ON x.id = cand.lid
       |  JOIN shr y ON y.id = cand.rid,
       |  unnest(list_distinct(list_concat(x.s, y.s))) AS u(t)),
       |wt AS (SELECT lid, rid, ptok.t AS t,
       |    1::DOUBLE / coalesce(df, 1) AS w, b
       |  FROM ptok LEFT JOIN vocabr ON vocabr.t = ptok.t),
       |es AS (SELECT lid, rid,
       |    list(struct_pack(t := t, w := w, b := b) ORDER BY t) AS es
       |  FROM wt GROUP BY lid, rid),
       |sc AS (SELECT lid, rid,
       |    list_reduce(list_prepend(0::DOUBLE,
       |        list_transform(list_filter(es, e -> e.b), e -> e.w)),
       |      (a, x) -> a + x) /
       |    list_reduce(list_prepend(0::DOUBLE,
       |        list_transform(es, e -> e.w)),
       |      (a, x) -> a + x) AS wjaccard
       |  FROM es),
       |fws AS (SELECT lid, rid, wjaccard FROM sc
       |  WHERE wjaccard >= 0.3)""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "dedup_exact" ->
      """SELECT md5(lower(text)) AS fingerprint, min(doc_id)::BIGINT AS keep_id,
        |  count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,


    // non-overlapping 16-token tiles; first owner by (doc_id, chunk_no) —
    // the same lexicographic order Spark's min(struct(id, chunk_no)) uses
    "dedup_spans" -> Sql.dedupSpansTiled,

    // first-occurrence-per-(doc, line) window over the planted multiline
    // construction; string_agg's CASE skips repeats like collect_list(when)
    "dedup_lines_within" ->
      """WITH h AS (SELECT doc_id, text || chr(10) ||
        |    'subscribe to our newsletter' || chr(10) ||
        |    substr(text, 1, 40) || chr(10) ||
        |    'subscribe to our newsletter' || chr(10) ||
        |    substr(text, 1, 40) AS t FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(string_split(t, chr(10))) + 1),
        |      i -> {'pos': i, 'line': string_split(t, chr(10))[i]}),
        |      recursive := true)
        |  FROM h),
        |r AS (SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        |  FROM l)
        |SELECT doc_id,
        |  string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos)
        |    AS clean_text,
        |  count(*)::INT AS n_lines,
        |  count(CASE WHEN rn > 1 THEN 1 END)::INT AS n_dupes_removed
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    // mirrors dedup_substring_sa: the same constructed fixture text, then
    // BRUTE-FORCE window comparison — every 16-char window, grouped by its
    // literal string; non-first occurrences (global (doc_id, pos) order)
    // union their [i, i+16) cover and merge to islands per doc
    "dedup_substring_sa" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 26),
        |txt AS (SELECT doc_id,
        |  array_to_string(list_transform(range(0, 8 + (doc_id * 3) % 11),
        |    j -> chr(((doc_id * 7 + j * j) % 26 + 97)::INT)), '')
        |  || array_to_string(list_transform(range(0, 24),
        |    j -> chr(((5 * j + 2) % 26 + 97)::INT)), '')
        |  || array_to_string(list_transform(range(0, 10 + (doc_id * 5) % 9),
        |    j -> chr(((doc_id * 7 + (j + 40) * (j + 40)) % 26 + 97)::INT)), '')
        |  AS text FROM d),
        |w AS (SELECT doc_id, unnest(range(0, length(text) - 15)) AS i, text
        |  FROM txt),
        |win AS (SELECT doc_id, i, substr(text, (i + 1)::INT, 16) AS wdw FROM w),
        |firsts AS (SELECT wdw, min(doc_id * 1000 + i) AS firstkey,
        |  count(*) AS n FROM win GROUP BY wdw),
        |dup AS (SELECT win.doc_id, win.i FROM win JOIN firsts USING (wdw)
        |  WHERE firsts.n > 1 AND (win.doc_id * 1000 + win.i) <> firsts.firstkey),
        |cov AS (SELECT DISTINCT doc_id, p FROM (
        |  SELECT doc_id, unnest(range(i, i + 16)) AS p FROM dup)),
        |isl AS (SELECT doc_id, p,
        |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cov)
        |SELECT doc_id, min(p)::BIGINT AS span_start,
        |  (max(p) - min(p) + 1)::BIGINT AS span_len
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,

    // mirrors dedup_substring_real: brute-force 20-char windows over the
    // ACTUAL corpus text; global-first key doc_id*100000 + i (max doc
    // length ≪ 100000) matches the operator's gpos ordering
    "dedup_substring_real" ->
      """WITH w AS (SELECT doc_id, unnest(range(0, length(text) - 19)) AS i,
        |    text FROM documents WHERE length(text) >= 20),
        |win AS (SELECT doc_id, i, substr(text, (i + 1)::INT, 20) AS wdw FROM w),
        |firsts AS (SELECT wdw, min(doc_id * 100000 + i) AS firstkey,
        |  count(*) AS n FROM win GROUP BY wdw),
        |dup AS (SELECT win.doc_id, win.i FROM win JOIN firsts USING (wdw)
        |  WHERE firsts.n > 1 AND (win.doc_id * 100000 + win.i) <> firsts.firstkey),
        |cov AS (SELECT DISTINCT doc_id, p FROM (
        |  SELECT doc_id, unnest(range(i, i + 20)) AS p FROM dup)),
        |isl AS (SELECT doc_id, p,
        |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cov)
        |SELECT doc_id, min(p)::BIGINT AS span_start,
        |  (max(p) - min(p) + 1)::BIGINT AS span_len
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,

    // the hash-keyed form is result-identical to the text-keyed one absent
    // a 64-bit span-hash collision (none at this scale, deterministically),
    // so the same oracle SQL checks it bit-for-bit
    "dedup_spans_hashed" -> Sql.dedupSpansTiled,


    // content-defined tiling: cut after every token whose md5-prefix hash
    // ≡ 0 mod 8 (the same portable tokenHash the Spark side uses), then the
    // identical first-owner + reassembly chain as dedup_spans
    "dedup_spans_anchored" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |b AS (SELECT doc_id, words, list_concat(list_concat(
        |    [0],
        |    list_filter(range(1, len(words) + 1),
        |      i -> ('0x' || substr(md5(words[i]), 1, 8))::BIGINT % 8 = 0)),
        |    [len(words)]) AS bounds FROM w),
        |sp AS (SELECT doc_id, unnest(range(1, len(bounds))) AS pos, words, bounds
        |  FROM b),
        |s0 AS (SELECT doc_id, pos,
        |    array_to_string(words[bounds[pos] + 1 : bounds[pos + 1]], ' ') AS chunk_text
        |  FROM sp),
        |c AS (SELECT doc_id,
        |    (row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1)::INT AS chunk_no,
        |    chunk_text
        |  FROM s0 WHERE chunk_text <> ''),
        |k AS (SELECT doc_id, chunk_no, chunk_text FROM c
        |  QUALIFY row_number() OVER (PARTITION BY chunk_text
        |    ORDER BY doc_id, chunk_no) = 1)
        |SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_no) AS clean_text,
        |  count(*)::BIGINT AS n_spans
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the xxhash64 twin: same constructed fixture restated from the integer
    // formulas; only the cut bounds arrive as the pinned literal table
    // (anchoredFastBounds — computed through the executor's own Catalyst
    // expression), the span slicing + first-owner + reassembly chain is
    // restated independently like dedup_spans_anchored's
    "dedup_spans_anchored_fast" ->
      s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 26),
         |txt AS (SELECT doc_id, list_concat(list_concat(
         |    list_transform(range(0, 3 + (doc_id*3) % 7), j ->
         |      chr(((doc_id*11 + j*7) % 26 + 97)::INT) ||
         |      chr(((doc_id*11 + j*7 + 3) % 26 + 97)::INT) ||
         |      chr(((doc_id*11 + j*7 + 6) % 26 + 97)::INT)),
         |    [${anchoredMotif.map("'" + _ + "'").mkString(", ")}]),
         |    list_transform(range(0, 4 + (doc_id*5) % 6), j ->
         |      chr(((doc_id*11 + (j+50)*7 + 5) % 26 + 97)::INT) ||
         |      chr(((doc_id*11 + (j+50)*7 + 8) % 26 + 97)::INT) ||
         |      chr(((doc_id*11 + (j+50)*7 + 11) % 26 + 97)::INT))) AS words
         |  FROM d),
         |bt(doc_id, bounds) AS (VALUES ${anchoredFastBounds.map {
             case (i, b) => s"($i, [${b.mkString(", ")}])"
           }.mkString(",\n         |  ")}),
         |tb AS (SELECT t.doc_id AS doc_id, words, bounds
         |  FROM txt t JOIN bt USING (doc_id)),
         |sp AS (SELECT doc_id, unnest(range(1, len(bounds))) AS pos,
         |    words, bounds
         |  FROM tb),
         |s0 AS (SELECT doc_id, pos,
         |    array_to_string(list_slice(words, (bounds[pos] + 1)::INT,
         |      bounds[pos + 1]::INT), ' ') AS chunk_text
         |  FROM sp),
         |c AS (SELECT doc_id,
         |    (row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1)::INT AS chunk_no,
         |    chunk_text
         |  FROM s0 WHERE chunk_text <> ''),
         |k AS (SELECT doc_id, chunk_no, chunk_text FROM c
         |  QUALIFY row_number() OVER (PARTITION BY chunk_text
         |    ORDER BY doc_id, chunk_no) = 1)
         |SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_no) AS clean_text,
         |  count(*)::BIGINT AS n_spans
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    // sampled inverted index (hash60 '0x' law), stop-shingle cap,
    // exact-containment verify in ppm
    "dedup_containment" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
         |var AS (SELECT b0.doc_id + 200000 AS doc_id,
         |    array_to_string(list_slice(string_split(b0.text, ' '), 4, 13),
         |      ' ') AS text
         |  FROM base b0),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM var),
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM corpus),
         |sh0 AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM w),
         |sh AS (SELECT doc_id, s FROM sh0 WHERE len(s) > 0),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |samp AS (SELECT doc_id, g FROM ex
         |  WHERE ('0x' || substr(md5('cont:' || g), 1, 15))::BIGINT % 4 = 0),
         |ok AS (SELECT g FROM samp GROUP BY g HAVING count(*) <= 4096),
         |idx AS (SELECT samp.doc_id, samp.g FROM samp JOIN ok USING (g)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id),
         |v AS (SELECT a_id, b_id,
         |    len(list_intersect(x.s, y.s)) AS inter,
         |    len(x.s) AS na, len(y.s) AS nb
         |  FROM cand JOIN sh x ON x.doc_id = cand.a_id
         |  JOIN sh y ON y.doc_id = cand.b_id)
         |SELECT a_id, b_id, inter::INT AS inter, na::INT AS na, nb::INT AS nb,
         |  ((inter::BIGINT * 1000000) // least(na, nb))::BIGINT AS cont_ppm
         |FROM v WHERE (inter::BIGINT * 1000000) // least(na, nb) >= 800000
         |ORDER BY a_id, b_id""".stripMargin,


    // same signature/band law as dedup_minhash, evaluated pair-locally
    // on the planted prefix-variant pairs, bucketed by exact Jaccard
    "dedup_eval" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
         |var AS (SELECT b0.doc_id + 100000 AS doc_id,
         |    array_to_string(list_slice(string_split(b0.text, ' '), 1,
         |      (b0.doc_id % 29 + 2)::INT), ' ') AS text
         |  FROM base b0),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM var),
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM corpus),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM w),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         |sig AS (SELECT doc_id, ${Sql.minhashSigs} AS sigs FROM sh2),
         |bnd AS (SELECT doc_id, ${Sql.minhashBands} AS bands FROM sig),
         |pr AS (SELECT doc_id AS a_id, doc_id + 100000 AS b_id FROM base),
         |ev AS (SELECT
         |    len(list_intersect(x.s, y.s)) AS i,
         |    len(list_distinct(list_concat(x.s, y.s))) AS u,
         |    (ba.bands[1] = bb.bands[1] OR ba.bands[2] = bb.bands[2]
         |     OR ba.bands[3] = bb.bands[3] OR ba.bands[4] = bb.bands[4]) AS det
         |  FROM pr
         |  JOIN sh2 x ON x.doc_id = pr.a_id
         |  JOIN sh2 y ON y.doc_id = pr.b_id
         |  JOIN bnd ba ON ba.doc_id = pr.a_id
         |  JOIN bnd bb ON bb.doc_id = pr.b_id)
         |SELECT ((i * 10) // u)::INT AS jac_decile, count(*)::BIGINT AS n_pairs,
         |  sum(CASE WHEN det THEN 1 ELSE 0 END)::BIGINT AS n_detected,
         |  ((sum(CASE WHEN det THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT
         |    AS detection_ppm
         |FROM ev GROUP BY 1 ORDER BY jac_decile""".stripMargin,


    // the full portable chain under the script-aware token law: fixture →
    // words → shingles → md5 signatures → 2-row bands → exact Jaccard
    "dedup_minhash_cjk" ->
      s"""WITH ${CjkFixture.alphabetsCte},
         |ids AS (SELECT doc_id FROM documents WHERE doc_id < 20),
         |fx AS (SELECT doc_id,
         |    ${CjkFixture.textSql("doc_id", "epsilon")} AS text
         |  FROM ids, a
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |    ${CjkFixture.textSql("doc_id", "zeta")} AS text
         |  FROM ids, a),
         |w AS (SELECT doc_id,
         |    ${graft.ext.Tokenizer.ScriptAware.duckdbTokensSql("text")} AS words
         |  FROM fx),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM w),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         |sig AS (SELECT doc_id, ${Sql.minhashSigs} AS sigs FROM sh2),
         |bands AS (SELECT doc_id, unnest(range(1, 5)) AS band,
         |  unnest(${Sql.minhashBands}) AS v FROM sig),
         |cand AS (SELECT DISTINCT ba.doc_id AS a_id, bb.doc_id AS b_id
         |  FROM bands ba JOIN bands bb ON ba.band = bb.band AND ba.v = bb.v
         |  AND ba.doc_id < bb.doc_id),
         |j AS (SELECT a_id, b_id,
         |  len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
         |  FROM cand JOIN sh2 x ON x.doc_id = cand.a_id JOIN sh2 y ON y.doc_id = cand.b_id)
         |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    // cross-table linkage: the full chain — per-side token sets, the 8-seed
    // md5 signature law, single-row banding, the (band, v) candidate join,
    // exact Jaccard verify at 0.6 — restated over the part fixture
    "dedup_fuzzy_link" ->
      s"""WITH $fuzzySql
         |SELECT lid AS left_id, rid AS right_id, jaccard FROM f
         |ORDER BY left_id, right_id""".stripMargin,

    "dedup_fuzzy_best" ->
      s"""WITH $fuzzySql
         |SELECT left_id, right_id, jaccard, n_matches FROM (
         |  SELECT lid AS left_id, rid AS right_id, jaccard,
         |    row_number() OVER (PARTITION BY lid
         |      ORDER BY jaccard DESC, rid ASC) AS rn,
         |    count(*) OVER (PARTITION BY lid) AS n_matches
         |  FROM f)
         |WHERE rn = 1 ORDER BY left_id""".stripMargin,

    "dedup_fuzzy_census" ->
      s"""WITH $fuzzySql,
         |m AS (SELECT lid, count(*) AS nm FROM f GROUP BY lid)
         |SELECT CASE WHEN nm IS NULL THEN 'unmatched'
         |    WHEN nm = 1 THEN 'matched' ELSE 'ambiguous' END AS status,
         |  count(*) AS n
         |FROM (SELECT lw.id, m.nm FROM lw LEFT JOIN m ON m.lid = lw.id)
         |GROUP BY 1 ORDER BY status""".stripMargin,

    // weighted linkage: df across both tables' token incidences, per-pair
    // union tokens with membership flags, w = 1/df, and BOTH folds (the
    // shared-token numerator and the union denominator) as strict left
    // folds from 0.0 in token-sorted order — bit-identical doubles
    "dedup_fuzzy_weighted" ->
      s"""WITH $fuzzyCandSql,
         |vocab AS (SELECT t, count(*) AS df FROM (
         |    SELECT id, unnest(s) AS t FROM shl
         |    UNION ALL SELECT id, unnest(s) AS t FROM shr) GROUP BY t),
         |ptok AS (SELECT lid, rid, u.t AS t,
         |    list_contains(x.s, u.t) AND list_contains(y.s, u.t) AS b
         |  FROM cand JOIN shl x ON x.id = cand.lid
         |  JOIN shr y ON y.id = cand.rid,
         |  unnest(list_distinct(list_concat(x.s, y.s))) AS u(t)),
         |wt AS (SELECT lid, rid, t, 1::DOUBLE / df AS w, b
         |  FROM ptok JOIN vocab USING (t)),
         |es AS (SELECT lid, rid,
         |    list(struct_pack(t := t, w := w, b := b) ORDER BY t) AS es
         |  FROM wt GROUP BY lid, rid),
         |sc AS (SELECT lid, rid,
         |    list_reduce(list_prepend(0::DOUBLE,
         |        list_transform(list_filter(es, e -> e.b), e -> e.w)),
         |      (a, x) -> a + x) /
         |    list_reduce(list_prepend(0::DOUBLE,
         |        list_transform(es, e -> e.w)),
         |      (a, x) -> a + x) AS wjaccard
         |  FROM es)
         |SELECT lid AS left_id, rid AS right_id, wjaccard FROM sc
         |WHERE wjaccard >= 0.5 ORDER BY left_id, right_id""".stripMargin,

    // served-store linkage: the catalog side's 60-bit signature law with
    // the per-bucket rank cut (cap 8), the batch probe as a band-agreement
    // join against the retained representatives (candidateThreshold 0 —
    // every shared-band pair is a candidate), and the exact token-set
    // verify at 0.6
    "dedup_fuzzy_store" ->
      s"""WITH $fuzzyStoreSql
         |SELECT lid AS left_id, rid AS right_id, jaccard FROM fs
         |ORDER BY left_id, right_id""".stripMargin,

    // the same probe chain with the deterministic top-1 cut — the
    // served-store twin of dedup_fuzzy_best
    "dedup_fuzzy_best_store" ->
      s"""WITH $fuzzyStoreSql
         |SELECT left_id, right_id, jaccard, n_matches FROM (
         |  SELECT lid AS left_id, rid AS right_id, jaccard,
         |    row_number() OVER (PARTITION BY lid
         |      ORDER BY jaccard DESC, rid ASC) AS rn,
         |    count(*) OVER (PARTITION BY lid) AS n_matches
         |  FROM fs)
         |WHERE rn = 1 ORDER BY left_id""".stripMargin,

    // the same probe chain folded to the per-drop funnel census — the
    // served-store twin of dedup_fuzzy_census (unmatched from the full
    // batch side, one aggregate)
    "dedup_fuzzy_census_store" ->
      s"""WITH $fuzzyStoreSql,
         |m AS (SELECT lid, count(*) AS nm FROM fs GROUP BY lid)
         |SELECT CASE WHEN nm IS NULL THEN 'unmatched'
         |    WHEN nm = 1 THEN 'matched' ELSE 'ambiguous' END AS status,
         |  count(*) AS n
         |FROM (SELECT lw.id, m.nm FROM lw LEFT JOIN m ON m.lid = lw.id)
         |GROUP BY 1 ORDER BY status""".stripMargin,

    // BOTH candidate channels restated — 16-seed banding under the joint
    // 150 cap, UNION the rare-token equi-join (df <= 16 across both
    // tables' entity-token incidences) — then the same token-sorted
    // strict-fold weighted verify at 0.5 over the rare-regime fixture
    "dedup_fuzzy_weighted_rare" -> {
      val sigs16 = "[" + (1 to 16).map(j =>
        s"list_min(list_transform(s, x -> md5('$j:' || x)))").mkString(", ") + "]"
      s"""WITH pt AS (SELECT *,
         |    'p' || round(p_retailprice * 10)::BIGINT::VARCHAR AS ptok
         |  FROM part),
         |lw AS (SELECT p_partkey AS id, string_split(lower(
         |    p_name || ' ' || p_brand || ' ' || p_type || ' ' ||
         |    p_size::VARCHAR || ' ' || ptok), ' ') AS words FROM pt),
         |rw AS (SELECT p_partkey + 3000000 AS id, string_split(lower(
         |    'invoice acct' || (p_partkey % 3)::VARCHAR ||
         |    ' region' || (p_partkey % 7)::VARCHAR || ' ' || ptok),
         |    ' ') AS words
         |  FROM pt WHERE p_partkey % 2 = 0),
         |shl AS (SELECT id, list_distinct(words) AS s FROM lw
         |  WHERE len(words) >= 1),
         |shr AS (SELECT id, list_distinct(words) AS s FROM rw
         |  WHERE len(words) >= 1),
         |vocab AS (SELECT t, count(*) AS df FROM (
         |    SELECT id, unnest(s) AS t FROM shl
         |    UNION ALL SELECT id, unnest(s) AS t FROM shr) GROUP BY t),
         |sigl AS (SELECT id, $sigs16 AS sigs FROM shl),
         |sigr AS (SELECT id, $sigs16 AS sigs FROM shr),
         |bl AS (SELECT id, band::INT AS band, sigs[band + 1] AS v FROM sigl
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
         |br AS (SELECT id, band::INT AS band, sigs[band + 1] AS v FROM sigr
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
         |ok AS (SELECT band, v FROM (SELECT band, v, count(*) AS n
         |    FROM (SELECT * FROM bl UNION ALL SELECT * FROM br)
         |    GROUP BY band, v) WHERE n <= 150),
         |blc AS (SELECT bl.* FROM bl
         |  SEMI JOIN ok ON bl.band = ok.band AND bl.v = ok.v),
         |brc AS (SELECT br.* FROM br
         |  SEMI JOIN ok ON br.band = ok.band AND br.v = ok.v),
         |candb AS (SELECT DISTINCT blc.id AS lid, brc.id AS rid
         |  FROM blc JOIN brc ON blc.band = brc.band AND blc.v = brc.v),
         |rare AS (SELECT t FROM vocab WHERE df <= 16),
         |tl AS (SELECT a.id, a.t FROM
         |  (SELECT id, unnest(s) AS t FROM shl) a SEMI JOIN rare USING (t)),
         |tr AS (SELECT b.id, b.t FROM
         |  (SELECT id, unnest(s) AS t FROM shr) b SEMI JOIN rare USING (t)),
         |cand AS (SELECT lid, rid FROM candb
         |  UNION SELECT DISTINCT tl.id AS lid, tr.id AS rid
         |    FROM tl JOIN tr ON tl.t = tr.t),
         |ptok AS (SELECT lid, rid, u.t AS t,
         |    list_contains(x.s, u.t) AND list_contains(y.s, u.t) AS b
         |  FROM cand JOIN shl x ON x.id = cand.lid
         |  JOIN shr y ON y.id = cand.rid,
         |  unnest(list_distinct(list_concat(x.s, y.s))) AS u(t)),
         |wt AS (SELECT lid, rid, t, 1::DOUBLE / df AS w, b
         |  FROM ptok JOIN vocab USING (t)),
         |es AS (SELECT lid, rid,
         |    list(struct_pack(t := t, w := w, b := b) ORDER BY t) AS es
         |  FROM wt GROUP BY lid, rid),
         |sc AS (SELECT lid, rid,
         |    list_reduce(list_prepend(0::DOUBLE,
         |        list_transform(list_filter(es, e -> e.b), e -> e.w)),
         |      (a, x) -> a + x) /
         |    list_reduce(list_prepend(0::DOUBLE,
         |        list_transform(es, e -> e.w)),
         |      (a, x) -> a + x) AS wjaccard
         |  FROM es)
         |SELECT lid AS left_id, rid AS right_id, wjaccard FROM sc
         |WHERE wjaccard >= 0.5 ORDER BY left_id, right_id""".stripMargin
    },

    // the SERVED weighted form: catalog-frozen df (shr alone), the
    // ceil(24/df) expansion on both sides (batch-unseen tokens → 24
    // replicas), store rank-8 bucket cap, probe banding, frozen-weight
    // token-sorted fold at 0.3
    "dedup_fuzzy_weighted_served" ->
      s"""WITH $fuzzyWeightedStoreSql
         |SELECT lid AS left_id, rid AS right_id, wjaccard FROM fws
         |ORDER BY left_id, right_id""".stripMargin,

    // the frozen-law probe + the deterministic top-1 cut
    "dedup_fuzzy_weighted_best_served" ->
      s"""WITH $fuzzyWeightedStoreSql
         |SELECT left_id, right_id, wjaccard, n_matches FROM (
         |  SELECT lid AS left_id, rid AS right_id, wjaccard,
         |    row_number() OVER (PARTITION BY lid
         |      ORDER BY wjaccard DESC, rid ASC) AS rn,
         |    count(*) OVER (PARTITION BY lid) AS n_matches
         |  FROM fws)
         |WHERE rn = 1 ORDER BY left_id""".stripMargin,

    // the frozen-law probe folded to the per-drop funnel census
    "dedup_fuzzy_weighted_census_served" ->
      s"""WITH $fuzzyWeightedStoreSql,
         |m AS (SELECT lid, count(*) AS nm FROM fws GROUP BY lid)
         |SELECT CASE WHEN nm IS NULL THEN 'unmatched'
         |    WHEN nm = 1 THEN 'matched' ELSE 'ambiguous' END AS status,
         |  count(*) AS n
         |FROM (SELECT shb.id, m.nm FROM shb LEFT JOIN m ON m.lid = shb.id)
         |GROUP BY 1 ORDER BY status""".stripMargin,


    // the weighted SAMPLER row: same fixture/verify as _rare, candidates
    // from banding over the ceil(24/df)-replicated token sets (no rareDf)
    "dedup_fuzzy_weighted_cws" -> {
      val sigs16 = "[" + (1 to 16).map(j =>
        s"list_min(list_transform(s, x -> md5('$j:' || x)))").mkString(", ") + "]"
      s"""WITH pt AS (SELECT *,
         |    'p' || round(p_retailprice * 10)::BIGINT::VARCHAR AS ptok
         |  FROM part),
         |lw AS (SELECT p_partkey AS id, string_split(lower(
         |    p_name || ' ' || p_brand || ' ' || p_type || ' ' ||
         |    p_size::VARCHAR || ' ' || ptok), ' ') AS words FROM pt),
         |rw AS (SELECT p_partkey + 3000000 AS id, string_split(lower(
         |    'invoice acct' || (p_partkey % 3)::VARCHAR ||
         |    ' region' || (p_partkey % 7)::VARCHAR || ' ' || ptok),
         |    ' ') AS words
         |  FROM pt WHERE p_partkey % 2 = 0),
         |shl AS (SELECT id, list_distinct(words) AS s FROM lw
         |  WHERE len(words) >= 1),
         |shr AS (SELECT id, list_distinct(words) AS s FROM rw
         |  WHERE len(words) >= 1),
         |vocab AS (SELECT t, count(*) AS df FROM (
         |    SELECT id, unnest(s) AS t FROM shl
         |    UNION ALL SELECT id, unnest(s) AS t FROM shr) GROUP BY t),
         |vw AS (SELECT t, ceil(24::DOUBLE / df)::INT AS wk FROM vocab),
         |exl AS (SELECT e.id, list(e.t || '#' || r.i::VARCHAR) AS s FROM
         |  (SELECT id, unnest(s) AS t FROM shl) e JOIN vw USING (t),
         |  unnest(range(1, vw.wk + 1)) AS r(i) GROUP BY e.id),
         |exr AS (SELECT e.id, list(e.t || '#' || r.i::VARCHAR) AS s FROM
         |  (SELECT id, unnest(s) AS t FROM shr) e JOIN vw USING (t),
         |  unnest(range(1, vw.wk + 1)) AS r(i) GROUP BY e.id),
         |sigl AS (SELECT id, $sigs16 AS sigs FROM exl),
         |sigr AS (SELECT id, $sigs16 AS sigs FROM exr),
         |bl AS (SELECT id, band::INT AS band, sigs[band + 1] AS v FROM sigl
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
         |br AS (SELECT id, band::INT AS band, sigs[band + 1] AS v FROM sigr
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
         |ok AS (SELECT band, v FROM (SELECT band, v, count(*) AS n
         |    FROM (SELECT * FROM bl UNION ALL SELECT * FROM br)
         |    GROUP BY band, v) WHERE n <= 150),
         |blc AS (SELECT bl.* FROM bl
         |  SEMI JOIN ok ON bl.band = ok.band AND bl.v = ok.v),
         |brc AS (SELECT br.* FROM br
         |  SEMI JOIN ok ON br.band = ok.band AND br.v = ok.v),
         |cand AS (SELECT DISTINCT blc.id AS lid, brc.id AS rid
         |  FROM blc JOIN brc ON blc.band = brc.band AND blc.v = brc.v),
         |ptok AS (SELECT lid, rid, u.t AS t,
         |    list_contains(x.s, u.t) AND list_contains(y.s, u.t) AS b
         |  FROM cand JOIN shl x ON x.id = cand.lid
         |  JOIN shr y ON y.id = cand.rid,
         |  unnest(list_distinct(list_concat(x.s, y.s))) AS u(t)),
         |wt AS (SELECT lid, rid, t, 1::DOUBLE / df AS w, b
         |  FROM ptok JOIN vocab USING (t)),
         |es AS (SELECT lid, rid,
         |    list(struct_pack(t := t, w := w, b := b) ORDER BY t) AS es
         |  FROM wt GROUP BY lid, rid),
         |sc AS (SELECT lid, rid,
         |    list_reduce(list_prepend(0::DOUBLE,
         |        list_transform(list_filter(es, e -> e.b), e -> e.w)),
         |      (a, x) -> a + x) /
         |    list_reduce(list_prepend(0::DOUBLE,
         |        list_transform(es, e -> e.w)),
         |      (a, x) -> a + x) AS wjaccard
         |  FROM es)
         |SELECT lid AS left_id, rid AS right_id, wjaccard FROM sc
         |WHERE wjaccard >= 0.5 ORDER BY left_id, right_id""".stripMargin
    },

    "dedup_minhash" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM w),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         |sig AS (SELECT doc_id, ${Sql.minhashSigs} AS sigs FROM sh2),
         |bands AS (SELECT doc_id, unnest(range(1, 5)) AS band,
         |  unnest(${Sql.minhashBands}) AS v FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.v = b.v
         |  AND a.doc_id < b.doc_id),
         |j AS (SELECT a_id, b_id,
         |  len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
         |  FROM cand JOIN sh2 x ON x.doc_id = cand.a_id JOIN sh2 y ON y.doc_id = cand.b_id)
         |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,


    // TRUE pair set via exhaustive pair scan — the fast path's xxhash64 LSH
    // is not reproduced here, only its contract: every jaccard>=0.5 pair.
    "dedup_minhash_fast" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM w),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "curation_pipeline" ->
      s"""WITH RECURSIVE
         |${Sql.curationCtes()}
         |SELECT doc_id FROM docs0
         |WHERE doc_id NOT IN (SELECT s FROM losers)
         |  AND ${Sql.curationQualityPred}
         |ORDER BY doc_id""".stripMargin,

    // the same recursive chain with the words law swapped for the
    // script-aware tokenizer, over the constructed mixed-script corpus
    "curation_pipeline_cjk" -> {
      val saWords = graft.ext.Tokenizer.ScriptAware.duckdbTokensSql("text")
      s"""WITH RECURSIVE
         |${CjkFixture.alphabetsCte},
         |ids AS (SELECT doc_id FROM documents WHERE doc_id < 20),
         |cjkdocs AS (
         |  SELECT doc_id, ${CjkFixture.textSql("doc_id", "epsilon")} AS text
         |  FROM ids, a
         |  UNION ALL
         |  SELECT doc_id + 100000, ${CjkFixture.textSql("doc_id", "zeta")}
         |  FROM ids, a
         |  UNION ALL
         |  SELECT doc_id, ${CjkFixture.shortTextSql("doc_id")}
         |  FROM documents, a WHERE doc_id >= 20 AND doc_id < 30),
         |${Sql.curationCtes(src = "cjkdocs", wordsExpr = saWords)}
         |SELECT doc_id FROM docs0
         |WHERE doc_id NOT IN (SELECT s FROM losers)
         |  AND len($saWords) >= 10
         |  AND ${Sql.markerCountOver(CatalogShared.stopwords, saWords)}::DOUBLE
         |    / len($saWords) <= 0.25
         |ORDER BY doc_id""".stripMargin
    },

    // BOTH pipelines restated in one statement (suffixed CTE chains): the
    // raw chain runs the chrome'd html straight through dedup; the
    // extracted chain first restates Extract's block split + integer-exact
    // word/link-density rule, then the same chain over the extracted text.
    "curation_pipeline_extracted" -> {
      def plain(x: String) =
        s"trim(regexp_replace(regexp_replace($x, '(?i)<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"
      def nw(x: String) =
        s"(CASE WHEN ${plain(x)} = '' THEN 0 ELSE len(string_split(${plain(x)}, ' ')) END)"
      val linkChars = "coalesce(list_sum(list_transform(" +
        "regexp_extract_all(x, '(?is)<a(?:\\s[^>]*)?>(.*?)</a>', 1), " +
        s"t -> length(${plain("t")}))), 0)"
      val blockTag = "(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|table|tr|td|th|" +
        "section|article|header|footer|nav|aside|blockquote|html|body|" +
        "head|title)(?:\\s[^>]*)?/?>"
      val keepf = s"list_filter(string_split_regex(text, '$blockTag'), " +
        s"x -> ${nw("x")} >= 5 AND 3 * $linkChars <= length(${plain("x")}))"
      s"""WITH RECURSIVE
         |pages AS (SELECT doc_id,
         |    '<div><a href="/">Home</a> <a href="/n">News from the h' ||
         |    (doc_id % 7)::VARCHAR || ' portal desk</a> ' ||
         |    '<a href="/w">Weather maps and forecasts for every region</a> ' ||
         |    '<a href="/s">Sports scores tables and match reports</a> ' ||
         |    '<a href="/f">Finance markets currencies and exchange rates</a> ' ||
         |    '<a href="/t">Travel guides hotels and flight deals</a> ' ||
         |    '<a href="/m">Music film and entertainment reviews</a> ' ||
         |    '<a href="/e">Education courses and exam resources</a></div>' ||
         |    '<p>' || substr(text, 1, 400) || '</p>' ||
         |    '<div>Copyright 2017 the h' || (doc_id % 7)::VARCHAR ||
         |    ' portal network <a href="/terms">Terms of service</a> ' ||
         |    '<a href="/privacy">Privacy policy and cookie settings</a> ' ||
         |    '<a href="/contact">Contact the editorial desk</a></div>' AS text
         |  FROM documents WHERE doc_id % 4 = 3),
         |xp AS (SELECT doc_id,
         |    array_to_string(list_transform($keepf, x -> ${plain("x")}),
         |      chr(10)) AS text
         |  FROM pages WHERE len($keepf) >= 1),
         |${Sql.curationCtes("pages", "_r", "0.35")},
         |${Sql.curationCtes("xp", "_x", "0.35")},
         |rs AS (SELECT doc_id FROM docs0_r
         |  WHERE doc_id NOT IN (SELECT s FROM losers_r)
         |    AND ${Sql.curationQualityPred}),
         |es AS (SELECT doc_id FROM docs0_x
         |  WHERE doc_id NOT IN (SELECT s FROM losers_x)
         |    AND ${Sql.curationQualityPred})
         |SELECT 'raw' AS variant, 'h' || (doc_id % 7)::VARCHAR AS host,
         |  count(*)::BIGINT AS n_survivors, sum(doc_id)::BIGINT AS sum_id
         |FROM rs GROUP BY 2
         |UNION ALL
         |SELECT 'extracted' AS variant, 'h' || (doc_id % 7)::VARCHAR AS host,
         |  count(*)::BIGINT AS n_survivors, sum(doc_id)::BIGINT AS sum_id
         |FROM es GROUP BY 2
         |ORDER BY variant, host""".stripMargin
    },


    // volume, language breadth, global dup membership, classifier pass
    // rate — the classifier arithmetic restated once more as a gate
    "curation_datacard" ->
      """WITH st AS (SELECT source, lang,
        |    len(string_split(text, ' '))::BIGINT AS n_tok,
        |    md5(lower(text)) AS fp,
        |    CASE WHEN coalesce(list_sum(list_transform(
        |        (SELECT list_concat(toks,
        |           CASE WHEN len(toks) >= 2
        |             THEN list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])
        |             ELSE []::VARCHAR[] END)
        |         FROM (SELECT list_filter(string_split(lower(text), ' '),
        |           t -> t <> '') AS toks)),
        |        t -> ((('0x' || substr(md5(t || 'qc'), 1, 8))::BIGINT % 4096)
        |          * 1103515245 + 12345) % 2001 - 1000)), 0) > 0
        |      THEN 1 ELSE 0 END::BIGINT AS pos
        |  FROM documents),
        |dup AS (SELECT fp FROM st GROUP BY fp HAVING count(*) >= 2)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(n_tok)::BIGINT AS n_tokens,
        |  count(DISTINCT lang)::BIGINT AS n_langs,
        |  sum(CASE WHEN st.fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END)::BIGINT
        |    AS n_dup_docs,
        |  sum(pos)::BIGINT AS n_quality_pos
        |FROM st GROUP BY source ORDER BY source""".stripMargin,


    // every stage of the one-row recipe restated: the shared curation CTE
    // chain, then the classifier's feature-hash arithmetic as a gate, then
    // the floor+hash epoch multiset — a drift in ANY stage hash-fails
    "curation_recipe_e2e" ->
      s"""WITH RECURSIVE
         |${Sql.curationCtes()},
         |surv AS (SELECT doc_id, text FROM docs0
         |  WHERE doc_id NOT IN (SELECT s FROM losers)
         |    AND ${Sql.curationQualityPred}),
         |survs AS (SELECT surv.doc_id, surv.text, d.source
         |  FROM surv JOIN documents d ON d.doc_id = surv.doc_id),
         |tok AS (SELECT doc_id, source,
         |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         |  FROM survs),
         |f AS (SELECT doc_id, source, list_concat(toks,
         |    CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])
         |      ELSE []::VARCHAR[] END) AS feats
         |  FROM tok),
         |sc AS (SELECT doc_id, source,
         |    coalesce(list_sum(list_transform(feats, t ->
         |      ((('0x' || substr(md5(t || 'qc'), 1, 8))::BIGINT % 4096)
         |        * 1103515245 + 12345) % 2001 - 1000)), 0)::BIGINT AS score_fp
         |  FROM f),
         |kept AS (SELECT doc_id, source FROM sc WHERE score_fp > 0),
         |e AS (SELECT doc_id, source,
         |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 2.0
         |         WHEN 'src2' THEN 0.75 ELSE 1.0 END AS ep
         |  FROM kept),
         |n AS (SELECT doc_id, source,
         |    (floor(ep) + CASE WHEN ${Sql.unitHash("doc_id::VARCHAR", "ep")} < ep - floor(ep)
         |       THEN 1 ELSE 0 END)::INT AS nc
         |  FROM e)
         |SELECT doc_id, source, unnest(generate_series(1, nc))::INT AS copy_no
         |FROM n WHERE nc >= 1 ORDER BY doc_id, copy_no""".stripMargin,


    // quality-priority survivor policy: losers = cluster members minus each
    // cluster's (quality DESC, doc_id ASC) best; quality = regex word count
    // over the exact-dedup survivors, exactly as the Spark side computes it
    "curation_pipeline_quality" ->
      s"""WITH RECURSIVE
         |${Sql.curationCtes()},
         |cl AS (SELECT s AS doc_id, least(s, min(t)) AS rep FROM reach GROUP BY s),
         |q AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z]+')) AS q FROM docs0),
         |surv AS (SELECT doc_id FROM (
         |  SELECT cl.doc_id, row_number() OVER (PARTITION BY cl.rep
         |    ORDER BY q.q DESC, cl.doc_id ASC) AS rk
         |  FROM cl JOIN q USING (doc_id)) WHERE rk = 1),
         |qlosers AS (SELECT doc_id AS s FROM cl
         |  WHERE doc_id NOT IN (SELECT doc_id FROM surv))
         |SELECT doc_id FROM docs0
         |WHERE doc_id NOT IN (SELECT s FROM qlosers)
         |  AND ${Sql.curationQualityPred}
         |ORDER BY doc_id""".stripMargin,

    "curation_pipeline_incremental" ->
      s"""WITH RECURSIVE
         |${Sql.curationCtes("""(SELECT d.doc_id, d.text FROM documents d
           |  WHERE d.doc_id % 10 >= 7 AND NOT EXISTS (
           |    SELECT 1 FROM documents h WHERE h.doc_id % 10 < 7
           |    AND md5(lower(h.text)) = md5(lower(d.text))))""".stripMargin)}
         |SELECT doc_id FROM docs0
         |WHERE doc_id NOT IN (SELECT s FROM losers)
         |  AND ${Sql.curationQualityPred}
         |ORDER BY doc_id""".stripMargin,

    "curation_funnel" ->
      s"""WITH RECURSIVE
         |${Sql.curationCtes()}
         |SELECT '0_input' AS stage, (SELECT count(*) FROM documents)::BIGINT AS n_docs
         |UNION ALL
         |SELECT '1_exact_dedup', (SELECT count(*) FROM docs0)::BIGINT
         |UNION ALL
         |SELECT '2_neardup_dedup',
         |  ((SELECT count(*) FROM docs0) - (SELECT count(*) FROM losers))::BIGINT
         |UNION ALL
         |SELECT '3_quality_gate', (SELECT count(*) FROM docs0
         |  WHERE doc_id NOT IN (SELECT s FROM losers)
         |    AND ${Sql.curationQualityPred})::BIGINT
         |UNION ALL
         |SELECT '5_scrubbed', (SELECT count(*) FROM docs0
         |  WHERE doc_id NOT IN (SELECT s FROM losers)
         |    AND ${Sql.curationQualityPred})::BIGINT
         |ORDER BY stage""".stripMargin,


    // same fingerprint idiom as text_fingerprint's canon_fp
    "curation_source_overlap" ->
      """WITH fp AS (SELECT DISTINCT source AS src,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(lower(text), ' '))), ' ')) AS fp
        |  FROM documents)
        |SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS n_common
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    "dedup_clusters" -> Sql.dedupClustersCc,


    // identical reachability oracle: the star-alternation row must produce
    // the exact same component labeling as the union-find row
    "dedup_clusters_star" -> Sql.dedupClustersCc,


    // same reachability CTE as dedup_clusters, then the survivor choice
    // restated as a rank window (quality DESC, doc_id ASC) — the Spark side
    // computes the identical row via partial-aggregating max(struct)
    "dedup_survivors_quality" ->
      s"""WITH RECURSIVE
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM w),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         |sig AS (SELECT doc_id, ${Sql.minhashSigs} AS sigs FROM sh2),
         |bands AS (SELECT doc_id, unnest(range(1, 5)) AS band,
         |  unnest(${Sql.minhashBands}) AS v FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.v = b.v
         |  AND a.doc_id < b.doc_id),
         |pairs AS (SELECT a_id, b_id FROM (
         |  SELECT a_id, b_id,
         |    len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
         |  FROM cand JOIN sh2 x ON x.doc_id = cand.a_id JOIN sh2 y ON y.doc_id = cand.b_id)
         |  WHERE jaccard >= 0.5),
         |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(s, t) AS (SELECT s, t FROM edges
         |  UNION SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
         |cl AS (SELECT s AS doc_id, least(s, min(t)) AS rep FROM reach GROUP BY s),
         |q AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z]+'))::BIGINT AS q FROM documents)
         |SELECT rep::BIGINT AS rep, doc_id::BIGINT AS survivor_id, q::BIGINT AS quality FROM (
         |  SELECT cl.rep, cl.doc_id, q.q,
         |    row_number() OVER (PARTITION BY cl.rep ORDER BY q.q DESC, cl.doc_id ASC) AS rk
         |  FROM cl JOIN q USING (doc_id))
         |WHERE rk = 1 ORDER BY rep""".stripMargin,

    "dedup_simhash" ->
      s"""SELECT doc_id, (${Sql.simhashBits})::BIGINT AS simhash FROM (
         |  SELECT doc_id, list_distinct(list_transform(
         |    string_split(lower(text), ' '),
         |    tk -> ('0x' || substr(md5(tk), 1, 8))::BIGINT)) AS hs
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,


    // exhaustive scan — the banded Spark plan is provably recall-1 for
    // hamming <= 3, so the true pair set IS its contract
    "dedup_simhash_pairs" ->
      s"""WITH f AS (
         |  SELECT doc_id, (${Sql.simhashBits})::BIGINT AS simhash FROM (
         |    SELECT doc_id, list_distinct(list_transform(
         |      string_split(lower(text), ' '),
         |      tk -> ('0x' || substr(md5(tk), 1, 8))::BIGINT)) AS hs
         |    FROM documents))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_simhash_pairs_wide" ->
      s"""WITH f AS (
         |  SELECT doc_id, (${Sql.simhashBitsN(60)})::BIGINT AS simhash FROM (
         |    SELECT doc_id, list_distinct(list_transform(
         |      string_split(lower(text), ' '),
         |      tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT)) AS hs
         |    FROM documents))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_ngram" ->
      s"""WITH c AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
         |sh AS (SELECT doc_id, lang, ${Sql.charShingles4} AS s FROM c),
         |sh2 AS (SELECT doc_id, lang, s FROM sh WHERE len(s) > 0)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |FROM sh2 a JOIN sh2 b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,


    // exhaustive exact restatement: the prefix filter is a Spark-side
    // optimization with a no-false-negative theorem, so the oracle checks
    // the SEMANTICS (all qualifying pairs) against a full quadratic scan
    "dedup_jaccard_prefix" ->
      """WITH w AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |      t -> len(t) > 0)) AS ts
        |  FROM documents),
        |w2 AS (SELECT doc_id, ts FROM w WHERE len(ts) > 0)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.ts, b.ts))::BIGINT AS inter_cnt,
        |  (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))::BIGINT AS union_cnt
        |FROM w2 a JOIN w2 b ON a.doc_id < b.doc_id
        |WHERE 2 * len(list_intersect(a.ts, b.ts))
        |  >= (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
        |ORDER BY a_id, b_id""".stripMargin,


    // the (length bucket × first token) block restated as a two-condition
    // equi-join — injective vs the Spark side's "len|tok" key (the int
    // component cannot contain the '|' delimiter)
    "dedup_editdist" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  levenshtein(a.text, b.text)::INT AS edit_dist
        |FROM documents a JOIN documents b
        |  ON (length(a.text) // 50) = (length(b.text) // 50)
        |  AND string_split(a.text, ' ')[1] = string_split(b.text, ' ')[1]
        |  AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 50
        |ORDER BY a_id, b_id""".stripMargin,

    "dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) >= 0.4
         |ORDER BY a_id, b_id""".stripMargin,


    // mirrors Similarity.semanticDedup: centroids = 8 lowest-id vectors,
    // cell = argmax cosine (desc score, asc cent_id tie-break, null→-2),
    // dup = any lower-id cell-mate at cosine >= 0.4
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
         |sc AS (SELECT e.vec_id, e.v, c.cent_id,
         |    coalesce(${Sql.dot("e.v", "c.cv")} /
         |      (sqrt(${Sql.dot("e.v", "e.v")}) * sqrt(${Sql.dot("c.cv", "c.cv")})),
         |      -2.0) AS score
         |  FROM e CROSS JOIN c),
         |asn AS (SELECT vec_id, v, cent_id AS cell FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY score DESC, cent_id) = 1),
         |d AS (SELECT DISTINCT b.vec_id AS id FROM asn a JOIN asn b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${Sql.dot("a.v", "b.v")} /
         |    (sqrt(${Sql.dot("a.v", "a.v")}) * sqrt(${Sql.dot("b.v", "b.v")})) >= 0.4)
         |SELECT asn.vec_id AS id, asn.cell, (d.id IS NOT NULL) AS is_dup
         |FROM asn LEFT JOIN d ON d.id = asn.vec_id
         |ORDER BY id""".stripMargin,

    "dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  (${Sql.signBucket6})::BIGINT AS bucket FROM embeddings),
         |n AS (SELECT vec_id, v, bucket, sqrt(${Sql.dot("v", "v")}) AS nm FROM e)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
         |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) >= 0.3
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_embedding_lsh_mp" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  (${Sql.signBucket6})::BIGINT AS bucket FROM embeddings),
         |n AS (SELECT vec_id, v, bucket, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |pr AS (SELECT vec_id, v, nm,
         |  unnest(list_concat([bucket],
         |    list_transform(range(0, 6), i -> xor(bucket, 1::BIGINT << i)))) AS pbucket
         |  FROM n)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
         |FROM pr a JOIN n b ON a.pbucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) >= 0.3
         |ORDER BY a_id, b_id""".stripMargin,


    // single-bit-flip probe UNION rotated second bucketing (dims 7-12);
    // UNION is set-semantics, deduplicating pairs found by both branches
    // (scores are bit-identical: same strict left fold)
    "dedup_embedding_lsh_rot" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  (${Sql.signBucket6})::BIGINT AS bucket,
         |  (${Sql.signBucket6At(6)})::BIGINT AS rbucket FROM embeddings),
         |n AS (SELECT vec_id, v, bucket, rbucket, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |pr AS (SELECT vec_id, v, nm,
         |  unnest(list_concat([bucket],
         |    list_transform(range(0, 6), i -> xor(bucket, 1::BIGINT << i)))) AS pbucket
         |  FROM n)
         |SELECT a_id, b_id, score FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
         |  FROM pr a JOIN n b ON a.pbucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) >= 0.3
         |  UNION
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
         |  FROM n a JOIN n b ON a.rbucket = b.rbucket AND a.vec_id < b.vec_id
         |  WHERE ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) >= 0.3)
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_incremental" ->
      """WITH fp AS (SELECT doc_id, md5(lower(text)) AS fingerprint
        |  FROM documents),
        |hist AS (SELECT fingerprint FROM fp WHERE doc_id % 10 < 7)
        |SELECT doc_id, fingerprint FROM fp b
        |WHERE doc_id % 10 >= 7
        |  AND NOT EXISTS (SELECT 1 FROM hist h
        |                  WHERE h.fingerprint = b.fingerprint)
        |ORDER BY doc_id""".stripMargin,

    // the keyed-md5 60-bit signature law, serialized like the Spark side
    "dedup_sig_store" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents WHERE doc_id % 10 < 7),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0)
         |SELECT doc_id AS id, array_to_string([${(1 to 16).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |  ")}], ',') AS sig_s
         |FROM sh ORDER BY id""".stripMargin,

    // all-pairs batch×store agreement filter over the same signature law
    // (1-row bands: a shared bucket is implied by n_agree >= 8)
    "dedup_near_incremental" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0),
         |sig AS (SELECT doc_id, [${(1 to 16).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |    ")}] AS sigs FROM sh),
         |p AS (SELECT b.doc_id AS batch_id, s.doc_id AS store_id,
         |    len(list_filter(range(1, 17), i -> b.sigs[i] = s.sigs[i]))::INT AS n_agree
         |  FROM sig b JOIN sig s
         |    ON b.doc_id % 10 >= 7 AND s.doc_id % 10 < 7)
         |SELECT batch_id, store_id, n_agree,
         |  n_agree::DOUBLE / 16 AS est_jaccard
         |FROM p WHERE n_agree >= 8 ORDER BY batch_id, store_id""".stripMargin,

    // the 8-hash signature law banded one row per hash position, each
    // bucket cut to its 2 lowest ids by rank
    "dedup_store_banded" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents WHERE doc_id % 10 < 7),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0),
         |sig AS (SELECT doc_id, [${(1 to 8).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |    ")}] AS sigs FROM sh),
         |b AS (SELECT band::INT AS band, sigs[band + 1]::VARCHAR AS v,
         |    doc_id AS store_id, array_to_string(sigs, ',') AS sig_s
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band)),
         |r AS (SELECT *, row_number() OVER
         |    (PARTITION BY band, v ORDER BY store_id) AS rn FROM b)
         |SELECT band, v, store_id, sig_s FROM r WHERE rn <= 2
         |ORDER BY band, v, store_id""".stripMargin,

    // sidecar-served store: representatives = rank over id per bucket
    // (cap 2) across the first 70%; probe = banded agreement of the rest
    // (the sidecar itself is metadata — the probe's RESULT is what the
    // geometry round-trip must leave identical to a direct-parameter call)
    "dedup_store_probe_meta" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0),
         |sig AS (SELECT doc_id, [${(1 to 16).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |    ")}] AS sigs FROM sh),
         |sb AS (SELECT doc_id, band, sigs[band + 1]::VARCHAR AS v, sigs
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band)
         |  WHERE doc_id % 10 < 7),
         |reps AS (SELECT * FROM (SELECT sb.*, row_number() OVER
         |    (PARTITION BY band, v ORDER BY doc_id) AS rn FROM sb)
         |  WHERE rn <= 2),
         |bb AS (SELECT doc_id, band, sigs[band + 1]::VARCHAR AS v, sigs
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band)
         |  WHERE doc_id % 10 >= 7),
         |p AS (SELECT DISTINCT b.doc_id AS batch_id, r.doc_id AS store_id,
         |    len(list_filter(range(1, 17), i -> b.sigs[i] = r.sigs[i]))::INT
         |      AS n_agree
         |  FROM bb b JOIN reps r ON b.band = r.band AND b.v = r.v)
         |SELECT batch_id, store_id, n_agree,
         |  n_agree::DOUBLE / 16 AS est_jaccard
         |FROM p WHERE n_agree >= 8 ORDER BY batch_id, store_id""".stripMargin,

    // representatives = rank over (arrival phase, id) per bucket (cap 2);
    // probe = banded agreement join of the last 30% against them
    "dedup_near_banded_append" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0),
         |sig AS (SELECT doc_id, [${(1 to 16).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |    ")}] AS sigs FROM sh),
         |sb AS (SELECT doc_id, CASE WHEN doc_id % 10 < 5 THEN 0 ELSE 1 END
         |    AS phase, band, sigs[band + 1]::VARCHAR AS v, sigs
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band)
         |  WHERE doc_id % 10 < 7),
         |reps AS (SELECT * FROM (SELECT sb.*, row_number() OVER
         |    (PARTITION BY band, v ORDER BY phase, doc_id) AS rn FROM sb)
         |  WHERE rn <= 2),
         |bb AS (SELECT doc_id, band, sigs[band + 1]::VARCHAR AS v, sigs
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band)
         |  WHERE doc_id % 10 >= 7),
         |p AS (SELECT DISTINCT b.doc_id AS batch_id, r.doc_id AS store_id,
         |    len(list_filter(range(1, 17), i -> b.sigs[i] = r.sigs[i]))::INT
         |      AS n_agree
         |  FROM bb b JOIN reps r ON b.band = r.band AND b.v = r.v)
         |SELECT batch_id, store_id, n_agree,
         |  n_agree::DOUBLE / 16 AS est_jaccard
         |FROM p WHERE n_agree >= 8 ORDER BY batch_id, store_id""".stripMargin,

    // deletion is ROW removal AFTER the capped rank: representatives of
    // the original store (single build phase, rank by id, cap 2), minus
    // the deleted ids' rows, probed by the last 30%
    "dedup_store_delete" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0),
         |sig AS (SELECT doc_id, [${(1 to 16).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |    ")}] AS sigs FROM sh),
         |sb AS (SELECT doc_id, band, sigs[band + 1]::VARCHAR AS v, sigs
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band)
         |  WHERE doc_id % 10 < 7),
         |reps AS (SELECT * FROM (SELECT sb.*, row_number() OVER
         |    (PARTITION BY band, v ORDER BY doc_id) AS rn FROM sb)
         |  WHERE rn <= 2 AND doc_id % 10 != 6),
         |bb AS (SELECT doc_id, band, sigs[band + 1]::VARCHAR AS v, sigs
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band)
         |  WHERE doc_id % 10 >= 7),
         |p AS (SELECT DISTINCT b.doc_id AS batch_id, r.doc_id AS store_id,
         |    len(list_filter(range(1, 17), i -> b.sigs[i] = r.sigs[i]))::INT
         |      AS n_agree
         |  FROM bb b JOIN reps r ON b.band = r.band AND b.v = r.v)
         |SELECT batch_id, store_id, n_agree,
         |  n_agree::DOUBLE / 16 AS est_jaccard
         |FROM p WHERE n_agree >= 8 ORDER BY batch_id, store_id""".stripMargin,

    // compaction is invisible: the oracle is the UNCOMPACTED three-phase
    // chain — representatives ranked by (arrival phase, id) per bucket
    // (cap 2) over build(<5) + append(=5) + append(=6), probed by the
    // last 30%'s banded agreement
    "dedup_store_compact" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |  FROM documents),
         |d0 AS (SELECT doc_id, words FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, ${Sql.wordShingles3} AS s FROM d0),
         |sig AS (SELECT doc_id, [${(1 to 16).map(j =>
             s"('0x' || substr(list_min(list_transform(s, x -> md5('$j:' || x))), 1, 15))::BIGINT")
             .mkString(",\n         |    ")}] AS sigs FROM sh),
         |sb AS (SELECT doc_id, CASE WHEN doc_id % 10 < 5 THEN 0
         |    WHEN doc_id % 10 = 5 THEN 1 ELSE 2 END
         |    AS phase, band, sigs[band + 1]::VARCHAR AS v, sigs
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band)
         |  WHERE doc_id % 10 < 7),
         |reps AS (SELECT * FROM (SELECT sb.*, row_number() OVER
         |    (PARTITION BY band, v ORDER BY phase, doc_id) AS rn FROM sb)
         |  WHERE rn <= 2),
         |bb AS (SELECT doc_id, band, sigs[band + 1]::VARCHAR AS v, sigs
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band)
         |  WHERE doc_id % 10 >= 7),
         |p AS (SELECT DISTINCT b.doc_id AS batch_id, r.doc_id AS store_id,
         |    len(list_filter(range(1, 17), i -> b.sigs[i] = r.sigs[i]))::INT
         |      AS n_agree
         |  FROM bb b JOIN reps r ON b.band = r.band AND b.v = r.v)
         |SELECT batch_id, store_id, n_agree,
         |  n_agree::DOUBLE / 16 AS est_jaccard
         |FROM p WHERE n_agree >= 8 ORDER BY batch_id, store_id""".stripMargin,
  )
}
