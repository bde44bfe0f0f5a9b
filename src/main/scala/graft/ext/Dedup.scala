package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines
  * (SURVEY §2.8): exact, MinHash+LSH near-dup, SimHash, and n-gram Jaccard.
  *
  * Everything is built-in Catalyst expressions (no UDFs), so shingling and
  * hashing stay inside whole-stage codegen and distribute trivially: the only
  * shuffles are the groupBy on the fingerprint (exact) and the self-join on
  * the LSH band key (near-dup) — both keyed exactly on what must be
  * co-located, which is the shape that survives a 1000-executor scale-up.
  *
  * Two hash families are provided:
  *  - the *portable* family (md5-derived) — bit-identical in any engine with
  *    a standard md5, which is what the DuckDB oracle checks;
  *  - the *fast* family (xxhash64) — Spark's codegen'd 64-bit hash for the
  *    100 TB path, same algorithm shape, ~10× cheaper per token.
  */
object Dedup {

  /** Lower-cased whitespace tokens. */
  def words(text: Column): Column = split(lower(text), " ")

  /** Tokenizer-seam form of [[words]] — [[Tokenizer.Whitespace]] is the
    * historical default everywhere; pass [[Tokenizer.ScriptAware]] for
    * corpora with CJK/Thai content (whitespace splitting makes such a
    * document ONE token, degenerating every downstream signature). */
  def words(text: Column, tok: Tokenizer): Column = tok.tokens(text)

  /** Portable 32-bit token hash: first 8 hex digits of md5, as a long.
    * Engine-independent (md5 is md5 everywhere); used where an external
    * oracle must reproduce the value. */
  def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** Portable 60-bit token hash (15 md5 hex digits — the widest md5 prefix
    * that stays inside a signed 64-bit integer in every engine). Feeds the
    * wide SimHash, whose extra bits are what keep band collisions rare on a
    * large corpus. */
  def tokenHashWide(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Fast 64-bit token hash for the at-scale path (codegen'd, seeded). */
  def tokenHashFast(t: Column, seed: Int = 42): Column = xxhash64(lit(seed), t)

  /** Distinct n-word shingles of `text`; empty array when the document has
    * fewer than n words. The size guard matters: Spark's `sequence(1, 0)`
    * yields a DESCENDING [1, 0], not an empty array, which would fabricate
    * phantom shingles on short documents. */
  def wordShingles(text: Column, n: Int): Column =
    wordShingles(text, n, Tokenizer.Whitespace)

  /** Tokenizer-seam form of [[wordShingles]]. */
  def wordShingles(text: Column, n: Int, tok: Tokenizer): Column = {
    val w = words(text, tok)
    val sh = transform(
      sequence(lit(1), size(w) - lit(n - 1)),
      i => concat_ws(" ", slice(w, i, lit(n))))
    when(size(w) >= n, array_distinct(sh))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct n-word shingles hashed to longs in one pass — the native
    * kernel of the fast MinHash path ([[expressions.HashedShinglesExpr]]).
    * Bit-identical to its HOF twin (asserted in NativeExprSpec):
    * same join/distinct/hash semantics, minus two interpreted `transform`s,
    * an interpreted `array_distinct`, and per-shingle slice allocations. */
  def hashedWordShingles(text: Column, n: Int): Column =
    hashedWordShingles(text, n, Tokenizer.Whitespace)

  /** Tokenizer-seam form of [[hashedWordShingles]] — the native kernel
    * shingles whatever token array the tokenizer produces. */
  def hashedWordShingles(text: Column, n: Int, tok: Tokenizer): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(expressions.HashedShinglesExpr(
      GraftColumnBridge.expression(words(text, tok)), n))
  }

  /** Distinct character n-grams (for short/no-whitespace text). */
  def charShingles(text: Column, n: Int): Column = {
    val t = lower(text)
    val sh = transform(
      sequence(lit(1), length(t) - lit(n - 1)),
      i => substr(t, i, lit(n)))
    when(length(t) >= n, array_distinct(sh))
      .otherwise(array().cast("array<string>"))
  }

  /** K-value MinHash signature over a shingle set: element j is
    * min over shingles of md5("<j>:" ++ shingle). Minimizing the md5 *string*
    * (hex is lexicographic-comparable) avoids any integer-overflow semantics
    * an external oracle could disagree on. NULL element ⟺ empty shingle set.
    * Native one-pass expression ([[expressions.Md5MinHashExpr]]) —
    * bit-identical to the k-fold HOF twin (asserted in NativeExprSpec),
    * minus k interpreted traversals and k×n hex encodes. */
  def minhashSignature(shingles: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(expressions.Md5MinHashExpr(
      GraftColumnBridge.expression(shingles), k))
  }

  /** PORTABLE md5 minhash signature as 60-bit longs: the [[minhashSignature]]
    * md5-string family with each per-seed minimum mapped to its first-15-hex
    * 60-bit integer ('0x'-prefix law, the [[Sketches]] hash60 convention).
    * The string minimum IS the numeric-prefix minimum (equal-length hex
    * strings order lexicographically = numerically), so the long array
    * restates externally while fitting the Array[Long] state shape the
    * streaming near-dup operator keeps per bucket. Native one-pass kernel
    * ([[expressions.Md5MinHash60Expr]]), bit-identical to its HOF twin
    * (NativeExprSpec). */
  def minhashSignature60(text: Column, shingleLen: Int, k: Int): Column =
    minhashSignature60(text, shingleLen, k, Tokenizer.Whitespace)

  /** Tokenizer-seam form of [[minhashSignature60]]. */
  def minhashSignature60(text: Column, shingleLen: Int, k: Int,
                         tok: Tokenizer): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(expressions.Md5MinHash60Expr(
      GraftColumnBridge.expression(wordShingles(text, shingleLen, tok)), k))
  }

  /** Fast-path signature (xxhash64-based, one long per seed). Native
    * one-pass expression ([[expressions.MinHashSigExpr]]) — bit-identical to
    * the k-fold HOF twin (asserted in NativeExprSpec), minus k interpreted
    * traversals of the shingle array. */
  def minhashSignatureFast(shingles: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(expressions.MinHashSigExpr(
      GraftColumnBridge.expression(shingles), k))
  }

  /** Exact duplicate groups keyed by a normalization fingerprint.
    * Returns (fingerprint, keep_id, n_copies): canonical survivor = min id.
    * One hash-aggregate shuffle on the fingerprint; map-side partial
    * aggregation collapses duplicates before the exchange, so the shuffle
    * carries one row per distinct document — the 100 TB-safe shape. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(lower(col(textCol))).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: keep one row per normalized text (the min-id survivor). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Span-level exact dedup — the scalable stand-in for exact substring
    * dedup (suffix-array substring removal à la Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * approximated by fixed tiles so it distributes): tile every document
    * into non-overlapping `window`-token spans, keep only the FIRST
    * corpus-wide occurrence of each distinct span text (first = min
    * (id, span position)), and reassemble each document from its surviving
    * spans in order. A document whose every span occurred earlier vanishes
    * entirely. Returns (id, clean_text, n_spans).
    *
    * Scale shape: tiling is a zero-shuffle generator
    * ([[TextStats.chunkWords]] with stride = window); ownership is a
    * groupBy(span text).agg(min(id, chunk_no)) — the span value is the
    * shuffle key and map-side PARTIAL aggregation collapses a
    * mass-duplicated boilerplate span to one row per input partition
    * BEFORE the exchange, so the operator's own target workload (a span
    * shared by millions of documents) costs one row per partition, not a
    * one-task duplicate list (the `min().over(Window.partitionBy(text))`
    * form ships every occurrence into a single window partition — the skew
    * trap this round removed; [[dedupSpansWindowed]] is kept only as the
    * spec's equivalence reference). The aggregate's group row IS the
    * surviving span, so no join back is needed; reassembly is one
    * (id)-keyed aggregation whose collect_list is bounded by that
    * document's own span count, not the corpus. */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 window: Int): DataFrame =
    reassembleSpans(
      ownSpans(TextStats.chunkWords(df, idCol, textCol, window, window), idCol),
      idCol)

  /** INTRA-document repeated-line removal — the WITHIN-doc cleanup of the
    * Gopher/RefinedWeb repetition family ([[TextStats.repetitionStats]]
    * MEASURES the symptom; this removes it): keep each document's FIRST
    * occurrence of every exact line, in original order. Scraped pages
    * repeat nav stubs, cookie banners, and pagination lines INSIDE one
    * document — cross-doc span dedup ([[dedupSpans]] family) never sees
    * them because each document is its own duplicate context.
    *
    * Output: (id, clean_text, n_lines, n_dupes_removed).
    *
    * Scale shape: one explode to line rows, first-occurrence selection as
    * a (doc, line)-keyed window (partial nothing — the window IS the one
    * exchange, keyed by doc AND line text so a hot document spreads
    * across its distinct lines), reassembly per doc ordered by original
    * position (collect_list bounded by the document's own line count).
    * Deliberately NOT the zero-shuffle array_position form — that is
    * quadratic in a document's line count, the wrong trade for the
    * million-line degenerate docs this operator exists to clean. */
  def dedupLinesWithinDoc(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null text explodes to ZERO rows and the doc would vanish from the
    // output — a cleanup operator must never shrink the corpus; coalesce
    // keeps the doc as one empty line (substringDupSpans' null contract)
    val lines = df.select(col(idCol).as("_id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("_pos", "_line")))
    val first = lines.withColumn("_rn", row_number().over(
        Window.partitionBy("_id", "_line").orderBy("_pos")))
    first.groupBy(col("_id"))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("_rn") === 1, struct(col("_pos"), col("_line"))))),
          s => s.getField("_line")), "\n").as("clean_text"),
        count(lit(1)).cast("int").as("n_lines"),
        count(when(col("_rn") > 1, lit(1))).cast("int")
          .as("n_dupes_removed"))
      .select(col("_id").as(idCol), col("clean_text"), col("n_lines"),
        col("n_dupes_removed"))
  }

  /** Ownership: one row per DISTINCT span text, keyed by its first
    * corpus-wide occurrence (min (id, chunk_no) — struct min is
    * lexicographic). Output: (id, chunk_no, chunk_text) of the survivors. */
  private def ownSpans(spans: DataFrame, idCol: String): DataFrame =
    spans
      .groupBy(col("chunk_text"))
      .agg(min(struct(col(idCol), col("chunk_no"))).as("_own"))
      .select(col("_own").getField(idCol).as(idCol),
        col("_own").getField("chunk_no").as("chunk_no"),
        col("chunk_text"))

  /** Reassemble each document from its surviving spans in chunk order.
    * Output: (id, clean_text, n_spans). */
  private def reassembleSpans(owned: DataFrame, idCol: String): DataFrame =
    owned
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_no"), col("chunk_text")))),
          s => s.getField("chunk_text"))).as("clean_text"),
        count(lit(1)).as("n_spans"))

  /** The pre-round-6 window-based ownership form of [[dedupSpans]] —
    * result-identical, but every occurrence of a span lands in ONE window
    * partition with no map-side reduction (the boilerplate-span skew trap).
    * Kept private as ExtSpec's equivalence reference only. */
  private[ext] def dedupSpansWindowed(df: DataFrame, idCol: String,
                                      textCol: String, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = TextStats.chunkWords(df, idCol, textCol, window, window)
    val key = struct(col(idCol), col("chunk_no"))
    spans
      .withColumn("_own", min(key).over(Window.partitionBy(col("chunk_text"))))
      .where(col("_own") === key)
      .drop("_own", "n_tokens")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_no"), col("chunk_text")))),
          s => s.getField("chunk_text"))).as("clean_text"),
        count(lit(1)).as("n_spans"))
  }

  /** Shingle-anchored (content-defined) span dedup — the phase-robust
    * variant of [[dedupSpans]]: span boundaries are cut AFTER every token
    * whose portable hash ≡ 0 (mod `anchorMod`) instead of at fixed
    * positions, so a duplicated passage produces the SAME spans wherever it
    * sits in a document (fixed tiles miss a duplicate that straddles tile
    * boundaries at a different phase — the documented gap this closes).
    * Expected span length is `anchorMod` tokens; a document with no anchor
    * token becomes one span (the content-defined-chunking tail risk —
    * standard CDC trades bounded length for alignment). Ownership and
    * reassembly are exactly [[dedupSpans]]'s (same partial-aggregate scale
    * shape); the default anchor hash is the portable md5-derived
    * [[tokenHash]] (an external engine reproduces the cuts bit-for-bit —
    * the DuckDB oracle checks exactly that); `fastHash = true` swaps in the
    * codegen'd xxhash64 [[tokenHashFast]] for the 100 TB path — the
    * alignment property is hash-agnostic, only WHERE the cuts fall moves.
    * Returns (id, clean_text, n_spans). */
  def dedupSpansAnchored(df: DataFrame, idCol: String, textCol: String,
                         anchorMod: Int, fastHash: Boolean = false): DataFrame =
    reassembleSpans(
      ownSpans(anchoredChunks(df, idCol, textCol, anchorMod, fastHash), idCol),
      idCol)

  /** Shuffle-lean twin of [[dedupSpans]] for the 100 TB path: ownership is
    * keyed on xxhash64(chunk_text) instead of the span text itself, so the
    * ownership exchange carries fixed-width (hash, id, chunk_no) rows
    * (~24 B) instead of ~100 B text keys — and reassembly re-derives the
    * surviving span text from the document's OWN text: survivors collapse
    * to a per-document int list (tiny, id-keyed), one id-keyed join brings
    * the doc text back, and a pure projection re-slices the kept tiles.
    * Corpus text therefore crosses ONE exchange (the reassembly join)
    * instead of [[dedupSpans]]'s two (text-keyed ownership + collect_list
    * reassembly); DedupMetricsSpec measures the shuffle-byte reduction.
    *
    * The price: two DISTINCT span texts colliding in 64 bits erroneously
    * dedup the later one — expected collisions ≈ S²/2⁶⁵ for S distinct
    * spans (at S = 10¹² that is ~3·10⁴ spans, a ~3·10⁻⁸ fraction), and
    * deterministic, the same accepted-risk class as [[lshCandidates]]'
    * `hashBands`. The text-keyed [[dedupSpans]] stays the collision-free
    * oracle form; ExtSpec pins result equivalence, and the catalog row
    * shares dedup_spans' DuckDB oracle (equal absent a collision).
    * Returns (id, clean_text, n_spans). */
  def dedupSpansHashed(df: DataFrame, idCol: String, textCol: String,
                       window: Int): DataFrame = {
    val spans = TextStats.chunkWords(df, idCol, textCol, window, window)
      .select(col(idCol), col("chunk_no"), xxhash64(col("chunk_text")).as("_h"))
    val own = spans.groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("chunk_no"))).as("_own"))
      .select(col("_own").getField(idCol).as(idCol),
        col("_own").getField("chunk_no").as("chunk_no"))
    val keep = own.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("chunk_no"))).as("_keep"))
    // tiles are non-overlapping with stride = window, so kept tile j spans
    // tokens j·window+1 .. j·window+window of the document's own word array
    val w = split(col(textCol), " ")
    df.join(keep, Seq(idCol))
      .select(col(idCol),
        concat_ws(" ", transform(col("_keep"),
          j => concat_ws(" ", slice(w, j * window + 1, lit(window)))))
          .as("clean_text"),
        size(col("_keep")).cast("long").as("n_spans"))
  }

  /** Content-defined chunking: (id, chunk_no, chunk_text) rows with
    * boundaries after anchor tokens (hash ≡ 0 mod `anchorMod`). A pure
    * generator projection like [[TextStats.chunkWords]] — zero shuffle. */
  private[ext] def anchoredChunks(df: DataFrame, idCol: String,
                                  textCol: String, anchorMod: Int,
                                  fastHash: Boolean = false): DataFrame = {
    require(anchorMod > 1, s"anchorMod must exceed 1: $anchorMod")
    val w = split(col(textCol), " ")
    val anchorHash: Column => Column =
      if (fastHash) tokenHashFast(_) else tokenHash
    // cut positions: after token i (1-based) when its hash lands on 0 mod k;
    // bounds = 0 ++ cuts ++ n, span j = tokens bounds(j)+1 .. bounds(j+1).
    val cuts = filter(sequence(lit(1), size(w)),
      i => pmod(anchorHash(element_at(w, i)), lit(anchorMod)) === 0)
    val bounds = concat(array(lit(0)), cuts, array(size(w)))
    df.select(col(idCol), w.as("_w"), bounds.as("_b"))
      .select(col(idCol), posexplode(filter(
        transform(sequence(lit(1), size(col("_b")) - 1), j =>
          concat_ws(" ", slice(col("_w"), element_at(col("_b"), j) + 1,
            element_at(col("_b"), j + 1) - element_at(col("_b"), j)))),
        t => t =!= "")).as(Seq("chunk_no", "chunk_text")))
  }

  /** Corpus-size-derived default for [[lshCandidates]]' `maxBucketSize`:
    * `cap = max(minCap, ⌈c·√N⌉)` for a corpus of N documents.
    *
    * Why √N: a band bucket of size b contributes ~b²/2 candidate pairs to
    * the bucket self-join, so capping b at c·√N bounds per-bucket join work
    * by c²·N/2 — the WHOLE bucket join stays O(bands · c² · N), linear in
    * corpus size, and a 100× scale-up needs no retuning (the cap grows 10×,
    * exactly keeping per-bucket quadratic cost proportional to N; the
    * property test pins cap²/N constant across scale-ups). Recall cost is
    * ~nil: a bucket with more than c·√N members is a near-universal band
    * value (boilerplate shingle) carrying almost no similarity signal, and
    * a genuinely similar pair also agrees on other, selective bands;
    * [[lshCandidates]] logs the dropped-candidate-pair upper bound
    * Σ bsz·(bsz−1)/2 so every run carries its own audit trail. `minCap`
    * keeps small corpora uncapped in practice (a cap below ~64 would bite
    * legitimate medium buckets long before quadratic cost matters). */
  def adaptiveBucketCap(corpusSize: Long, c: Double = 8.0,
                        minCap: Int = 64): Int = {
    require(corpusSize >= 0, s"corpusSize must be non-negative: $corpusSize")
    require(c > 0, s"cap coefficient must be positive: $c")
    val cap = math.ceil(c * math.sqrt(corpusSize.toDouble))
    math.max(minCap.toDouble, math.min(cap, Int.MaxValue.toDouble)).toInt
  }

  /** Sentinel for the `maxBucketSize` parameter of [[nearDuplicates]] /
    * [[nearDuplicatesFast]]: derive the cap from the corpus size at runtime
    * via [[adaptiveBucketCap]]. The count runs over the operator's own
    * persisted shingle frame — one pass that materializes a cache every
    * downstream stage needs anyway — so opting into the scale valve costs
    * ~nothing and never needs retuning across corpus sizes. */
  val AdaptiveBucket: Int = -1

  /** LSH candidate pairs from per-document signatures: documents sharing any
    * band value. `sigDf` must have (id, sig: array) with signatures from a
    * NON-EMPTY shingle set (see [[nearDuplicates]]) — no null-band filter
    * here, because Catalyst would push `isnotnull` down into a recomputation
    * of the whole signature expression.
    * The self-join shuffles on (band, value) — i.e. the LSH bucket IS the
    * partition key.
    *
    * `maxBucketSize` caps pathological buckets — a boilerplate shingle
    * shared by millions of docs would otherwise make one bucket's self-join
    * quadratic in corpus size. Buckets above the cap are dropped BEFORE the
    * join via a broadcast anti-join against the (tiny by construction) hot
    * list, so the bands frame is not re-shuffled; the drop count is logged.
    * Pairs co-occurring only in a dropped mega-bucket are lost — acceptable:
    * agreement on a near-universal shingle carries almost no similarity
    * signal, and genuinely similar pairs agree on other bands too.
    *
    * `hashBands = true` collapses each band to ONE xxhash64 long instead of
    * a "|"-joined string — the persisted bands frame and the bucket-join
    * shuffle payload shrink ~3× (a long vs a ~20-char string per band).
    * Distinct bands colliding in 64 bits only ADD false candidates (verified
    * away downstream); equal bands always hash equal, so recall is
    * unchanged. Use on paths whose verify step is the contract (the fast
    * family); keep strings where an external oracle must reproduce the band
    * values themselves.
    *
    * `minBandMatches > 1` keeps only pairs sharing at least that many bands.
    * The pair aggregation is the same shuffle the plain `distinct()` pays, so
    * the count is free — and with 1-row bands a shared band IS an agreeing
    * signature position, which makes this the zero-cost realization of the
    * estimated-Jaccard prefilter (see [[nearDuplicatesFast]]). With bucket
    * capping, dropped mega-buckets do not count toward the match total
    * (conservative: a capped bucket carries ~no similarity signal anyway).
    *
    * The persisted bands (and hot-bucket) frames are handed to `scope`
    * against the returned pairs frame (see [[CacheScope]]). */
  def lshCandidates(sigDf: DataFrame, idCol: String, sigCol: String,
                    bandRows: Int = 1, maxBucketSize: Int = Int.MaxValue,
                    scope: CacheScope = null,
                    hashBands: Boolean = false,
                    minBandMatches: Int = 1): DataFrame = {
    val (out, caches) = lshCandidatePairs(sigDf, idCol, sigCol, bandRows,
      maxBucketSize, hashBands, minBandMatches)
    CacheScope.handOver(scope, out, caches: _*)
  }

  /** [[lshCandidates]]' pairs frame and the frames it persisted, which the
    * entry point hands over. */
  private def lshCandidatePairs(sigDf: DataFrame, idCol: String,
                                sigCol: String, bandRows: Int,
                                maxBucketSize: Int, hashBands: Boolean,
                                minBandMatches: Int)
      : (DataFrame, Seq[DataFrame]) = {
    // the AdaptiveBucket sentinel is resolved by nearDupPairs (which owns a
    // corpus-size count); here a non-positive cap would drop EVERY bucket
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive (resolve Dedup.AdaptiveBucket upstream): $maxBucketSize")
    // band b = concatenation of bandRows consecutive signature values:
    // a candidate must agree on ALL rows of some band. bandRows=1 maximizes
    // recall (any shared minhash); bandRows=2 cuts false candidates ~
    // quadratically (collision prob j^2 per band) at slight recall cost for
    // borderline pairs — the standard LSH S-curve tuning knob.
    // (The element cast to string is a no-op for md5-string signatures and
    // makes the same band construction work for long-valued fast signatures.
    // The "|" separator cannot appear in hex or decimal renderings, and NULL
    // elements are coalesced to a sentinel concat_ws would otherwise SKIP
    // ([1, null] must not band-collide with [1]) — so band equality is
    // element-wise equality. concat_ws("") would let distinct long bands
    // collide across element boundaries, e.g. ["1","23"] vs ["12","3"],
    // inflating the candidate set.)
    val nBands = (size(col(sigCol)) / bandRows).cast("int")
    val bandOf: Column => Column =
      if (hashBands) sl => xxhash64(sl)
      else sl => concat_ws("|",
        transform(sl, v => coalesce(v.cast("string"), lit("\u0000"))))
    val bandArr = transform(sequence(lit(1), nBands),
      b => bandOf(slice(col(sigCol), (b - 1) * bandRows + 1, lit(bandRows))))
    val bands = sigDf
      .select(col(idCol), posexplode(bandArr))
      .toDF(idCol, "band", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var hot: DataFrame = null
    val pruned =
      if (maxBucketSize == Int.MaxValue) bands
      else {
        hot = bands.groupBy(col("band"), col("v"))
          .agg(count(lit(1)).as("_bsz"))
          .where(col("_bsz") > maxBucketSize)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // one pass over the hot list yields the count AND the dropped-pair
        // upper bound Σ bsz·(bsz−1)/2 (pairs co-occurring ONLY in a dropped
        // bucket are the ones actually lost — this logs the ceiling), and
        // materializes the bands cache as a side effect
        val stats = hot.agg(count(lit(1)).as("n"),
          coalesce(sum(col("_bsz") * (col("_bsz") - 1)), lit(0L)).as("p2")).head()
        val nHot = stats.getLong(0)
        if (nHot > 0) org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"lshCandidates: dropping $nHot band-buckets larger than " +
            s"$maxBucketSize rows (dropped candidate-pair bound: ${stats.getLong(1) / 2})")
        bands.join(broadcast(hot.select(col("band"), col("v"))),
          Seq("band", "v"), "left_anti")
      }
    val joined = pruned.as("a")
      .join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
    val out =
      if (minBandMatches <= 1) joined.distinct()
      else joined.groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("_nb"))
        .where(col("_nb") >= minBandMatches)
        .select(col("a_id"), col("b_id"))
    (out, Seq(bands, hot))
  }

  /** Exact Jaccard similarity of two array-set columns (as double). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** LSH DETECTION-RATE evaluation — the dedup family's measured-quality
    * harness (the sibling of the ANN recall harness): per exact-Jaccard
    * DECILE of a planted pair set, how many pairs does the banded MinHash
    * family detect? Detection is evaluated pair-locally as "some band's
    * signature rows all agree" — exactly the law the corpus-scale bucket
    * join ([[lshCandidates]]) realizes, restated per pair so an external
    * engine can reproduce it band for band. The S-curve this emits (low
    * deciles mostly undetected, high deciles near-certain) is the
    * banding-theory prediction measured on real text, not asserted.
    *
    * Scale shape: signatures are one projection over the corpus; the
    * planted pairs join their two signature rows by id (shuffle keyed on
    * the pair ids, |pairs| rows) — no all-pairs anything. Pairs with
    * either side below one shingle drop (no signature, no detection
    * question). Output: (jac_decile = ⌊10·J⌋, n_pairs, n_detected,
    * detection_ppm), exact integers. */
  def lshDetectionEval(corpus: DataFrame, idCol: String, textCol: String,
                       pairs: DataFrame, shingleLen: Int = 3,
                       numHashes: Int = 8, bandRows: Int = 2): DataFrame = {
    require(numHashes % bandRows == 0,
      s"numHashes ($numHashes) must split into bands of $bandRows")
    val sh = corpus.select(col(idCol).cast("long").as("id"),
        array_distinct(wordShingles(col(textCol), shingleLen)).as("sh"))
      .where(size(col("sh")) >= 1)
    val sig = sh.select(col("id"), col("sh"),
      minhashSignature(col("sh"), numHashes).as("sig"))
    val nBands = numHashes / bandRows
    val a = sig.toDF("a_id", "a_sh", "a_sig")
    val b = sig.toDF("b_id", "b_sh", "b_sig")
    pairs.join(a, "a_id").join(b, "b_id")
      .select(
        size(array_intersect(col("a_sh"), col("b_sh"))).as("inter"),
        size(array_union(col("a_sh"), col("b_sh"))).as("uni"),
        exists(sequence(lit(1), lit(nBands)), bi =>
          slice(col("a_sig"), (bi - lit(1)) * bandRows + lit(1), lit(bandRows)) ===
            slice(col("b_sig"), (bi - lit(1)) * bandRows + lit(1), lit(bandRows)))
          .as("detected"))
      .groupBy(expr("(inter * 10) div uni").cast("int").as("jac_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("detected"), 1L).otherwise(0L)).as("n_detected"))
      .withColumn("detection_ppm",
        expr("(n_detected * 1000000) div n_pairs"))
  }

  /** ASYMMETRIC near-dup — CONTAINMENT C(A,B) = |A∩B| / min(|A|,|B|): the
    * criterion that catches a short document embedded in a long one, which
    * Jaccard structurally cannot (a 10-shingle excerpt perfectly contained
    * in a 1000-shingle doc has J ≤ 0.01 — and MinHash banding detects with
    * probability ≈ J, so the Jaccard pipeline misses it by DESIGN, not by
    * tuning). Candidates instead come from a SAMPLED-SHINGLE inverted
    * join: shingles whose salted md5 falls in 1/`sampleMod` of hash space
    * key an inverted index; two docs sharing any sampled shingle become a
    * candidate. A contained excerpt of s shingles shares ≥ C·s of them, so
    * it surfaces unless ALL its sampled shingles miss — P(miss) ≈
    * (1−1/sampleMod)^(C·s), negligible past a dozen shingles. Shingles
    * shared by more than `maxBucketSize` docs are dropped from the index
    * (the stop-shingle guard that keeps the self-join linear — boilerplate
    * n-grams would otherwise quadratically explode a bucket); the exact
    * verify then scores candidates on TRUE containment, so caps and
    * sampling only cost recall, never precision. Deterministic end to end
    * (md5 sampling, integer containment in ppm) ⇒ DuckDB-restatable.
    * Output: (a_id, b_id, inter, na, nb, cont_ppm) at cont_ppm ≥
    * threshold·10⁶. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, thresholdPpm: Long = 800000L,
                       sampleMod: Int = 4,
                       maxBucketSize: Int = 4096,
                       tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(thresholdPpm >= 1 && thresholdPpm <= 1000000L,
      s"thresholdPpm out of (0, 1e6]: $thresholdPpm")
    require(sampleMod >= 1, s"sampleMod must be positive: $sampleMod")
    require(maxBucketSize >= 1, s"maxBucketSize must be positive: $maxBucketSize")
    val sh = shingleSets(df, idCol, textCol, shingleLen, tok,
      col(idCol).cast("long").as("id"),
      (t, n) => array_distinct(wordShingles(t, n, tok)))
    val sampled = sh
      .select(col("id"), explode(col("sh")).as("g"))
      .where(conv(substring(md5(concat(lit("cont:"), col("g"))), 1, 15),
        16, 10).cast("long") % sampleMod === 0)
    // stop-shingle guard: an inverted-index bucket of b docs costs b² pairs
    val hot = sampled.groupBy("g").agg(count(lit(1)).as("_n"))
      .where(col("_n") > maxBucketSize)
      .select("g")
    val idx = sampled.join(broadcast(hot), Seq("g"), "left_anti")
    val cand = idx.as("a").join(idx.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    val verified = overlapPairs(cand, "a_id", "b_id", sh, sh, "id")
      .withColumnRenamed("ni", "inter")
      .withColumn("cont_ppm",
        expr("(cast(inter AS bigint) * 1000000) div least(na, nb)"))
      .where(col("cont_ppm") >= thresholdPpm)
    CacheScope.handOver(null, verified, sh)
  }

  /** Near-duplicate pairs: MinHash(k seeds) LSH candidates, verified by
    * exact shingle-set Jaccard >= threshold. Output: (a_id, b_id, jaccard).
    * Portable md5-string signatures — bit-reproducible by an external
    * engine, which is what the DuckDB oracle checks.
    *
    * Plan hygiene (this is where a naive chaining is 20× slower): the shingle
    * frame is repartitioned (parallelism does not depend on the input file
    * count) and persisted — it feeds signature computation AND both sides of
    * the verify join, and without the materialization Catalyst's projection
    * collapse + filter pushdown would inline the full md5-signature
    * expression into every consumer, recomputing it up to 5× per row.
    * Exactly the trade Spark ML's MinHashLSH.approxSimilarityJoin makes; at
    * 100 TB both persists are disk-backed and linear in corpus size. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     shingleLen: Int = 3, numHashes: Int = 8,
                     threshold: Double = 0.5, bandRows: Int = 2,
                     maxBucketSize: Int = Int.MaxValue,
                     scope: CacheScope = null,
                     tok: Tokenizer = Tokenizer.Whitespace): DataFrame =
    nearDupPairs(df, idCol, textCol, shingleLen, numHashes, threshold,
      bandRows, maxBucketSize, scope, wordShingles(_, _, tok),
      minhashSignature, tok = tok)

  /** The at-scale twin of [[nearDuplicates]]: shingles are collapsed to
    * xxhash64 longs ONCE in the persisted frame, so (a) the per-seed minhash
    * is codegen'd long arithmetic — roughly an order of magnitude cheaper
    * than 8 md5-string hashes, (b) the persisted shingle frame shrinks ~3×,
    * and (c) the exact-Jaccard verify intersects long arrays instead of
    * 20-char strings. Hashed-shingle Jaccard equals string-shingle Jaccard
    * unless two distinct shingles of the same doc pair collide in 64 bits
    * (~|union|²/2⁶⁴ ≈ 1e-14 — and deterministic: a passing corpus keeps
    * passing). 1-row bands over `numHashes` seeds put LSH recall for a true
    * pair at jaccard j at 1-(1-j)^numHashes — ≥ 1-2^-16 at j=0.5 with the
    * default 16 seeds — so at these settings the output is the TRUE pair
    * set (jaccard >= threshold) with near-certainty; the DuckDB oracle for
    * the catalog entry checks exactly that against an exhaustive pair scan.
    *
    * Bands are hashed to longs (`hashBands` — ~3× smaller bands frame and
    * bucket-join payload, recall unchanged), and candidates pass an
    * estimated-Jaccard prefilter (`minSigAgree = 2`) before the exact
    * shingle-set verify. The prefilter bound: a candidate's signature
    * agreement count X ~ Binomial(numHashes, j) for true Jaccard j, so with
    * 16 seeds a j >= 0.5 pair fails `X >= 2` with probability
    * P(X <= 1 | j=0.5) = 17/2^16 ≈ 2.6e-4 at the threshold boundary
    * (j=0.6 → ~1.1e-5, shrinking geometrically in j) — while a random LSH
    * candidate (one lucky band, near-zero true Jaccard) almost never shows a
    * second agreeing position. With 1-row bands the agreement count IS the
    * shared-band count, so the filter rides the candidate-pair aggregation
    * for free (`lshCandidates(minBandMatches)`); a hashed-band collision can
    * only ADD a match, never remove one, so the bound is conservative. The
    * candidate set feeding the expensive shingle-array join shrinks by
    * orders of magnitude; and like the shingle hashing, the filter is
    * deterministic — a passing corpus keeps passing.
    *
    * Pass `maxBucketSize = Dedup.AdaptiveBucket` to derive the hot-bucket
    * cap from the corpus size at runtime (c·√N via [[adaptiveBucketCap]] —
    * keeps the band self-join linear in N with no retuning across
    * scale-ups). */
  def nearDuplicatesFast(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, numHashes: Int = 16,
                         threshold: Double = 0.5, bandRows: Int = 1,
                         maxBucketSize: Int = Int.MaxValue,
                         scope: CacheScope = null,
                         minSigAgree: Int = 2,
                         tok: Tokenizer = Tokenizer.Whitespace): DataFrame =
    nearDupPairs(df, idCol, textCol, shingleLen, numHashes, threshold,
      bandRows, maxBucketSize, scope,
      hashedWordShingles(_, _, tok), minhashSignatureFast,
      hashBands = true, minSigAgree = minSigAgree, tok = tok)

  /** Repartition only when the incoming frame has fewer partitions than the
    * session's default parallelism: a narrow input (one CSV file, a
    * coalesced upstream) must be widened before per-row-heavy expression
    * work, but a well-split input (thousands of parquet splits at scale)
    * must NOT pay a gratuitous full exchange. The served-store probes widen
    * their store scan the same way: a small store compacts to a handful of
    * files, and the probe's per-candidate work runs in the store scan's
    * stage (the batch side broadcasts), so a 4-file store would pin a
    * 32-core probe to 4 tasks. */
  private[ext] def ensureParallelism(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }

  /** Persisted (id, `sh`) shingle-set frame of the rows with at least
    * `shingleLen` tokens, the rest dropped (their shingle set is empty —
    * they can never match). `idOut` projects the id; `shinglesOf` builds
    * the set from the text and the shingle length. The filter runs on the
    * RAW text (size(words) >= n ⟺ shingle set non-empty): cheap enough to
    * push to the scan, unlike a size(sh) > 0 filter, which Catalyst would
    * rewrite into a full shingle recompute at the scan. ensureParallelism
    * widens a narrow input before the heavy shingle projection — and is a
    * no-op for an already-well-split input. The caller hands the cache
    * over ([[CacheScope]]). */
  private[ext] def shingleSets(df: DataFrame, idCol: String, textCol: String,
                               shingleLen: Int, tok: Tokenizer, idOut: Column,
                               shinglesOf: (Column, Int) => Column): DataFrame =
    ensureParallelism(
      df.select(col(idCol), col(textCol))
        .where(size(words(col(textCol), tok)) >= shingleLen))
      .select(idOut, shinglesOf(col(textCol), shingleLen).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The exact verify of every filter-and-verify join here: each candidate
    * (`a`, `b`) pair joined to its sides' set frames (`idCol`, `setCol`) on
    * each id, with |A∩B| from one array_intersect and both set sizes.
    * Output: (a, b, ni, na, nb) — the caller scores on top; for sets
    * |A∪B| = na + nb − ni, so no union array is ever materialized. */
  private[ext] def overlapPairs(cand: DataFrame, a: String, b: String,
                                setsA: DataFrame, setsB: DataFrame,
                                idCol: String,
                                setCol: String = "sh"): DataFrame =
    cand
      .join(setsA.select(col(idCol).as(a), col(setCol).as("sh_a"),
        size(col(setCol)).as("na")), a)
      .join(setsB.select(col(idCol).as(b), col(setCol).as("sh_b"),
        size(col(setCol)).as("nb")), b)
      .select(col(a), col(b),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("ni"),
        col("na"), col("nb"))

  /** [[overlapPairs]] scored by set Jaccard ni / (na + nb − ni), kept at
    * `jaccard` >= threshold. Output: (a, b, jaccard). */
  private[ext] def jaccardPairs(overlap: DataFrame, a: String, b: String,
                                threshold: Double): DataFrame =
    overlap
      .select(col(a), col(b),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)

  private def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                           shingleLen: Int, numHashes: Int, threshold: Double,
                           bandRows: Int, maxBucketSize: Int, scope: CacheScope,
                           shinglesOf: (Column, Int) => Column,
                           signatureOf: (Column, Int) => Column,
                           hashBands: Boolean = false,
                           minSigAgree: Int = 0,
                           tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val sh = shingleSets(df, idCol, textCol, shingleLen, tok, col(idCol),
      shinglesOf)
    // AdaptiveBucket resolves to c·√N here, where the count is a single
    // pass that materializes the shingle cache everything downstream reads
    require(maxBucketSize > 0 || maxBucketSize == AdaptiveBucket,
      s"maxBucketSize must be positive or Dedup.AdaptiveBucket: $maxBucketSize")
    val bucketCap =
      if (maxBucketSize == AdaptiveBucket) adaptiveBucketCap(sh.count())
      else maxBucketSize
    // Estimated-Jaccard prefilter (see [[nearDuplicatesFast]] for the recall
    // bound): keep candidates whose signatures agree on >= minSigAgree
    // positions. With 1-row bands a shared band IS an agreeing position, so
    // the count rides the pair aggregation lshCandidates pays anyway
    // (minBandMatches) — zero extra joins. The free path requires UNCAPPED
    // buckets: a dropped mega-bucket removes its band from the count, and an
    // agreement the explicit signature comparison would still see must not
    // silently stop counting. With bucket capping or wider bands the
    // agreement is counted explicitly against the signature frame; only
    // meaningful above bandRows (every candidate already agrees on one band).
    val useBandCount =
      bandRows == 1 && minSigAgree > 1 && bucketCap == Int.MaxValue
    val needSigJoin = !useBandCount && minSigAgree > bandRows
    val sig0 = sh.select(col(idCol), signatureOf(col("sh"), numHashes).as("sig"))
    // With the join prefilter, the signature frame is read three times
    // (bands + both prefilter sides) — persist it, or each read recomputes
    // every minhash. numHashes values per doc: far smaller than the shingles.
    val sig =
      if (!needSigJoin) sig0
      else sig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cand0, bandCaches) = lshCandidatePairs(sig, idCol, "sig", bandRows,
      bucketCap, hashBands, if (useBandCount) minSigAgree else 1)
    val cand =
      if (!needSigJoin) cand0
      else cand0
        .join(sig.select(col(idCol).as("a_id"), col("sig").as("sig_a")), "a_id")
        .join(sig.select(col(idCol).as("b_id"), col("sig").as("sig_b")), "b_id")
        .where(size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), hit => hit)) >= minSigAgree)
        .select(col("a_id"), col("b_id"))
    val out = jaccardPairs(
      overlapPairs(cand, "a_id", "b_id", sh, sh, idCol), "a_id", "b_id",
      threshold)
    CacheScope.handOver(scope, out,
      Seq(sh, if (needSigJoin) sig else null) ++ bandCaches: _*)
  }

  /** Exact-verify routing for estimate-based candidate sources — the
    * promised batch path for
    * [[graft.streaming.EventTimeOps.streamingNearDedup]]'s flagged pairs
    * (its decision is signature-agreement ONLY; this is where false
    * positives die). Joins the candidate (aCol, bCol) pairs against the
    * corpus' exact hashed shingle sets and keeps pairs whose TRUE Jaccard
    * meets `threshold`. Output: (aCol, bCol, jaccard).
    *
    * Scale shape: candidates are distinct-ed first (the same pair surfaces
    * from several bands), then two id-keyed joins against the shingle frame
    * — the shingle computation is a scan-speed projection and the joins
    * shuffle on the id, so cost is O(corpus) + O(candidates), never
    * quadratic. The shingle frame is persisted because it feeds both join
    * sides (without it the scan + shingle kernel runs twice); its lifetime
    * follows [[CacheScope]]'s rule. */
  def verifyPairs(cands: DataFrame, corpus: DataFrame, idCol: String,
                  textCol: String, aCol: String = "a_id", bCol: String = "b_id",
                  shingleLen: Int = 3, threshold: Double = 0.5,
                  scope: CacheScope = null,
                  tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val sh = corpus
      .where(size(words(col(textCol), tok)) >= shingleLen)
      .select(col(idCol),
        hashedWordShingles(col(textCol), shingleLen, tok).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = jaccardPairs(overlapPairs(
      cands.select(col(aCol), col(bCol)).distinct(), aCol, bCol, sh, sh, idCol),
      aCol, bCol, threshold)
    CacheScope.handOver(scope, out, sh)
  }

  // ─────────────── suffix-array substring dedup (Lee et al. 2021) ────────

  /** Global 0-based order index over `ord`, assigned SCALABLY: range
    * repartition + within-partition sort gives globally sorted partitions,
    * and `zipWithIndex`'s internal per-partition count pass turns partition
    * offsets into a contiguous global index — no single-partition window
    * anywhere. Used as the dense-rank primitive of the prefix-doubling
    * rounds (the rows are made DISTINCT by the caller, so the index IS the
    * dense rank). */
  private def orderIndex(df: DataFrame, ord: Seq[String],
                         outCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(ord.map(col): _*)
      .sortWithinPartitions(ord.map(col): _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Sentinel for "no rank at this shifted position" (suffix runs past the
    * corpus end). Distinct from every real rank (ranks are ≥ −2^31-ish char
    * codes initially, then dense non-negative) and every separator code. */
  private val NoRank: Long = Long.MinValue

  /** `rounds` rounds of prefix doubling (Manber–Myers) over a global
    * character frame `chars` (gpos: Long, code: Long): after round t the
    * returned rank satisfies rank[i] == rank[j] ⟺ the corpus substrings
    * of length 2^t starting at i and j are identical — the suffix-array
    * equivalence classes at that prefix length. Each round is two
    * equi-joins keyed on the position plus one distinct + global
    * order-index over the (rank, rank+2^t) pairs; every round's output is
    * localCheckpoint-materialized so lineage stays CONSTANT per round (the
    * [[connectedComponentsStar]] iteration discipline — without it the
    * plan doubles per round and the optimizer, not the data, becomes the
    * bottleneck). Run to ⌈log₂ n⌉ rounds for a full suffix array; stop at
    * ⌊log₂ L⌋ for length-L window equality (what substring dedup needs).
    *
    * SHUFFLE PACKING: when the corpus fits the 32-bit regime (n < 2³¹
    * characters, every initial code in (Int.MinValue, Int.MaxValue] — one
    * tiny aggregation over the caller-persisted frame decides), every
    * per-round frame carries ONE packed long instead of two/three columns:
    * state rows are gpos·2³² | rank, pair rows pack (rank, rank+2ᵗ) the
    * same way, and join keys are shift expressions evaluated at the
    * exchange, so the shuffled row is just the packed word — ~45% fewer
    * shuffled bytes per round at ~260 B/char amplification, the dominant
    * cost of substring dedup at scale. Ranks are DENSE INDEXES used only
    * for equality (prefix doubling for window equality never compares
    * order), so the packed path's different-but-injective pair ordering
    * yields byte-identical final equivalence classes — the wide path
    * remains both the >2³¹ fallback and the semantics reference
    * (DedupSpec pins packed == wide on the same corpus). */
  private[ext] def prefixDoubleRanks(chars: DataFrame,
                                     rounds: Int): DataFrame = {
    val st = chars.agg(count(lit(1)), min(col("code")), max(col("code")),
      max(col("gpos"))).head()
    val n = st.getLong(0)
    // max(gpos) is checked independently of the row count: a SPARSE gpos
    // domain (count < 2³¹ but positions ≥ 2³¹) would silently drop high
    // bits in packHiLo's shiftleft — callers pass contiguous gpos today,
    // but this seam is private[ext] and exercised directly by tests
    val packable = n > 0 && n < (1L << 31) &&
      st.getLong(1) > Int.MinValue && st.getLong(2) <= Int.MaxValue &&
      st.getLong(3) < (1L << 31)
    if (packable) prefixDoubleRanksPacked(chars, rounds)
    else prefixDoubleRanksWide(chars, rounds)
  }

  // ── 32-bit packed-word helpers (the packed-regime shuffle layout) ──────
  private[ext] val Low32: Long = 0xFFFFFFFFL
  /** (hi, v) → hi·2³² | low32(v); [[lo32]] sign-extends back exactly for
    * every |v| < 2³¹ — negative separator codes round-trip. */
  private[ext] def packHiLo(hi: Column, lo: Column): Column =
    shiftleft(hi, 32).bitwiseOR(lo.bitwiseAND(lit(Low32)))
  private[ext] def hi32(p: Column): Column = shiftright(p, 32) // hi ≥ 0
  private[ext] def lo32(p: Column): Column =
    shiftright(shiftleft(p, 32), 32)
  /** Sentinel for "no rank at the shifted position" in the packed regime:
    * Int.MinValue is outside every initial code (regime guard) and every
    * dense rank (≥ 0). */
  private[ext] val NoRank32: Long = Int.MinValue.toLong

  private val prSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("pr",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** DISTRIBUTED DENSE RANK of `df`'s packed-pair column `pp`, fused into
    * the packed state (gpos·2³² | denseRank(pp)) — the wide path's
    * distinct + order-index + join-back replaced by ONE range exchange:
    * rows sort globally by pp; a stats pass sends 3 longs per partition
    * (first pp, last pp, distinct-run count) to the driver, which prefixes
    * them with run-continuation adjustment (a pp run crossing a partition
    * boundary must not count twice); the assign pass then labels rows
    * locally. The sorted rows are cached serialized between the two
    * passes (the exchange is fetched ONCE; the caller unpersists as soon
    * as the assigned state materializes), nothing corpus-sized touches
    * the driver, and the labels are exactly orderIndex's (ascending-pp
    * dense index) — deterministic under any partitioning. */
  private def packedDenseRank(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val spark = df.sparkSession
    val rowRdd = df.repartitionByRange(col("pp"))
      .sortWithinPartitions("pp")
      .select(col("pp"), col("gpos")).rdd
    // the sorted rows are read TWICE (stats, then assign): cache them
    // serialized so the second pass hits local blocks instead of
    // re-fetching the range exchange — the caller unpersists as soon as
    // the assigned state is checkpoint-materialized
    rowRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // the stats job is the FIRST action after the persist: if it fails,
    // no handle has been returned yet, so no caller cleanup can reach the
    // cached rows — release them on this path or the corpus-sized cache
    // entry strands for the session's lifetime (the 1bdffbc defect class)
    val stats = try {
      rowRdd.mapPartitionsWithIndex { (i, it) =>
        var first: java.lang.Long = null; var last: java.lang.Long = null
        var runs = 0L
        it.foreach { r =>
          val pp = r.getLong(0)
          if (first == null) first = pp
          if (last == null || last != pp) runs += 1
          last = pp
        }
        Iterator.single((i, Option(first).map(_.longValue),
          Option(last).map(_.longValue), runs))
      }.collect().sortBy(_._1)
    } catch {
      case t: Throwable => rowRdd.unpersist(blocking = false); throw t
    }
    val bases = new Array[Long](stats.length)
    var running = 0L
    var prevLast: Option[Long] = None
    for ((i, first, last, runs) <- stats) {
      // a run continuing from the previous nonempty partition keeps its
      // already-assigned label: shift this partition's base back by one
      val cont = (prevLast, first) match {
        case (Some(p), Some(f)) if p == f => 1L
        case _ => 0L
      }
      bases(i) = running - cont
      if (first.nonEmpty) { running = bases(i) + runs; prevLast = last }
    }
    val assigned = rowRdd.mapPartitionsWithIndex { (i, it) =>
      var idx = bases(i) - 1
      var prev: java.lang.Long = null
      it.map { r =>
        val pp = r.getLong(0)
        if (prev == null || prev != pp) idx += 1
        prev = pp
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any]((r.getLong(1) << 32) | idx)): // idx < 2³¹: no mask
          org.apache.spark.sql.catalyst.InternalRow
      }
    }
    (org.apache.spark.sql.graftbridge.GraftColumnBridge
      .internalCreateDataFrame(spark, assigned, prSchema), rowRdd)
  }

  /** The packed-regime rounds ([[prefixDoubleRanks]] doc), returning the
    * PACKED state (pr = gpos·2³² | rank) for consumers that keep joining
    * on it ([[substringDupSpans]]'s fingerprint stage). Per round exactly
    * THREE corpus-sized exchanges — the two one-long self-join sides
    * (shift expressions are the join keys, evaluated at the exchange, so
    * the shuffled row is just the packed word) and [[packedDenseRank]]'s
    * single range exchange of (pp, gpos). */
  private[ext] def prefixDoubleRanksPackedState(chars: DataFrame,
                                                rounds: Int): DataFrame = {
    val cp = new CheckpointRounds(chars.sparkSession)
    var ranks: DataFrame = null
    var ranksRdd: CheckpointRounds.IRdd = null
    try {
      val fst = cp.eagerCheckpoint(
        chars.select(packHiLo(col("gpos"), col("code")).as("pr")))
      ranks = fst._1; ranksRdd = fst._2; cp.pending = null
      for (t <- 1 to rounds) {
        val h = 1L << (t - 1)
        // the rank at gpos + h surfaces at gpos: key the probe side by
        // gpos − h
        val paired = ranks
          .join(ranks.select(col("pr").as("pr2")),
            hi32(col("pr")) === hi32(col("pr2")) - h, "left")
          .select(hi32(col("pr")).as("gpos"),
            packHiLo(lo32(col("pr")),
              coalesce(lo32(col("pr2")), lit(NoRank32))).as("pp"))
        val (ranked, sortedRows) = packedDenseRank(paired)
        // the sorted-row cache is dead the moment the assigned state
        // materializes — release it on success AND failure
        val (next, nextRdd, _) =
          try cp.eagerCheckpoint(ranked)
          finally sortedRows.unpersist(false)
        ranksRdd.unpersist(false)
        ranks = next; ranksRdd = nextRdd
        cp.pending = null
      }
    } catch {
      case t: Throwable =>
        cp.releasePendingUnless(ranksRdd)
        if (ranksRdd != null) ranksRdd.unpersist(false)
        throw t
    }
    CacheScope.handOverRdds(null, ranks, ranksRdd)
  }

  /** (gpos, rank) view of [[prefixDoubleRanksPackedState]] — the packed
    * path behind the [[prefixDoubleRanks]] dispatcher. */
  private[ext] def prefixDoubleRanksPacked(chars: DataFrame,
                                           rounds: Int): DataFrame =
    prefixDoubleRanksPackedState(chars, rounds)
      .select(hi32(col("pr")).as("gpos"), lo32(col("pr")).as("rank"))

  /** The unpacked rounds — fallback past the 32-bit regime and the
    * semantics reference for the packed path. */
  private[ext] def prefixDoubleRanksWide(chars: DataFrame,
                                    rounds: Int): DataFrame = {
    val cp = new CheckpointRounds(chars.sparkSession)
    var ranks: DataFrame = null
    var ranksRdd: CheckpointRounds.IRdd = null
    // Failure anywhere between a round's persist and the happy-path return
    // must release the current round AND the in-flight RDD, or
    // corpus-character-sized caches leak in a long-lived session (the
    // [[connectedComponentsStar]] discipline).
    try {
      val fst = cp.eagerCheckpoint(
        chars.select(col("gpos"), col("code").as("rank")))
      ranks = fst._1; ranksRdd = fst._2; cp.pending = null
      for (t <- 1 to rounds) {
        val h = 1L << (t - 1)
        val shifted = ranks.select((col("gpos") - h).as("gpos"),
          col("rank").as("_r2"))
        val paired = ranks.join(shifted, Seq("gpos"), "left")
          .select(col("gpos"), col("rank").as("_r1"),
            coalesce(col("_r2"), lit(NoRank)).as("_r2"))
        val keys = orderIndex(
          paired.select(col("_r1"), col("_r2")).distinct(),
          Seq("_r1", "_r2"), "_nr")
        val (next, nextRdd, _) = cp.eagerCheckpoint(
          paired.join(keys, Seq("_r1", "_r2"))
            .select(col("gpos"), col("_nr").as("rank")))
        ranksRdd.unpersist(false)
        ranks = next; ranksRdd = nextRdd
        cp.pending = null // cleared only AFTER ranksRdd owns the new RDD
      }
    } catch {
      case t: Throwable =>
        cp.releasePendingUnless(ranksRdd)
        if (ranksRdd != null) ranksRdd.unpersist(false)
        throw t
    }
    CacheScope.handOverRdds(null, ranks, ranksRdd)
  }

  /** Per-call state for the checkpoint-iteration discipline shared by the
    * iterative operators (the star rounds of [[connectedComponentsStar]],
    * which [[duplicateClusters]] also runs past its driver budget, and
    * [[prefixDoubleRanks]]; both CC entry points checkpoint their canonical
    * edge list through it): each round's frame is materialized as a
    * persisted + localCheckpoint'd InternalRow RDD (lineage stays CONSTANT
    * per round), and the RDD currently being materialized is tracked in
    * `pending` so a failure ANYWHERE between persist and ownership transfer
    * still finds it in the operator's catch block. The operator holds a
    * DIRECT handle to each RDD: `Dataset.localCheckpoint` would persist an
    * internal RDD the API exposes no handle to, and recovering it by a
    * persistent-RDD-registry diff can claim (and later free) caches other
    * jobs persisted concurrently in a shared session. `toRdd` may reuse row
    * buffers, so rows are copied before caching. (Use reliable
    * checkpointing on a real cluster: a local checkpoint dies with its
    * executor.) One instance per call — never shared across threads. */
  private[ext] object CheckpointRounds {
    type IRdd =
      org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]
  }
  private[ext] final class CheckpointRounds(
      spark: org.apache.spark.sql.SparkSession) {
    import CheckpointRounds.IRdd
    /** Set the instant an RDD is persisted; the caller clears it (null)
      * once an owner variable holds the returned RDD. */
    var pending: IRdd = null
    def eagerCheckpoint(df: DataFrame): (DataFrame, IRdd, Long) = {
      val r = df.queryExecution.toRdd.map(_.copy())
      r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pending = r
      r.localCheckpoint()
      val n = r.count() // materialize: lineage is truncated from here on
      (org.apache.spark.sql.graftbridge.GraftColumnBridge
        .internalCreateDataFrame(spark, r, df.schema), r, n)
    }
    /** Failure-path sweep: release the in-flight RDD unless an owner
      * variable (whose release the catch block handles itself) already
      * holds it. */
    def releasePendingUnless(owned: IRdd*): Unit =
      if (pending != null && !owned.exists(_ eq pending))
        pending.unpersist(false)
  }

  /** SUBSTRING-level dedup at ARBITRARY offsets (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): find
    * every length-`minLen` character window that occurs more than once
    * ANYWHERE in the corpus — any document, any offset, any phase — and
    * emit the merged duplicated spans of every non-first occurrence.
    * This is the gap the span-tile ([[dedupSpans]]) and shingle-anchored
    * ([[dedupSpansAnchored]]) stand-ins leave: tiles miss any offset shift,
    * anchors miss shifts below the anchor period; the suffix-ranks test is
    * EXACT string equality at every offset, no hashing anywhere.
    *
    * Mechanism: documents concatenate (in doc_id order) into one global
    * character frame with a DISTINCT separator code per document boundary
    * (−doc_id−1 — no window equality can cross a boundary);
    * [[prefixDoubleRanks]] runs a = ⌊log₂ minLen⌋ rounds, and the
    * length-minLen window fingerprint is the classic overlapping-power
    * pair (rank_a[i], rank_a[i + minLen − 2^a]) — exact equality of the
    * full window, since both halves lie inside the document for every
    * valid start. Fingerprint groups with >1 member are duplicates; the
    * minimum global position in each group is the retained original, and
    * every other member's [i, i + minLen) interval merges into the per-doc
    * duplicated spans (gaps-and-islands over positions sorted per doc).
    *
    * Returns (doc_id, span_start, span_len), span_start 0-based in doc
    * coordinates.
    *
    * Scale shape: offsets come from a partition-wise prefix sum (no
    * single-partition window); every prefix-doubling round is
    * position-keyed equi-joins plus one distinct + range-sort (the
    * distributed dense rank); round count is log₂ minLen — CONSTANT in the
    * corpus (16 → 4 rounds), not log n; per-round frames are exactly
    * corpus-character-sized with checkpointed lineage; the group test and
    * span merge are one fingerprint-keyed aggregation and one
    * doc-partitioned sort. Nothing is quadratic and nothing rides the
    * driver beyond per-partition sums. */
  def substringDupSpans(docs: DataFrame, idCol: String, textCol: String,
                        minLen: Int): DataFrame = {
    require(minLen >= 2 && minLen <= (1 << 20),
      s"minLen out of range: $minLen")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val a = 63 - java.lang.Long.numberOfLeadingZeros(minLen.toLong) // ⌊log₂⌋
    val tail = minLen - (1L << a)

    val lens = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"),
      // null text → length 0 (a null len would NPE the primitive-tuple
      // encoder inside the offset prefix sum)
      coalesce(length(col(textCol)).cast("long"), lit(0L)).as("len"))

    // partition-wise prefix sum of (len + 1) in doc_id order → global
    // offset per doc (the +1 reserves the separator slot)
    val sortedLens = lens.select(col("doc_id"), col("len"))
      .repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
      .as[(Long, Long)].rdd
    val partTotals = sortedLens
      .mapPartitionsWithIndex { (i, it) =>
        Iterator.single((i, it.map(_._2 + 1).sum))
      }.collect().sortBy(_._1).map(_._2)
    val bases = partTotals.scanLeft(0L)(_ + _)
    val offsets = sortedLens.mapPartitionsWithIndex { (i, it) =>
      var acc = bases(i)
      it.map { case (d, l) => val o = acc; acc += l + 1; (d, o) }
    }.toDF("doc_id", "offset")

    val withOff = lens.join(offsets, "doc_id")
    // size guard: sequence(1, 0) yields a DESCENDING [1, 0], which would
    // fabricate phantom characters for an empty document
    val codesOf = when(col("len") >= 1,
      transform(sequence(lit(1), col("len").cast("int")),
        i => ascii(col("text").substr(i, lit(1))).cast("long")))
      .otherwise(array().cast("array<long>"))
    val textChars = withOff
      .select(col("doc_id"), col("len"), col("offset"), posexplode(codesOf))
      .select(col("doc_id"), col("len"), col("col").as("code"),
        col("pos").cast("long").as("lpos"),
        (col("offset") + col("pos")).as("gpos"))
    val sepChars = withOff.select(col("doc_id"), col("len"),
      (-col("doc_id") - 1).as("code"), col("len").as("lpos"),
      (col("offset") + col("len")).as("gpos"))
    val chars = textChars.unionByName(sepChars)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chars.count(): Unit

    // PACKED REGIME: with n < 2³¹ characters and doc ids inside 31 bits
    // (⇒ every code, rank, gpos, and lpos fits a signed 32-bit half),
    // every corpus-sized exchange below ships packed longs — the rounds
    // carry gpos·2³²|rank, the fingerprint is ONE long (rank-pair packed),
    // and the window-start rows pack (doc_id, lpos). Both halves of the
    // regime test come from frames already at hand (the offset prefix sum
    // and one doc-level agg), not from a corpus rescan. Past the regime
    // the wide path runs unchanged.
    val maxDocId = lens.agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    val nTotal = bases.last
    val packedRegime = nTotal > 0 && nTotal < (1L << 31) &&
      maxDocId >= 0 && maxDocId < Int.MaxValue.toLong

    // prefixDoubleRanks* runs eager jobs: a failure inside it (or anywhere
    // before the self-release listener registers) must not strand the
    // persisted character frame in a long-lived session.
    val dups = if (packedRegime) {
      val ranks = // packed state (pr = gpos·2³² | rank)
        try prefixDoubleRanksPackedState(
          chars.select(col("gpos"), col("code")), a)
        catch { case t: Throwable => chars.unpersist(false); throw t }
      // fingerprint = (rank[i], rank[i + tail]) packed into one long —
      // both join sides ship a single packed word; the probe side is
      // keyed gpos − tail so the shifted rank surfaces at i
      val fps = ranks
        .join(ranks.select(col("pr").as("pr2")),
          hi32(col("pr")) === hi32(col("pr2")) - tail, "left")
        .select(hi32(col("pr")).as("gpos"),
          packHiLo(lo32(col("pr")),
            coalesce(lo32(col("pr2")), lit(NoRank32))).as("fp"))
      val starts = chars
        .where(col("lpos") + minLen <= col("len"))
        .select(packHiLo(col("doc_id"), col("lpos")).as("dl"), col("gpos"))
        .join(fps, "gpos")
      // group test as ONE fp-keyed window (unbounded frame): the
      // groupBy + join-back twin would co-shuffle the same start rows by
      // fp anyway AND recompute the fps join for the second consumer
      val wg = Window.partitionBy("fp")
      starts
        .select(col("dl"), col("gpos"),
          count(lit(1)).over(wg).as("_n"),
          min(col("gpos")).over(wg).as("_first"))
        .where(col("_n") > 1 && col("gpos") > col("_first"))
        .select(hi32(col("dl")).as("doc_id"), lo32(col("dl")).as("start"),
          (lo32(col("dl")) + minLen).as("end"))
    } else {
      val ranks =
        try prefixDoubleRanksWide(chars.select(col("gpos"), col("code")), a)
        catch { case t: Throwable => chars.unpersist(false); throw t }
      val second = ranks.select((col("gpos") - tail).as("gpos"),
        col("rank").as("_f2"))
      val fps = ranks.join(second, Seq("gpos"), "left")
        .select(col("gpos"), col("rank").as("_f1"),
          coalesce(col("_f2"), lit(NoRank)).as("_f2"))
      val starts = chars
        .where(col("lpos") + minLen <= col("len"))
        .select(col("doc_id"), col("lpos"), col("gpos"))
        .join(fps, "gpos")
      // same one-exchange window group test as the packed branch
      val wg = Window.partitionBy("_f1", "_f2")
      starts
        .select(col("doc_id"), col("lpos"), col("gpos"),
          count(lit(1)).over(wg).as("_n"),
          min(col("gpos")).over(wg).as("_first"))
        .where(col("_n") > 1 && col("gpos") > col("_first"))
        .select(col("doc_id"), col("lpos").as("start"),
          (col("lpos") + minLen).as("end"))
    }

    // gaps-and-islands merge of the covering intervals, per doc
    val w = Window.partitionBy("doc_id").orderBy("start")
    val prevMax = max(col("end")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val out = dups
      .withColumn("_new",
        when(col("start") > coalesce(prevMax, lit(Long.MinValue)), 1L)
          .otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("start")).as("span_start"),
        (max(col("end")) - min(col("start"))).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
    CacheScope.handOver(null, out, chars)
  }

  /** n-bit SimHash over pre-hashed tokens: bit i is set iff the sum over
    * tokens of ±1 (sign of hash-bit i) is positive. Near-dups then cluster
    * by fingerprint equality or small Hamming distance. The token hashes
    * must carry at least `bits` independent bits.
    * Native one-pass codegen'd expression
    * ([[graft.ext.expressions.SimHashExpr]]); bit-identical to the
    * per-bit-fold HOF twin (asserted in NativeExprSpec), minus
    * `bits` interpreted lambda folds per row. */
  private def simhashN(hashes: Column, bits: Int): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.SimHashExpr(
      GraftColumnBridge.expression(hashes), bits))
  }

  /** 16-bit SimHash (see [[simhashN]]) — compact and cheap; collision-prone
    * past ~10⁴ docs, where [[simhashWideOf]] is the scale path. */
  def simhash16(hashes: Column): Column = simhashN(hashes, 16)

  /** Hamming distance between two small fingerprints (bit_count of XOR). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Per-document SimHash frame: (id, simhash). */
  def simhashOf(df: DataFrame, idCol: String, textCol: String,
                tok: Tokenizer = Tokenizer.Whitespace): DataFrame =
    df.select(col(idCol),
        array_distinct(transform(words(col(textCol), tok), tokenHash(_))).as("hs"))
      .select(col(idCol), simhash16(col("hs")).as("simhash"))

  /** Banded Hamming-distance pair join over a fingerprint frame
    * (idCol, simhash): candidates are pairs agreeing on at least one of
    * `nBands` bit-bands of `bandBits` each, verified by exact Hamming
    * distance — and by pigeonhole the banding is EXACT, not approximate,
    * whenever `maxHamming < nBands`: that few differing bits cannot touch
    * every band. The shuffle key is the band bucket (the LSH shape again);
    * random-pair candidate volume is ~|corpus|²·nBands/2^bandBits, which is
    * why the wide fingerprint exists. Output: (a_id, b_id, hamming). */
  /** The band projection every banded-Hamming operator shares: posexplode
    * of `fp`'s `nBands` disjoint `bandBits`-bit slices as (band, v) — ONE
    * definition of the slicing geometry. The pigeonhole-exactness contract
    * (`maxHamming < nBands`) between the pair join, the store probe, the
    * video frame joins, and the streaming twin depends on every site
    * slicing identically; a drifted copy would silently break the
    * batch ≡ probe ≡ streaming equivalences their specs pin. */
  private[graft] def fpBands(fp: Column, nBands: Int, bandBits: Int): Column =
    posexplode(array((0 until nBands).map(b =>
      shiftright(fp, b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1))): _*))

  def bandedHammingPairs(fp: DataFrame, idCol: String, nBands: Int,
                         bandBits: Int, maxHamming: Int,
                         scope: CacheScope = null): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBands,
      s"banded candidates are exact only for maxHamming < nBands ($nBands), got $maxHamming")
    // both join sides read the fingerprints — persist them, or the simhash
    // expression (60 md5+fold terms per doc for the wide path) is computed
    // twice plus a double source scan (same pathology nearDupPairs guards)
    val f = fp.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = f.select(col(idCol), col("simhash"),
        fpBands(col("simhash"), nBands, bandBits))
      .toDF(idCol, "simhash", "band", "v")
    val a = banded.select(col("band"), col("v"), col(idCol).as("a_id"),
      col("simhash").as("fp_a"))
    val b = banded.select(col("band"), col("v"), col(idCol).as("b_id"),
      col("simhash").as("fp_b"))
    val out = a.join(b, Seq("band", "v"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming(col("fp_a"), col("fp_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct() // a pair can agree on several bands
    CacheScope.handOver(scope, out, f)
  }

  /** 64-bit Hamming near-dup pairs — the PERCEPTUAL-FINGERPRINT join
    * (image dHash via [[graft.ext.Multimodal.imageDHash]], audio
    * fingerprints, any 64-bit locality hash): 8 bands of 8 bits, exact
    * for hamming ≤ 7 by pigeonhole, same banded shape as the SimHash
    * joins (band-keyed equi-join, per-pair bit_count verify — never
    * all-pairs). */
  def hammingPairs64(fp: DataFrame, idCol: String, fpCol: String,
                     maxHamming: Int = 4, scope: CacheScope = null): DataFrame =
    bandedHammingPairs(fp.select(col(idCol), col(fpCol).as("simhash")),
      idCol, nBands = 8, bandBits = 8, maxHamming = maxHamming, scope = scope)

  /** INCREMENTAL perceptual near-dup: probe a BATCH of 64-bit fingerprints
    * against a SERVED fingerprint store — the "is this image already in the
    * corpus" operator a LAION-shaped ingest runs per drop, the
    * Hamming-space sibling of [[nearDupAgainstBandedStore]]. The store is
    * the plain (id, fingerprint) frame the ingest appends to (8 bytes of
    * state per asset — banding is a pure 8-way projection, so unlike the
    * minhash store there is nothing to materialize beyond the fingerprints
    * themselves); both sides band in-scan (8 bands × 8 bits — exact for
    * `maxHamming` ≤ 7 by pigeonhole, same geometry as [[hammingPairs64]]).
    *
    * Exchange shape at the design point (store ≫ batch): with
    * `broadcastBatch` on (default), the batch's 8·|batch| banded rows
    * broadcast and the store STREAMS from storage through the hash join —
    * no store shuffle, no store-side window, per-batch cost bounded by the
    * batch and the matched buckets. For batches too large to broadcast
    * (≳10⁷ fingerprints), disable it and both sides exchange on (band, v).
    *
    * Output: (batch_id, store_id, hamming) distinct, hamming ≤ maxHamming. */
  def hammingAgainstStore64(store: DataFrame, batch: DataFrame,
                            idCol: String, fpCol: String,
                            maxHamming: Int = 4,
                            broadcastBatch: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 8,
      s"banded candidates are exact only for maxHamming < 8 bands, got $maxHamming")
    def banded(fp: DataFrame, side: String): DataFrame =
      fp.select(col(idCol).as(s"${side}_id"), col(fpCol).as(s"${side}_fp"),
          fpBands(col(fpCol), 8, 8).as(Seq("band", "v")))
        .select(col("band"), col("v"), col(s"${side}_id"), col(s"${side}_fp"))
    val b0 = banded(batch, "batch")
    val b = if (broadcastBatch) broadcast(b0) else b0
    b.join(banded(store, "store"), Seq("band", "v"))
      .select(col("batch_id"), col("store_id"),
        hamming(col("batch_fp"), col("store_fp")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct() // a pair can agree on several bands
  }

  /** Persist a (id, fingerprint) store for [[hammingAgainstStore64]] with
    * its FAMILY recorded in the [[StoreMeta]] sidecar: the 64-bit frame
    * itself is family-blind (image dHash, audio window prints, and text
    * SimHash all fit), so probing a dHash store with audio prints is
    * type-correct and silently near-empty — the sidecar makes it an
    * exception instead. `family` names the producing hash (e.g.
    * "image-dhash-9x8", "audio-window-prints"); the probe's
    * [[fingerprintStoreOpen]] must present the same string. */
  def fingerprintStoreWrite(fp: DataFrame, idCol: String, fpCol: String,
                            dir: String, family: String): Unit = {
    fp.select(col(idCol), col(fpCol))
      .write.mode("overwrite").parquet(dir)
    StoreMeta.write(fp.sparkSession, dir, "fingerprint64",
      Map("family" -> family, "bits" -> "64",
        "idCol" -> idCol, "fpCol" -> fpCol))
  }

  /** Open a [[fingerprintStoreWrite]] store, verifying the fingerprint
    * family loudly before any probe joins it. */
  def fingerprintStoreOpen(spark: org.apache.spark.sql.SparkSession,
                           dir: String, family: String): DataFrame = {
    StoreMeta.check(spark, dir, "fingerprint64",
      Map("family" -> family, "bits" -> "64"))
    spark.read.parquet(dir)
  }

  /** SimHash near-dup pairs over the 16-bit fingerprints: 4 nibble bands,
    * exact for hamming <= 3. Fine up to ~10⁴ docs; past that the nibble
    * buckets saturate (16 values each) — use [[simhashPairsWide]]. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 2, scope: CacheScope = null,
                   tok: Tokenizer = Tokenizer.Whitespace): DataFrame =
    bandedHammingPairs(simhashOf(df, idCol, textCol, tok), idCol,
      nBands = 4, bandBits = 4, maxHamming = maxHamming, scope = scope)

  /** Per-document wide (60-bit) SimHash frame: (id, simhash). */
  def simhashWideOf(df: DataFrame, idCol: String, textCol: String,
                    tok: Tokenizer = Tokenizer.Whitespace): DataFrame =
    df.select(col(idCol),
        array_distinct(transform(words(col(textCol), tok),
          tokenHashWide(_))).as("hs"))
      .select(col(idCol), simhashN(col("hs"), 60).as("simhash"))

  /** The at-scale SimHash pair join: 60-bit fingerprints in 6 bands of 10
    * bits — exact for hamming <= 5, with ~2⁻¹⁰ per-band random collision
    * instead of the 16-bit variant's 2⁻⁴, so candidate volume stays sane on
    * a corpus where 16 bits saturate. Same portable md5 arithmetic (15 hex
    * digits — the widest prefix inside signed int64 everywhere). */
  def simhashPairsWide(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 4, scope: CacheScope = null,
                       tok: Tokenizer = Tokenizer.Whitespace): DataFrame =
    bandedHammingPairs(simhashWideOf(df, idCol, textCol, tok), idCol,
      nBands = 6, bandBits = 10, maxHamming = maxHamming, scope = scope)

  /** Resolve near-dup PAIRS into duplicate CLUSTERS: connected components
    * over the pair graph, labeling every member with the minimum id in its
    * component under the id type's ordering (the canonical survivor). This
    * is the step pairwise dedup pipelines forget — without it, A≈B and B≈C
    * dedup to two survivors. One (id, rep) row per node of a kept edge;
    * edges with a null endpoint and self-pairs are dropped.
    *
    * The one connected-components entry point; the input's size picks the
    * algorithm. The canonical edge list is checkpointed once, which gives
    * its count. At catalog sizes a distributed CC costs rounds of Spark
    * jobs, not data, so an edge list within [[ccFitsDriver]]'s budget whose
    * id type has a driver-side ordering is collected from the checkpoint's
    * cached blocks and resolved by union-find on the driver — one collect
    * after the checkpoint's own jobs, no round loop; the labels come back as
    * a local relation and the checkpoint is released at once. Any other edge list continues into the
    * large/small-star rounds of [[connectedComponentsStar]] from the same
    * checkpoint; `maxIter` bounds those rounds (throwing past it —
    * silently-wrong clusters would under-dedup) and `scope` owns their final
    * checkpoint. */
  def duplicateClusters(pairs: DataFrame, aCol: String = "a_id",
                        bCol: String = "b_id", maxIter: Int = 30,
                        scope: CacheScope = null): DataFrame = {
    import org.apache.spark.sql.types._
    val edges @ (edgeFrame, edgeRdd, edgeCount) =
      connectedComponentsEdges(pairs, aCol, bCol)
    val idType = edgeFrame.schema("x").dataType
    // (id, rep) are nullable iff either pair column is, on both paths
    val nullable = pairs.select(col(aCol), col(bCol)).schema.exists(_.nullable)
    // `defaultSize` counts a string at 20 bytes whatever its length, so
    // String ids within that estimate are measured as well (one aggregate
    // over the cached edges) before they go to the driver
    val heap = Runtime.getRuntime.maxMemory
    def fits = ccFitsDriver(edgeCount * edgeFrame.schema.defaultSize, heap) &&
      (idType != StringType || ccFitsDriver(edgeFrame.select(coalesce(sum(
        octet_length(col("x")) + octet_length(col("y"))), lit(0L))).head.getLong(0), heap))
    idType match {
      // id types whose internal values hash and compare equal exactly when
      // Spark groups them together; any other id type takes the star rounds
      case ByteType | ShortType | IntegerType | LongType | StringType |
           DateType | TimestampType | TimestampNTZType if fits =>
        val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(idType)
        val rows = try edgeRdd.collect() finally edgeRdd.unpersist(false)
        // union-find keeping each root at its component's minimum
        val node = rows.flatMap(e => Array(e.get(0, idType), e.get(1, idType))).distinct
        val index = node.zipWithIndex.toMap
        val parent = Array.range(0, node.length)
        def root(i: Int): Int = {
          var r = i
          while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
          r
        }
        rows.foreach { e =>
          val a = root(index(e.get(0, idType)))
          val b = root(index(e.get(1, idType)))
          if (a != b) { if (ord.lt(node(a), node(b))) parent(b) = a else parent(a) = b }
        }
        val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(idType)
        pairs.sparkSession.createDataFrame(
          java.util.Arrays.asList(node.indices.map(i =>
            org.apache.spark.sql.Row(toScala(node(i)), toScala(node(root(i))))): _*),
          new StructType().add("id", idType, nullable).add("rep", idType, nullable))
      case _ =>
        import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column, expression}
        val labels = connectedComponentsStarRounds(edges, maxIter, scope)
        // the rounds' min aggregates widen nullability; narrow it back
        if (nullable) labels
        else labels.select(Seq("id", "rep").map(c => column(
          org.apache.spark.sql.catalyst.expressions.KnownNotNull(
            expression(col(c)))).as(c)): _*)
    }
  }

  /** Share of the driver heap [[duplicateClusters]] may budget for the
    * bytes of an edge list it resolves locally. Measured in `local[2]` with
    * a 1 GiB heap on graphs of 8-node trees: at this share (168k Long
    * edges, 21k edges of 64-character String ids) the driver path's heap
    * peak stayed at or below the star rounds' on the same graph, and the
    * clustering plus one downstream join took a third of star's time or
    * less. At twice the share (335k Long edges) its live heap reached ~0.7
    * of the heap; 256-character String ids budgeted at `defaultSize` alone
    * filled it. */
  private val DriverCcHeapFraction = 0.0025

  /** Whether an edge list of `edgeBytes` (edge count times the edge
    * schema's `defaultSize`, or measured) fits the driver union-find
    * budget of a `heapBytes` heap. */
  private[ext] def ccFitsDriver(edgeBytes: Long, heapBytes: Long): Boolean =
    edgeBytes <= heapBytes * DriverCcHeapFraction

  /** The canonical edge list both CC algorithms start from, checkpointed
    * once: one (x, y) row per undirected edge with x > y. A null endpoint
    * makes greatest = least, so such edges drop with the self-pairs.
    * Returns the frame, its checkpointed RDD and the edge count. */
  private def connectedComponentsEdges(pairs: DataFrame, aCol: String,
      bCol: String): (DataFrame, CheckpointRounds.IRdd, Long) = {
    val cp = new CheckpointRounds(pairs.sparkSession)
    try cp.eagerCheckpoint(
      pairs.select(greatest(col(aCol), col(bCol)).as("x"),
          least(col(aCol), col(bCol)).as("y"))
        .where(col("x") =!= col("y")).distinct())
    catch { case t: Throwable => cp.releasePendingUnless(); throw t }
  }

  /** Connected components by LARGE-STAR / SMALL-STAR alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC 2014):
    * the distributed algorithm behind [[duplicateClusters]] for edge lists
    * past its driver budget, here run on every input. Same contract: one
    * (id, rep) row per node of a kept edge, rep = the component's minimum
    * id; null-endpoint edges and self-pairs are dropped.
    *
    * The star operations rewrite the EDGE LIST itself toward its fixpoint
    * (every component a star centered on its minimum): per-round shuffle is
    * the current edge set, which collapses as components resolve, and
    * convergence is O(log n) rounds on any topology, long paths included.
    *
    * One round is two halves over the symmetrized neighbor view:
    *  - LARGE-STAR: every node u links each LARGER neighbor v to
    *    m(u) = min(N(u) ∪ u) — strictly-decreasing reattachment that
    *    cannot lose connectivity (v stays reachable from u via m);
    *  - SMALL-STAR: every node u links each smaller-or-equal neighbor —
    *    and itself — to its minimum SMALLER neighbor, collapsing the
    *    chains large-star leaves.
    * Both emit (bigger, smaller) pairs only, so the edge set stays
    * canonical; the fixpoint (edge set unchanged by a full round) is
    * exactly the star forest, checked here structurally (a rep never
    * appears as a member) before labels are emitted.
    *
    * Scale shape: per half-round, one hash aggregation keyed on the node
    * (the per-node minimum) and one join keyed on the node — no label
    * table, no window, no driver-side graph. Every round's edge frame is
    * materialized via the [[CheckpointRounds]] discipline (lineage would
    * otherwise double per round), the superseded round released
    * immediately; `scope` owns the final round's checkpoint. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String = "a_id",
                              bCol: String = "b_id", maxIter: Int = 30,
                              scope: CacheScope = null): DataFrame =
    connectedComponentsStarRounds(
      connectedComponentsEdges(pairs, aCol, bCol), maxIter, scope)

  /** The star rounds of [[connectedComponentsStar]] from a checkpointed
    * canonical edge list, which they take ownership of. */
  private def connectedComponentsStarRounds(
      first: (DataFrame, CheckpointRounds.IRdd, Long), maxIter: Int,
      scope: CacheScope): DataFrame = {
    var (edges, edgeRdd, edgeCount) = first
    val cp = new CheckpointRounds(edges.sparkSession)
    // symmetric neighbor view of a canonical (x > y) edge frame
    def nbrs(e: DataFrame): DataFrame =
      e.select(col("x").as("u"), col("y").as("v"))
        .unionByName(e.select(col("y").as("u"), col("x").as("v")))
    var converged = false
    var iter = 0
    try {
      while (!converged && iter < maxIter) {
        // LARGE-STAR: (v, m(u)) for every neighbor v > u
        val s = nbrs(edges)
        val m = s.groupBy(col("u")).agg(min(col("v")).as("_mv"))
          .select(col("u"), least(col("u"), col("_mv")).as("m"))
        val large = s.where(col("v") > col("u")).join(m, "u")
          .select(col("v").as("x"), col("m").as("y"))
          .where(col("x") =!= col("y")).distinct()
        // SMALL-STAR over the large-star output: every node with smaller
        // neighbors links them — and itself — to the minimum one
        val s1 = nbrs(large).where(col("v") < col("u"))
        val ms = s1.groupBy(col("u")).agg(min(col("v")).as("m"))
        val small = s1.join(ms, "u")
          .select(col("v").as("x"), col("m").as("y"))
          .unionByName(ms.select(col("u").as("x"), col("m").as("y")))
          .where(col("x") =!= col("y")).distinct()
        val (next, nextRdd, nextCount) = cp.eagerCheckpoint(small)
        // fixpoint test: same canonical edge SET as last round — set sizes
        // equal and their distinct union no larger
        converged = nextCount == edgeCount &&
          next.unionByName(edges).distinct().count() == nextCount
        edgeRdd.unpersist(false)
        edges = next; edgeRdd = nextRdd; edgeCount = nextCount
        cp.pending = null
        iter += 1
      }
      require(converged,
        s"star connected components did not converge in $maxIter rounds — raise maxIter")
      // structural star check: at the fixpoint no rep is also a member
      require(edges.select(col("y")).distinct()
          .join(edges.select(col("x")).distinct(),
            col("y") === col("x"), "left_semi").isEmpty,
        "star fixpoint violated: a component representative is itself re-attached")
    } catch {
      case t: Throwable =>
        edgeRdd.unpersist(false)
        cp.releasePendingUnless(edgeRdd)
        throw t
    }
    CacheScope.handOverCheckpoint(scope, edgeRdd)
    edges.select(col("x").as("id"), col("y").as("rep"))
      .unionByName(edges.select(col("y").as("id"), col("y").as("rep")).distinct())
  }

  /** Quality-priority survivor selection: given duplicate-cluster labels
    * ([[duplicateClusters]] output: one (id, rep) row per clustered doc) and
    * a per-document quality score, pick each cluster's BEST member — max
    * quality, ties to the smallest id — instead of the min-id default. This
    * is how production dedup keeps the cleanest copy of a duplicated page
    * rather than whichever crawl happened to get the lowest id.
    *
    * Scale shape: one join keyed on the id, then one hash aggregation on the
    * cluster label with map-side partials — `max(struct(quality, -id))` is
    * an ordinary partial-aggregating max (a mega-cluster collapses to one
    * row per map partition before the exchange), where the rank-window
    * formulation the oracle restates would buffer every member of a cluster
    * in one task. The negated id turns "min id on quality tie" into plain
    * struct-max ordering. */
  def qualitySurvivors(clusters: DataFrame, quality: DataFrame,
                       idCol: String, qCol: String): DataFrame = {
    val q = quality.select(col(idCol).as("id"), col(qCol).cast("long").as("_q"))
    clusters.join(q, "id")
      .groupBy(col("rep"))
      .agg(max(struct(col("_q"), (-col("id")).as("_negid"))).as("_best"))
      .select(col("rep"), (-col("_best._negid")).as("survivor_id"),
        col("_best._q").as("quality"))
  }

  /** Direct blocked n-gram-Jaccard near-dup: all pairs within a blocking key
    * (e.g. language), char-n-gram Jaccard >= threshold. Quadratic within a
    * block — use only with strong blocking; MinHash LSH is the unblocked
    * scale path. */
  def blockedNgramPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int = 4,
                        threshold: Double = 0.4): DataFrame = {
    val sh = df
      .select(col(idCol), col(blockCol), charShingles(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
    sh.select(col(blockCol), col(idCol).as("a_id"), col("sh").as("sh_a"))
      .join(sh.select(col(blockCol), col(idCol).as("b_id"), col("sh").as("sh_b")),
        Seq(blockCol))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Direct blocked edit-distance near-dup: all pairs within a blocking key
    * at Levenshtein distance <= `maxDist` — the right family for short
    * near-identical records (titles, names, URLs) where set-similarity
    * shingles carry too little signal per string. Quadratic within a block
    * like [[blockedNgramPairs]] — strong blocking required. Unit-cost
    * Levenshtein is the engine-standard definition, so distances are
    * integer-exact everywhere; the threshold form of Spark's builtin
    * abandons a pair's DP as soon as the distance provably exceeds
    * `maxDist` (banded O(maxDist·len) per pair, not O(len²)). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    val t0 = df.select(col(idCol), col(blockCol), col(textCol))
    t0.select(col(blockCol), col(idCol).as("a_id"), col(textCol).as("_ta"))
      .join(t0.select(col(blockCol), col(idCol).as("b_id"), col(textCol).as("_tb")),
        Seq(blockCol))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("_ta"), col("_tb"), maxDist).as("edit_dist"))
      .where(col("edit_dist") =!= -1)
  }

  /** EXACT set-similarity self-join via prefix filtering — the PPJoin-family
    * algorithm (Chaudhuri et al. SSJoin 2006, Xiao et al. PPJoin 2008):
    * every (a < b) pair of documents whose word SETS have Jaccard >=
    * `thresholdNum / thresholdDen`, with NO false negatives and no blocking
    * key. This is the exact complement to the estimate-based families here
    * ([[nearDuplicates]] can miss a true pair with signature probability;
    * [[blockedNgramPairs]] only sees pairs sharing a caller-chosen block) —
    * prefix filtering gets exactness from a theorem instead of a budget:
    *
    * Order every document's tokens by ascending document frequency (rarest
    * first, ties by token). With `s` tokens and threshold `t`, a Jaccard
    * match needs overlap `>= ceil(t·s)` with ANY partner (union >= either
    * size), so the intersection cannot fit inside the last `ceil(t·s) − 1`
    * tokens of either side: two matching documents MUST share a token in
    * their first `s − ceil(t·s) + 1` tokens. Candidates are therefore an
    * equi-join on PREFIX tokens only, and the df-ascending order puts the
    * rarest — least-joinable — tokens in the prefix: a stopword-class token
    * lands in a prefix only for documents that are almost entirely
    * stopwords. A size filter (`den·min >= num·max` — a match's sizes are
    * within the threshold's ratio) prunes candidates before verification.
    *
    * The threshold is a RATIONAL `num/den`, and the verdict is the integer
    * cross-multiplication `den·|a∩b| >= num·|a∪b|` — no float division on
    * the gate, so the emitted evidence (`inter_cnt`, `union_cnt`) is
    * integer-exact and engine-portable. Output: (a_id, b_id, inter_cnt,
    * union_cnt).
    *
    * Scale shape: the df table is a vocabulary-sized aggregation; the
    * ordering join is token-keyed; the candidate join is keyed on prefix
    * tokens (shuffle = prefix occurrences, not documents²); verification
    * joins the candidate PAIR LIST back to the token-array frame by id —
    * token arrays cross the verify exchange once per candidate side rather
    * than riding every prefix-token row. Degenerate corpora (one token in
    * every document) are quadratic — as they are for any exact algorithm,
    * since the true result itself is quadratic there.
    *
    * Documents with zero (non-empty) tokens are excluded: their Jaccard
    * against anything is 0/undefined and they would otherwise pair with
    * nothing anyway. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         thresholdNum: Long = 1L, thresholdDen: Long = 2L,
                         scope: CacheScope = null,
                         tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 && thresholdNum <= thresholdDen,
      s"threshold must be a rational in (0, 1]: $thresholdNum/$thresholdDen")
    import FixedPoint.DivOps
    val occ = df
      .select(col(idCol),
        explode(array_distinct(filter(words(col(textCol), tok),
          t => length(t) > 0))).as("token"))
    val tdf = occ.groupBy(col("token")).agg(count(lit(1)).as("tdf"))
    // per-document tokens sorted by (df asc, token asc) — a strict total
    // order (tokens are distinct within a doc), so prefixes are
    // deterministic; struct sort is lexicographic by field position
    val ordered = occ.join(tdf, "token")
      .groupBy(col(idCol))
      .agg(transform(sort_array(collect_list(struct(col("tdf"), col("token")))),
        s => s.getField("token")).as("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = size(col("ts")).cast("long")
    // prefix length p = s − ceil(t·s) + 1, integer-exact:
    // ceil(num·s / den) = (num·s + den − 1) div den; 1 <= p <= s for t <= 1
    val p = (sz - (sz * lit(thresholdNum) + lit(thresholdDen - 1))
      .divLong(lit(thresholdDen)) + lit(1L))
    val pref = ordered.select(col(idCol), sz.as("sz"),
      explode(slice(col("ts"), lit(1), p.cast("int"))).as("token"))
    val cand = pref.select(col("token"), col(idCol).as("a_id"), col("sz").as("sa"))
      .join(pref.select(col("token"), col(idCol).as("b_id"), col("sz").as("sb")),
        Seq("token"))
      .where(col("a_id") < col("b_id") &&
        lit(thresholdDen) * least(col("sa"), col("sb")) >=
          lit(thresholdNum) * greatest(col("sa"), col("sb")))
      .select(col("a_id"), col("b_id"))
      .distinct() // a pair can share several prefix tokens
    val out = overlapPairs(cand, "a_id", "b_id", ordered, ordered, idCol, "ts")
      .select(col("a_id"), col("b_id"), col("ni").cast("long").as("inter_cnt"),
        (col("na") + col("nb")).cast("long").as("_sab"))
      .select(col("a_id"), col("b_id"), col("inter_cnt"),
        (col("_sab") - col("inter_cnt")).as("union_cnt"))
      .where(lit(thresholdDen) * col("inter_cnt") >=
        lit(thresholdNum) * col("union_cnt"))
    CacheScope.handOver(scope, out, ordered)
  }

  /** Incremental dedup of a new batch against a historical store, EXACT
    * result with ZERO shuffle of the store — the continuously-ingesting
    * pipeline's workhorse (every fresh crawl must be checked against
    * everything already kept; at 100 TB the store side must never be
    * re-partitioned just to admit a batch a thousandth its size).
    *
    * Three passes, none of which exchanges a store row:
    *  1. the store's key column is folded into a Bloom filter by Spark's
    *     own codegen'd `BloomFilterAggregate` (partial filters OR-merge
    *     map-side; only fixed-size bitset blobs reach the driver — the
    *     runtime-filter machinery Spark itself injects for join pruning,
    *     driven here explicitly via the catalyst bridge);
    *  2. the batch is filtered by `BloomFilterMightContain` against the
    *     broadcast blob — no false negatives, so unflagged rows are
    *     PROVABLY new and never touch a join;
    *  3. the candidate keys (true dups + the fpp share of false positives,
    *     both ≪ batch) are broadcast against the store for an exact
    *     confirm, and confirmed keys anti-join the batch. An xxhash64
    *     collision inside the filter only costs a candidate row — the
    *     confirm join compares the key VALUE, so the result is exact.
    *
    * Returns the batch rows whose `keyCol` does not occur in `hist` —
    * identical to `batch.join(hist, key, "left_anti")`, which remains the
    * right call when batch and store are the same order of magnitude
    * (then nothing is small enough to broadcast and the plain anti-join's
    * symmetric shuffle is the honest price).
    *
    * `expectedHistItems`/`fpp` size the filter (bits ≈ -n·ln(fpp)/ln²2 —
    * 1.2 GB at 10⁹ keys/1 % fpp, fine to broadcast); undersizing only
    * raises the false-positive share routed to the confirm join, never
    * breaks exactness.
    *
    * Sizing gotcha, handled here: `BloomFilterAggregate` (and Spark 4's
    * `stat.bloomFilter`, which delegates to it) CEILINGS its sizing at the
    * runtime-join-filter confs
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`,
    * 4M items / 8 MB by default — tuned for Spark's own injected join
    * pruning, not for an explicit store-membership filter). Left alone that
    * ceiling would cap this operator's filter ~250× below its 10⁹-key
    * design point and melt the fpp toward 1, flooding the confirm join.
    * The build therefore runs on a CLONED session (`newSession()` — shared
    * SparkContext, isolated SQL conf) with the two confs raised to its own
    * sizing: the raise is invisible to the caller's session, so queries
    * planned concurrently never see loosened runtime-filter ceilings and
    * two concurrent builds cannot interleave a save/restore on shared
    * state (the race a conf-mutating version of this build would have).
    *
    * Broadcast lifecycle: the blob broadcast is DESTROYED once the first
    * action consuming the returned frame completes (scope-less default) —
    * without that, the operator's own design loop (per-batch calls in a
    * long-lived continuous-ingest session, [[Curation.Config.history]])
    * accumulates executor-resident GB blobs until the session dies. A
    * scope-less caller therefore gets a SINGLE-consumption frame: persist
    * the result (as [[Curation]] does) or pass a [[CacheScope]], which
    * takes ownership and destroys the blob at `close()`, to consume it
    * more than once. A second action racing the async release at worst
    * fails loudly on the destroyed broadcast — never silently wrong. */
  /** Per-document PORTABLE minhash-signature frame — the near-dup index AS
    * DATA: the frame a continuous-ingest deployment materializes per batch
    * and unions into its store (signatures are a pure per-row function, so
    * `minhashStore(a) ∪ minhashStore(b) ≡ minhashStore(a ∪ b)` exactly —
    * the ivfAssign append law applied to near-dup state). The signature
    * family is [[minhashSignature60]] (keyed-md5 60-bit longs), the one an
    * external oracle restates. Docs with fewer than `shingleLen` words
    * carry no shingles and emit NO row (the streaming operator's own
    * pre-filter). Returns (id, sig: array<long> of length numHashes). */
  def minhashStore(df: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 3, numHashes: Int = 16,
                   tok: Tokenizer = Tokenizer.Whitespace): DataFrame =
    // the md5-string signature projection is the CPU (numHashes passes ×
    // md5 per shingle) and a narrow input (one parquet split) would run it
    // in a single task — widen first, the nearDupPairs discipline
    ensureParallelism(df.where(size(words(col(textCol), tok)) >= shingleLen))
      .select(col(idCol).as("id"),
        minhashSignature60(col(textCol), shingleLen, numHashes, tok).as("sig"))

  /** INCREMENTAL near-dup against a SERVED signature store — the batch
    * twin of [[graft.streaming.EventTimeOps.streamingNearDedup]] and the
    * near-dup sibling of [[newAgainstHistory]]: "does this batch
    * near-duplicate anything previously KEPT?", answered WITHOUT
    * re-reading (or even storing) the history's text. The batch computes
    * its own signatures with the store's family; both sides band
    * (`bandRows` signature rows per band — the LSH recall law, 1-row
    * bands ⇒ P[candidate | jaccard j] = 1-(1-j)^numHashes); candidates
    * join on (band, value) and score by signature-position agreement with
    * EXACTLY the streaming operator's rule (agree/numHashes ≥ threshold —
    * an estimate; route flagged pairs through exact verification when
    * false positives matter).
    *
    * Scale shape: the exchange is keyed on band VALUES and carries
    * signature rows (numHashes longs), never documents; the store side of
    * a band bucket truncates to its `maxBucketSize` lowest ids
    * ([[AdaptiveBucket]] derives c·√N) so a boilerplate band cannot go
    * quadratic — the streaming op's maxPerBucket valve in batch form.
    * Returns (batch_id, store_id, n_agree, est_jaccard), deduplicated
    * (a pair can agree on several bands). */
  def nearDupAgainstStore(store: DataFrame, batch: DataFrame, idCol: String,
                          textCol: String, shingleLen: Int = 3,
                          numHashes: Int = 16, threshold: Double = 0.5,
                          bandRows: Int = 1,
                          maxBucketSize: Int = Int.MaxValue,
                          tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(numHashes % bandRows == 0,
      s"numHashes $numHashes must be a multiple of bandRows $bandRows")
    require(maxBucketSize > 0 || maxBucketSize == AdaptiveBucket,
      s"maxBucketSize must be positive or Dedup.AdaptiveBucket: $maxBucketSize")
    // Capped operation here re-derives representatives with a STORE-WIDE
    // window (plus, for AdaptiveBucket, a store count) on every batch — at
    // the design point (huge store, small batch) that is the wrong cost
    // shape. Continuous-ingest deployments should materialize the capped
    // representatives ONCE via [[minhashStoreBanded]], maintain them with
    // [[minhashStoreBandedAppend]], and probe with
    // [[nearDupAgainstBandedStore]] — no per-batch store exchange at all.
    // The capped path below stays for one-shot callers; the sizing count
    // at least runs over a persisted signature frame (self-released) so
    // the md5-heavy projection is not computed twice.
    val storeP =
      if (maxBucketSize == AdaptiveBucket)
        store.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else store
    val cap =
      if (maxBucketSize != AdaptiveBucket) maxBucketSize
      else adaptiveBucketCap(storeP.count())
    // the rank exchange of the cap shares the candidate join's key
    val sCapped = capBuckets(bandedSig(storeP, "store", numHashes, bandRows), cap)
    val b = bandedSig(
      minhashStore(batch, idCol, textCol, shingleLen, numHashes, tok), "batch",
      numHashes, bandRows)
    CacheScope.handOver(null, bandedAgreementJoin(b, sCapped, numHashes,
      threshold), if (maxBucketSize == AdaptiveBucket) storeP else null)
  }

  /** Band-explode a signature frame (id, sig) into one row per band:
    * (band, v, ${side}_id, ${side}_sig) with `v` the ':'-joined band slice
    * — the LSH bucket key shared by the store/probe joins and the served
    * banded store's layout. */
  private def bandedSig(sig: DataFrame, side: String, numHashes: Int,
                        bandRows: Int): DataFrame = {
    val nBands = numHashes / bandRows
    sig.select(col("id").as(s"${side}_id"), col("sig").as(s"${side}_sig"),
      posexplode(array((0 until nBands).map(i =>
        concat_ws(":", slice(col("sig"), i * bandRows + 1, bandRows))): _*))
        .as(Seq("band", "v")))
      .select(col("band"), col("v"), col(s"${side}_id"), col(s"${side}_sig"))
  }

  /** The store-probe candidate join + signature-agreement filter shared by
    * [[nearDupAgainstStore]] and [[nearDupAgainstBandedStore]]: join on the
    * (band, v) bucket key, score by positional agreement, threshold, dedup
    * (a pair can agree on several bands). */
  private def bandedAgreementJoin(batchBanded: DataFrame, storeBanded: DataFrame,
                                  numHashes: Int, threshold: Double): DataFrame = {
    // native positional-agreement kernel: the zip_with + aggregate HOF twin
    // (kept in the specs for the bit-identity check) is
    // CodegenFallback and ran the lambda interpreter once per shared-band
    // candidate — the probe stage's measured cost at high candidate counts
    val agree = sigAgree(col("batch_sig"), col("store_sig"))
    batchBanded.join(storeBanded, Seq("band", "v"))
      .select(col("batch_id"), col("store_id"), agree.as("n_agree"))
      .where(col("n_agree").cast("double") / numHashes >= threshold)
      .select(col("batch_id"), col("store_id"), col("n_agree"),
        (col("n_agree").cast("double") / numHashes).as("est_jaccard"))
      .distinct()
  }

  /** Deterministic bucket representatives: the `cap` lowest `store_id`s
    * of each (band, v) bucket of a banded store frame (`Int.MaxValue`
    * keeps every row). */
  private[ext] def capBuckets(banded: DataFrame, cap: Int): DataFrame =
    if (cap == Int.MaxValue) banded
    else {
      import org.apache.spark.sql.expressions.Window
      banded.withColumn("_bn", row_number().over(
          Window.partitionBy("band", "v").orderBy("store_id")))
        .where(col("_bn") <= cap).drop("_bn")
    }

  private def sigAgree(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.SigAgreeExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** MATERIALIZED capped band-representative store — the served LSH-bucket
    * state as data, built ONCE: [[minhashStore]]'s signatures band-exploded
    * to (band, v, store_id, store_sig) with each (band, v) bucket truncated
    * to its `cap` LOWEST ids. This is the frame a continuous-ingest
    * deployment writes next to its corpus and probes per batch via
    * [[nearDupAgainstBandedStore]] — the construction window shuffle is
    * paid exactly once, never per batch (the cost shape
    * [[nearDupAgainstStore]]'s inline capping gets wrong at scale).
    *
    * `cap` is part of the STORED STATE'S CONTRACT: it must stay fixed for
    * the store's lifetime ([[AdaptiveBucket]] is rejected — a cap derived
    * from a growing N would change which representatives are kept and break
    * append stability). Representatives are append-stable under monotone
    * ingest ids: the cap lowest ids of a bucket never change once the
    * bucket is full, and [[minhashStoreBandedAppend]] only inserts into
    * non-full buckets.
    *
    * Size shape: numHashes/bandRows rows per doc, each carrying the
    * signature (the per-bucket state the streaming twin keeps in its state
    * store) — for 16 one-row bands ≈ 16 × (16 longs + key) ≈ 2–3 KB/doc,
    * orders of magnitude under the raw text it indexes; raise `bandRows`
    * to shrink it (fewer, more selective bands — the standard LSH recall
    * trade). */
  def minhashStoreBanded(docs: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, numHashes: Int = 16,
                         bandRows: Int = 1,
                         cap: Int = Int.MaxValue,
                         tok: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(numHashes % bandRows == 0,
      s"numHashes $numHashes must be a multiple of bandRows $bandRows")
    require(cap > 0,
      s"cap must be positive and FIXED for the store's lifetime (AdaptiveBucket is not append-stable): $cap")
    capBuckets(bandedSig(
      minhashStore(docs, idCol, textCol, shingleLen, numHashes, tok),
      "store", numHashes, bandRows), cap)
  }

  /** Write a served [[minhashStoreBanded]] store as a BUCKETED+sorted
    * managed table on (band, v) — the beyond-broadcast probe layout: a
    * bucketed scan already satisfies the probe join's required
    * distribution, so `nearDupAgainstBandedStore(spark.table(table), …,
    * broadcastBatch = false)` exchanges ONLY the batch side (hashed into
    * the store's buckets) — no store shuffle AND no broadcast-size bound,
    * for batches too large to broadcast against stores too large to
    * re-shuffle. BucketingSpec pins the exchange-free store side. */
  def minhashStoreBandedSave(docs: DataFrame, idCol: String, textCol: String,
                             table: String, numBuckets: Int = 64,
                             shingleLen: Int = 3, numHashes: Int = 16,
                             bandRows: Int = 1,
                             cap: Int = Int.MaxValue,
                             tok: Tokenizer = Tokenizer.Whitespace): Unit = {
    minhashStoreBanded(docs, idCol, textCol, shingleLen, numHashes, bandRows,
        cap, tok)
      .write.mode("overwrite")
      .bucketBy(numBuckets, "band", "v").sortBy("band", "v")
      .format("parquet").saveAsTable(table)
    // the geometry contract travels with the table's files: the sidecar
    // lands in the table location, so openBandedTable / a direct-path open
    // both find it
    val spark = docs.sparkSession
    val loc = tableLocation(spark, table)
    StoreMeta.write(spark, loc, "minhash-banded",
      bandedMeta(shingleLen, numHashes, bandRows, cap, tok))
    Tokenizer.saveLexicon(spark, loc, tok)
  }

  /** A saved table's storage location, with the name PARSED (not wrapped
    * raw): a qualified `db.tbl` must resolve as a two-part identifier — a
    * raw TableIdentifier("db.tbl") looks up an unqualified table literally
    * named "db.tbl", which throws AFTER saveAsTable succeeded and leaves a
    * sidecar-less table every sidecar-checked open then refuses. */
  private def tableLocation(spark: org.apache.spark.sql.SparkSession,
                            table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
      .location.toString

  /** Open a [[minhashStoreBandedSave]] BUCKETED table under an explicit
    * geometry assumption — the beyond-broadcast twin of
    * [[minhashStoreBandedOpen]]: verifies the sidecar at the table's
    * location, then returns `spark.table(table)` so the bucketed-scan
    * distribution still satisfies the probe join with no store exchange. */
  def minhashStoreBandedOpenTable(spark: org.apache.spark.sql.SparkSession,
                                  table: String,
                                  shingleLen: Int = 3, numHashes: Int = 16,
                                  bandRows: Int = 1,
                                  cap: Int = Int.MaxValue,
                                  tok: Tokenizer = Tokenizer.Whitespace)
      : DataFrame = {
    StoreMeta.check(spark, tableLocation(spark, table), "minhash-banded",
      bandedMeta(shingleLen, numHashes, bandRows, cap, tok))
    spark.table(table)
  }

  private def bandedMeta(shingleLen: Int, numHashes: Int, bandRows: Int,
                         cap: Int, tok: Tokenizer): Map[String, String] = Map(
    "family" -> "minhash-md5-60",
    "shingleLen" -> shingleLen.toString,
    "numHashes" -> numHashes.toString,
    "bandRows" -> bandRows.toString,
    "cap" -> cap.toString,
    "tokenizer" -> tok.id)

  /** [[minhashStoreBanded]] materialized to a parquet DIRECTORY with its
    * geometry sidecar ([[StoreMeta]]) — the served-store layout a
    * continuous-ingest deployment maintains. The sidecar is the missing
    * half of the store contract: without it a probe assuming different
    * (numHashes, bandRows, tokenizer, …) joins on (band, v) and returns
    * near-zero matches SILENTLY; with it, [[minhashStoreBandedAppendAt]] /
    * [[nearDupAgainstBandedStoreAt]] read the geometry FROM the store, so
    * a mismatch is impossible, and [[minhashStoreBandedOpen]] verifies an
    * explicitly-assumed geometry loudly. */
  def minhashStoreBandedWrite(docs: DataFrame, idCol: String, textCol: String,
                              dir: String,
                              shingleLen: Int = 3, numHashes: Int = 16,
                              bandRows: Int = 1,
                              cap: Int = Int.MaxValue,
                              tok: Tokenizer = Tokenizer.Whitespace): Unit = {
    minhashStoreBanded(docs, idCol, textCol, shingleLen, numHashes, bandRows,
        cap, tok)
      .write.mode("overwrite").parquet(dir)
    StoreMeta.write(docs.sparkSession, dir, "minhash-banded",
      bandedMeta(shingleLen, numHashes, bandRows, cap, tok))
    // a Dictionary lexicon travels WITH the store (content-hash-named in
    // the geometry sidecar, bytes in the lexicon sidecar) so *At probes
    // reconstruct the tokenizer with nothing re-supplied
    Tokenizer.saveLexicon(docs.sparkSession, dir, tok)
  }

  /** Open a [[minhashStoreBandedWrite]] store under an EXPLICIT geometry
    * assumption: throws with the full field diff when the sidecar
    * disagrees (or is absent), returns the served frame otherwise. */
  def minhashStoreBandedOpen(spark: org.apache.spark.sql.SparkSession,
                             dir: String,
                             shingleLen: Int = 3, numHashes: Int = 16,
                             bandRows: Int = 1,
                             cap: Int = Int.MaxValue,
                             tok: Tokenizer = Tokenizer.Whitespace)
      : DataFrame = {
    StoreMeta.check(spark, dir, "minhash-banded",
      bandedMeta(shingleLen, numHashes, bandRows, cap, tok))
    spark.read.parquet(dir)
  }

  /** Geometry read back from a store's sidecar:
    * (shingleLen, numHashes, bandRows, cap, tokenizer). `private[ext]`:
    * [[FuzzyJoin.linkageAgainstStore]] shingles its exact verify with the
    * SAME law the store was built under. */
  private[ext] def bandedGeometry(spark: org.apache.spark.sql.SparkSession,
                                  dir: String)
      : (Int, Int, Int, Int, Tokenizer) = {
    val f = StoreMeta.open(spark, dir, "minhash-banded",
      "a banded minhash store", "minhashStoreBandedWrite")
    require(f.get("family").contains("minhash-md5-60"),
      s"unknown signature family ${f.get("family")} under $dir")
    // a dict-* id reconstructs its Dictionary from the lexicon sidecar next
    // to the store (content-hash re-verified)
    (f("shingleLen").toInt, f("numHashes").toInt, f("bandRows").toInt,
      f("cap").toInt, Tokenizer.fromIdAt(spark, dir, f("tokenizer")))
  }

  /** [[minhashStoreBandedAppend]] with the geometry read FROM the store's
    * sidecar and the delta parquet-APPENDED in place — per-batch
    * maintenance that cannot drift from the stored contract. Each append
    * adds a file group; periodically [[StoreMeta.compact]] the directory
    * (row-exact, sidecar-preserving) so a year of batches does not become
    * ten thousand files the probe pays for in listing and task launch. */
  def minhashStoreBandedAppendAt(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, batch: DataFrame,
                                 idCol: String, textCol: String): Unit = {
    val (shingleLen, numHashes, bandRows, cap, tok) =
      bandedGeometry(spark, dir)
    minhashStoreBandedAppend(spark.read.parquet(dir), batch, idCol, textCol,
        shingleLen, numHashes, bandRows, cap, tok)
      .write.mode("append").parquet(dir)
  }

  /** Delete entities from a served banded store: every signature row of
    * every id in `ids` (one column, any name) is removed in place —
    * [[StoreMeta.delete]]'s snapshot swap keyed on `store_id`, after the
    * sidecar confirms this IS a banded minhash store. The right-of-erasure
    * / retract-bad-entity counterpart of [[minhashStoreBandedAppendAt]]:
    * deleted entities stop being matchable; remaining entities' recall is
    * unchanged (a freed representative slot is NOT re-filled — only a
    * rebuild re-derives signatures). Returns rows removed. */
  def minhashStoreBandedDeleteAt(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, ids: DataFrame): Long = {
    bandedGeometry(spark, dir): Unit // loud family/geometry verification
    StoreMeta.delete(spark, dir, ids, "store_id")
  }

  /** [[minhashStoreBandedDeleteAt]] for a [[fingerprintStoreWrite]] store:
    * verifies the fingerprint family, then removes the named ids' rows
    * (the id column's name rides the sidecar). Returns rows removed. */
  def fingerprintStoreDeleteAt(spark: org.apache.spark.sql.SparkSession,
                               dir: String, ids: DataFrame,
                               family: String): Long = {
    val idCol = StoreMeta.checked(spark, dir, "fingerprint64",
        Map("family" -> family, "bits" -> "64"))
      .getOrElse("idCol",
        sys.error(s"fingerprint store under $dir records no idCol"))
    StoreMeta.delete(spark, dir, ids, idCol)
  }

  /** [[nearDupAgainstBandedStore]] with the geometry read FROM the store's
    * sidecar — the probe that cannot mismatch. `threshold` stays a probe
    * choice (it thresholds agreement, it does not shape the state). */
  def nearDupAgainstBandedStoreAt(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  threshold: Double = 0.5,
                                  broadcastBatch: Boolean = true): DataFrame = {
    val (shingleLen, numHashes, bandRows, _, tok) = bandedGeometry(spark, dir)
    nearDupAgainstBandedStore(ensureParallelism(spark.read.parquet(dir)),
      batch, idCol, textCol,
      shingleLen, numHashes, threshold, bandRows, broadcastBatch, tok)
  }

  /** Append DELTA for a served [[minhashStoreBanded]] store: the new banded
    * rows the batch contributes, computed WITHOUT re-shuffling the store —
    * union the result onto the served frame (or write it as a new file next
    * to it) to maintain the state across batches.
    *
    * Exchange shape at the design point (store ≫ batch): the batch bands
    * itself (batch-sized), ranks per bucket over the BATCH ONLY
    * (batch-bounded window), and reads the store filtered to just the
    * TOUCHED buckets (a semi-join against the batch's distinct bucket keys
    * — partition-prunable when the served frame is written
    * partitioned/bucketed by band) to count occupancy; a bucket already at
    * `cap` admits nothing, a bucket with room admits the batch's lowest
    * ids up to the remainder. No store-wide window, no store count.
    *
    * Contract: ids must be monotone with arrival (batch ids > every stored
    * id) — then served(a) ++ append(served(a), b) ≡ built(a ∪ b) exactly
    * (spec-pinned); with out-of-order ids the result is still a valid
    * capped store, just "first cap ARRIVALS" rather than cap-lowest-ids. */
  def minhashStoreBandedAppend(served: DataFrame, batch: DataFrame,
                               idCol: String, textCol: String,
                               shingleLen: Int = 3, numHashes: Int = 16,
                               bandRows: Int = 1,
                               cap: Int = Int.MaxValue,
                               tok: Tokenizer = Tokenizer.Whitespace)
      : DataFrame = {
    require(numHashes % bandRows == 0,
      s"numHashes $numHashes must be a multiple of bandRows $bandRows")
    require(cap > 0,
      s"cap must be positive and FIXED for the store's lifetime: $cap")
    val b = bandedSig(
      minhashStore(batch, idCol, textCol, shingleLen, numHashes, tok),
      "store", numHashes, bandRows)
    if (cap == Int.MaxValue) b
    else {
      import org.apache.spark.sql.expressions.Window
      val keys = b.select(col("band"), col("v")).distinct()
      // occupancy of ONLY the touched buckets: the semi-join prunes the
      // store scan to ≤ cap rows per touched key before any exchange
      val occ = served.join(broadcast(keys), Seq("band", "v"), "left_semi")
        .groupBy(col("band"), col("v")).agg(count(lit(1)).as("_occ"))
      b.withColumn("_bn", row_number().over(
          Window.partitionBy("band", "v").orderBy("store_id")))
        .join(occ, Seq("band", "v"), "left")
        .where(col("_bn") + coalesce(col("_occ"), lit(0L)) <= cap)
        .drop("_bn", "_occ")
    }
  }

  /** INCREMENTAL near-dup probe against a SERVED [[minhashStoreBanded]]
    * frame — [[nearDupAgainstStore]]'s design-point form: the batch
    * computes its own signatures with the store's family, bands with the
    * store's geometry, and joins the materialized representatives directly
    * on (band, v). NO store-side window, NO store count, no re-derivation
    * of representatives — the per-batch exchange carries batch signature
    * rows plus the matched store buckets only. Same output contract as
    * [[nearDupAgainstStore]]: (batch_id, store_id, n_agree, est_jaccard),
    * distinct, agreement ≥ threshold. */
  /** `broadcastBatch` (default on) broadcasts the batch's banded signature
    * frame so the served store is STREAMED from storage, never shuffled —
    * the design-point plan (batch ≪ store; a 10⁵-doc batch at 16 bands is
    * ~25 MB broadcast). Disable it for batches too large to broadcast
    * (≳10⁷ docs), where the sort-merge join is the honest price — or
    * better, write the served frame bucketed by (band, v) and let the
    * bucketed-join layout co-locate the probe with no store exchange. */
  def nearDupAgainstBandedStore(served: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String,
                                shingleLen: Int = 3, numHashes: Int = 16,
                                threshold: Double = 0.5,
                                bandRows: Int = 1,
                                broadcastBatch: Boolean = true,
                                tok: Tokenizer = Tokenizer.Whitespace)
      : DataFrame = {
    require(numHashes % bandRows == 0,
      s"numHashes $numHashes must be a multiple of bandRows $bandRows")
    val b0 = bandedSig(
      minhashStore(batch, idCol, textCol, shingleLen, numHashes, tok), "batch",
      numHashes, bandRows)
    val b = if (broadcastBatch) broadcast(b0) else b0
    bandedAgreementJoin(b, served, numHashes, threshold)
  }

  def newAgainstHistory(batch: DataFrame, hist: DataFrame, keyCol: String,
                        expectedHistItems: Long = 1L << 22,
                        fpp: Double = 0.01,
                        scope: CacheScope = null): DataFrame = {
    // filter build (cloned-session ceiling raise + torrent broadcast) is
    // the shared [[Bloom]] primitive — [[BloomJoin]] rides the same one
    val blobOpt = Bloom.buildKeyFilter(hist, keyCol, expectedHistItems, fpp)
    if (blobOpt.isEmpty) return batch // empty store: the whole batch is new
    val blobBc = blobOpt.get
    val mightContain = Bloom.mightContain(blobBc, col(keyCol))
    val candidates = batch.where(mightContain).select(col(keyCol)).distinct()
    val confirmed = hist
      .join(broadcast(candidates), Seq(keyCol), "left_semi")
      .select(col(keyCol)).distinct()
    CacheScope.handOverBroadcast(scope,
      batch.join(broadcast(confirmed), Seq(keyCol), "left_anti"), blobBc)
  }
}
