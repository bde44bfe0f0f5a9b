package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import FixedPoint.DivOps

/** Text analysis for training-data curation (SURVEY §2.8): vocabulary-profile
  * language ID, quality scoring, token counting, and document fingerprinting.
  *
  * All pure Column expressions over built-ins — per-document, embarrassingly
  * parallel, no shuffle; the only aggregations are whatever the caller groups
  * by afterwards. Ratio metrics are integer-derived doubles (one division of
  * two exact ints), so they are bit-identical across engines and runs.
  */
object TextStats {

  def tokens(text: Column): Column = split(lower(text), " ")

  /** Tokenizer-seam form of [[tokens]] — [[Tokenizer.Whitespace]] is the
    * historical default; [[Tokenizer.ScriptAware]] keeps token counting,
    * stopword ratios, and BM25 meaningful on CJK/Thai corpora. */
  def tokens(text: Column, tok: Tokenizer): Column = tok.tokens(text)

  /** How many tokens fall in a marker vocabulary. `filter` + `array_contains`
    * counts every occurrence (not just distinct hits). */
  def markerHits(toks: Column, markers: Seq[String]): Column = {
    val m = array(markers.map(lit): _*)
    size(filter(toks, t => array_contains(m, t)))
  }

  /** Vocabulary-profile language/domain ID — the n-gram-frequency heuristic
    * shape: score the token stream against per-class marker vocabularies and
    * take the argmax (ties break toward the earlier class). Swap marker sets
    * for real character-n-gram profiles per language in production. */
  def classify(toks: Column, classes: Seq[(String, Seq[String])]): Column = {
    val scores = classes.map { case (name, markers) => name -> markerHits(toks, markers) }
    scores.init.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((name, score), i), elseCol) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        when(laterScores.map(score >= _).reduce(_ && _), lit(name)).otherwise(elseCol)
    }
  }

  /** Whitespace token count. */
  def nTokens(text: Column): Column = size(split(text, " "))

  /** Regex word count (letter runs) — robust to punctuation/double spaces. */
  def nWords(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)))

  /** BPE-ish subword count: greedy runs of <=4 letters, digits, or single
    * non-alphanumerics — a deterministic stand-in for a real BPE vocabulary
    * with the right cost shape (longer words -> more pieces). */
  def nSubwords(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]{1,4}|[0-9]|[^a-z0-9 ]"), lit(0)))

  /** REAL greedy-BPE subword count over a ranked merges table
    * ([[graft.ext.expressions.Bpe]]): native codegen'd expression, one
    * whole-stage-loop call per document. */
  def nSubwordsBpe(text: Column, merges: Array[(String, String)]): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.BpeCountExpr(
      merges, GraftColumnBridge.expression(text)))
  }

  /** File seam closing the BPE stand-in gap WITHOUT a network dependency:
    * when `mergesPath` exists locally it is parsed as a public-format
    * `merges.txt` (rank = line order) and the count is the real greedy-BPE
    * piece count; otherwise the regex stand-in keeps the pipeline running.
    * The file is read once at plan-construction time on the driver. */
  def nSubwordsAuto(text: Column, mergesPath: String): Column =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(mergesPath)))
      nSubwordsBpe(text, graft.ext.expressions.Bpe.loadMerges(mergesPath))
    else nSubwords(text)

  /** Full BPE ENCODE (not just the count): `text → array<string>` of subword
    * tokens under a pinned merge table with a FIXED round budget — the
    * oracle-restatable sibling of [[nSubwordsBpe]], whose until-fixpoint loop
    * SQL cannot unroll. Any `rounds` at or beyond convergence yields the
    * same tokens, so the budget is a restatement device, not a semantics
    * change. One native one-pass kernel per document
    * ([[graft.ext.expressions.BpeEncodeExpr]]); pure projection, zero
    * shuffle — the tokenizer stage of a training-data pipeline at any scale. */
  def bpeEncode(text: Column, merges: Seq[(String, String)], rounds: Int): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.BpeEncodeExpr(
      GraftColumnBridge.expression(text), merges, rounds))
  }

  /** BPE merge-table TRAINING (Sennrich et al. 2016) — the tokenizer FIT
    * whose output [[bpeEncode]] consumes, distributed in the canonical
    * shape: ONE corpus pass builds the word-frequency table, then every
    * merge round runs on that VOCAB-sized frame (the classic trick — pair
    * statistics over distinct words weighted by count, never a second
    * corpus scan). Per round: adjacent-pair counts (overlapping positions,
    * weighted by word count) → one small aggregation → argmax collected to
    * the driver (ONE row per round, contract-bounded like the k-means
    * centroid collects) → the chosen merge applied to the symbol state as a
    * pure array-fold projection. Deterministic end to end: ties break on
    * (count DESC, a ASC, b ASC), and the left-fold merge equals the
    * scan-skip form because a merged symbol `a+b` never equals `a`
    * (nonempty `b`). Training state is maintained EXACTLY (one merge per
    * round), not re-derived by encode-priority — the two can diverge when a
    * later merge creates an earlier-rank pair.
    *
    * Returns (a, b, weightedPairCount) in learned order. */
  def bpeTrainMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     nMerges: Int): Seq[(String, String, Long)] = {
    require(nMerges >= 1, s"nMerges out of range: $nMerges")
    val w = col("w")
    val chars = transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
    val words = docs
      .select(explode(filter(split(lower(col(textCol)), " "), x => x =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(chars.as("syms"), col("cnt"))
      .persist()
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var frame = words
      var r = 0
      var dry = false
      while (r < nMerges && !dry) {
        val sy = col("syms")
        val top = frame
          .select(explode(arrays_zip(
              slice(sy, lit(1), size(sy) - 1).as("a"),
              slice(sy, lit(2), size(sy) - 1).as("b"))).as("p"), col("cnt"))
          .select(col("p.a"), col("p.b"), col("cnt"))
          .groupBy("a", "b").agg(sum("cnt").as("c"))
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) dry = true
        else {
          val a: String = top(0).getString(0)
          val b: String = top(0).getString(1)
          val c: Long = top(0).getLong(2)
          out += ((a, b, c))
          frame = frame.select(applyMerge(col("syms"), a, b).as("syms"), col("cnt"))
          r += 1
        }
      }
      out.toSeq
    } finally words.unpersist()
  }

  /** One merge applied to a symbol array as a left fold: if the running
    * tail is `a` and the next symbol is `b`, replace the tail with `a+b` —
    * exactly scan-skip (the merged `a+b` can never re-match as `a`). `get`
    * (0-based, null out of bounds) keeps the empty-accumulator probe from
    * ANSI-throwing. */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
          get(acc, size(acc) - 1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Collapse runs of consecutive identical whitespace tokens to one
    * occurrence ("batch batch batch" → "batch") — the stutter-normalization
    * cleaning pass for OCR/scrape/keyboard-mash artifacts, the token-level
    * sibling of consecutive-duplicate-line removal. Pure projection (the
    * token array never leaves its row, zero shuffle); the 0-based HOF index
    * against 1-based `element_at` makes `element_at(w, i)` exactly the
    * previous token. */
  def collapseRepeatedTokens(text: Column): Column = {
    val w = split(text, " ")
    array_join(filter(w, (t, i) => i === lit(0) || t =!= element_at(w, i)), " ")
  }

  /** Mean token length = non-space chars / tokens (integer-derived double). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / nTokens(text)

  /** Share of tokens in a stopword list (integer-derived double). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    markerHits(tokens(text), stopwords).cast("double") / nTokens(text)

  /** Tokenizer-seam form of the word-count quality gates: token count and
    * stopword ratio under an explicit [[Tokenizer]] — the whitespace
    * versions above reject every CJK/Thai document (ONE token) and are
    * byte-identical to `tok = Whitespace` modulo the case convention
    * ([[nTokens]] historically counts case-preserved raw splits; the
    * seam form counts the tokenizer's lower-cased tokens). */
  def nTokens(text: Column, tok: Tokenizer): Column = size(tok.tokens(text))

  def stopwordRatio(text: Column, stopwords: Seq[String],
                    tok: Tokenizer): Column =
    markerHits(tokens(text, tok), stopwords).cast("double") /
      nTokens(text, tok)

  /** Per-document unigram-diversity signals (the RedPajama-v2 family of
    * gibberish/boilerplate detectors — `frac_unique_words`, unigram
    * concentration): over the non-empty lowercased whitespace tokens,
    * n_tok = token count, n_distinct = vocabulary size, sum_c2 = Σ count²
    * (the collision mass — Rényi-2 entropy is −log(sum_c2/n_tok²), left to
    * presentation so the gated value stays integer-exact), max_c = the top
    * token's count, plus 2²⁰-fixed-point ratios (truncating integer
    * division, so bit-identical across engines): uniq_frac_fp =
    * n_distinct/n_tok, coll_fp = sum_c2/n_tok², top_frac_fp = max_c/n_tok
    * (null on empty docs). Low uniq_frac / high coll / high top_frac flag
    * keyword-stuffed or mass-repeated documents that per-line dedup misses.
    *
    * Pure projection: the token array is sorted IN ITS ROW and run-lengths
    * folded with one `aggregate` pass — zero shuffle, no explode, so the
    * signal costs O(tokens·log tokens) per doc and nothing at the exchange
    * layer no matter the corpus size. Returns a struct; select fields. */
  def unigramDiversity(text: Column): Column = {
    val toks = filter(tokens(coalesce(text, lit(""))), t => t =!= "")
    val sorted = array_sort(toks)
    // fold state: (prev token's run still open) — run==0 marks "no prev yet"
    val z = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("nd"),
      lit(0L).as("s2"), lit(0L).as("mx"))
    val folded = aggregate(sorted, z,
      (acc, tk) =>
        when(acc("run") === 0L, struct(tk.as("prev"), lit(1L).as("run"),
          lit(1L).as("nd"), lit(0L).as("s2"), lit(0L).as("mx")))
        .when(acc("prev") === tk, struct(tk.as("prev"),
          (acc("run") + 1L).as("run"), acc("nd").as("nd"),
          acc("s2").as("s2"), acc("mx").as("mx")))
        .otherwise(struct(tk.as("prev"), lit(1L).as("run"),
          (acc("nd") + 1L).as("nd"),
          (acc("s2") + acc("run") * acc("run")).as("s2"),
          greatest(acc("mx"), acc("run")).as("mx"))),
      acc => struct(
        acc("nd").as("n_distinct"),
        (acc("s2") + acc("run") * acc("run")).as("sum_c2"),
        greatest(acc("mx"), acc("run")).as("max_c")))
    val nTok = size(toks).cast("long")
    val scale = lit(1048576L) // 2^20
    struct(
      nTok.as("n_tok"),
      folded("n_distinct").as("n_distinct"),
      folded("sum_c2").as("sum_c2"),
      folded("max_c").as("max_c"),
      when(nTok > 0, (folded("n_distinct") * scale).divLong(nTok))
        .as("uniq_frac_fp"),
      // sum_c2 ≤ n² — for a pathological single-token doc of n ≥ 2^22
      // tokens (a ~16 MB crawl page of one repeated word) sum_c2·2^20
      // overflows Long and ANSI mode kills the job; widen this one
      // product to DECIMAL(38,0) (truncating div — DuckDB HUGEINT `//`,
      // the histogramDrift precedent), exact at any reachable doc size
      when(nTok > 0,
        (folded("sum_c2").cast("decimal(38,0)") * scale)
          .divBig((nTok * nTok).cast("decimal(38,0)")).cast("long"))
        .as("coll_fp"),
      when(nTok > 0, (folded("max_c") * scale).divLong(nTok))
        .as("top_frac_fp"))
  }

  /** Order-insensitive content fingerprint: md5 of the sorted distinct token
    * set. Collapses token-order shuffles and duplications to one value —
    * cheap bag-of-words near-dup key. */
  def canonicalFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Polynomial rolling hash of the raw string: fold (acc * 31 + codepoint)
    * mod 1e9+7 over characters, left to right. The modulus keeps every
    * intermediate under 2^35, so the value is identical in any engine with
    * 64-bit integers — no overflow semantics in play. Native codegen'd
    * expression ([[graft.ext.expressions.RollingHashExpr]]); NativeExprSpec
    * asserts it equal to the built-in-functions twin. */
  def rollingHash(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.RollingHashExpr(
      GraftColumnBridge.expression(text)))
  }

  /** Unicode NFC normalization — canonical composition
    * ([[graft.ext.expressions.NormalizeNfcExpr]], native codegen'd): run it
    * BEFORE any hash/dedup/tokenize step on multilingual text, or visually
    * identical strings with different code-point sequences ("é" vs
    * "e"+U+0301) split dedup groups and fragment tokens. Zero allocation on
    * already-normalized (e.g. all-ASCII) input. */
  def normalizeNfc(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.NormalizeNfcExpr(
      GraftColumnBridge.expression(text)))
  }

  /** Diacritic stripping ([[graft.ext.expressions.StripAccentsExpr]],
    * native codegen'd): NFD + drop all Unicode Marks, no recomposition —
    * "café" ≡ "cafe" for cross-language search/match/dedup; non-mark base
    * letters (ß, æ) pass through. Zero allocation on all-ASCII input. */
  def stripAccents(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.StripAccentsExpr(
      GraftColumnBridge.expression(text)))
  }

  /** Document frequency per (group, token): in how many of the group's
    * documents the token occurs at least once. The per-doc `array_distinct`
    * happens before the explode, so the aggregate is a plain count — one
    * shuffle keyed on (group, token). */
  def tokenDocFrequencies(df: org.apache.spark.sql.DataFrame, textCol: String,
                          groupCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(groupCol),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("n_docs"))

  /** Top-k tokens per group by document frequency (ties → token asc) —
    * vocabulary analysis / stopword discovery. The rank window partitions
    * by group over the DISTINCT VOCABULARY (already aggregated), which is
    * orders of magnitude smaller than the corpus — the window is safe here
    * where it would not be over raw rows. */
  def topTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                groupCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n_docs").desc, col("token").asc)
    tokenDocFrequencies(df, textCol, groupCol)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** DISTINCTIVE terms per group — which terms are over-represented in a
    * source relative to the whole corpus, the curation question behind
    * spam-source detection and per-source data cards: lift(term, g) =
    * P(term | g) / P(term) restated in exact fixed point as
    * (c_g,t · T · 10^6) div (c_t · T_g), where c_g,t is the term's
    * occurrence count in the group, c_t its corpus count, T_g / T the
    * group / corpus token totals — a pure rational in the counts, so the
    * score is engine-exact (no logs, unlike log-odds). Terms below
    * `minCount` corpus occurrences are dropped (hapax noise dominates
    * lift otherwise); top `k` per group by (lift desc, term asc).
    *
    * Scale shape: one (group, term) aggregation over the token stream,
    * one term-keyed join against the vocabulary-sized corpus counts, one
    * group-keyed join against the ≤|groups| totals (broadcast), then a
    * per-group rank window over the VOCABULARY-sized scored frame (the
    * corpus never reaches the window), so nothing is quadratic and the
    * only corpus-wide operation is the first aggregation. */
  def distinctiveTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
                       groupCol: String, k: Int,
                       minCount: Long = 5L): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
    val byGroup = toks.groupBy(col("g"), col("term"))
      .agg(count(lit(1)).as("c_gt"))
    val byTerm = byGroup.groupBy(col("term"))
      .agg(sum(col("c_gt")).as("c_t"))
      .where(col("c_t") >= minCount)
    val totals = byGroup.groupBy(col("g")).agg(sum(col("c_gt")).as("t_g"))
    val grand = totals.agg(sum(col("t_g")).as("t_all"))
    val scored = byGroup
      .join(byTerm, "term")
      .join(broadcast(totals), "g")
      .crossJoin(broadcast(grand))
      .select(col("g"), col("term"), col("c_gt"), col("c_t"),
        // widened BEFORE multiplying: at corpus scale c_gt·T·10^6 blows
        // past 2^63 (10^14 tokens × 10^12 occurrences); DECIMAL(38) here,
        // HUGEINT in an external restatement
        expr("CAST((CAST(c_gt AS DECIMAL(38,0)) * t_all * 1000000) div " +
          "(CAST(c_t AS DECIMAL(38,0)) * t_g) AS BIGINT)").as("lift_fp"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("lift_fp").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("g").as(groupCol), col("rk"), col("term"),
        col("lift_fp"), col("c_gt"), col("c_t"))
  }

  /** Per-group vocabulary profile: distinct-term count, hapax count (terms
    * in exactly one document — the noise/OCR-junk signal), max document
    * frequency, and the hapax share (one division of exact ints). Rides on
    * [[tokenDocFrequencies]]: two keyed aggregations, both with map-side
    * partials; the second runs over the vocabulary, not the corpus. */
  def vocabularyStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                      groupCol: String): org.apache.spark.sql.DataFrame =
    tokenDocFrequencies(df, textCol, groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("hapax_terms"),
        max(col("n_docs")).as("max_df"))
      .withColumn("hapax_share",
        col("hapax_terms").cast("double") / col("vocab_size"))

  /** Corpus-frequency language-model scoring — the cheap stand-in for the
    * KenLM-perplexity quality filter of the CCNet pipeline (Wenzek et al.
    * 2020): score each document by how typical its tokens are of the corpus
    * itself. Emits per doc the exact integer evidence
    * (`n_tokens`, `freq_sum` = Σ_tokens corpus-frequency-of-token) plus
    * `mean_token_freq` = freq_sum / n_tokens — a high mean marks
    * stopword-ish/templated text, an unusually low mean marks OCR junk and
    * lorem-style noise, exactly the two tails a perplexity filter cuts. A
    * real LM swaps into the same shape: the `cf` frame becomes the
    * broadcast model's log-prob table and nothing else changes.
    *
    * Scale shape: token rows collapse to per-(doc, token) counts BEFORE any
    * exchange (zipfian corpora make `tf` rows ≪ token occurrences); the
    * vocabulary is aggregated FROM those counts and joined back. The
    * join-back is the operator's one skew surface — keyed on the token, the
    * 'the'-class hot tokens of a web corpus pile their (doc, token) rows
    * onto single partitions — so when the vocabulary fits a broadcast
    * (`maxBroadcastVocab`, counted at call time from the already-persisted
    * tf frame) the cf side is BROADCAST and the token exchange disappears
    * entirely: tf streams map-side through the hash join into the
    * doc-keyed aggregation, and skew cannot exist without a shuffle.
    * Above the threshold the shuffle join returns and AQE's skew-join
    * split is the (runtime) fallback. The division is one double-divide
    * of two exact longs (bit-identical across engines). */
  def corpusFrequencyScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String,
                           maxBroadcastVocab: Long = 1L << 20,
                           scope: CacheScope = null,
                           tok: Tokenizer = Tokenizer.Whitespace): org.apache.spark.sql.DataFrame = {
    // tf feeds both the vocabulary aggregation and the join-back — persist
    // it so one action doesn't run the corpus explode twice.
    // NOTE (r9 measurement): this explode+groupBy is already the right
    // scale shape — hash-aggregate partials collapse a document's tokens
    // MAP-SIDE (its rows share a partition), so the exchange carries
    // ~collapsed-tf rows, not raw occurrences. A row-local HOF collapse
    // was prototyped and rejected: the index-probing variant planned
    // 25-100× slower (expression-tree blowup), and the linear fold variant
    // is O(n·k) per row — quadratic in per-doc distinct count, a hazard
    // for long documents that the shuffle shape does not have.
    // WIDEN the input before the per-row-heavy tokenize + explode (r19,
    // measured): the documents table at bench SF is ONE parquet split, so
    // the fused tokenizer kernel — the operator's dominant compute — ran
    // on a single task however many cores the session had. The same
    // ensureParallelism guard the dedup family uses: a no-op for a
    // well-split input at scale.
    val tf = Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokenNgrams(col(textCol), 1, tok)).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cf = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    // the endpoints skip the sizing job entirely: 0 = never broadcast,
    // Long.MaxValue = the caller asserts the vocabulary is broadcast-safe
    // (bounded token universes — a tokenizer vocab, a capped corpus) and
    // pays nothing for the decision. Between them the count is eager
    // (kmeans/bloom precedent for operators that run jobs at call time) —
    // measured ~0.5 s/call at sf0.1, the price of not broadcasting an
    // unbounded web vocab blind — and it materializes the tf cache every
    // downstream stage reuses, so the job is not pure overhead.
    val cfSide =
      if (maxBroadcastVocab <= 0) cf
      else if (maxBroadcastVocab == Long.MaxValue) broadcast(cf)
      else if (cf.count() <= maxBroadcastVocab) broadcast(cf)
      else cf
    val result = tf.join(cfSide, "token")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("cf")).as("freq_sum"))
      .withColumn("mean_token_freq",
        col("freq_sum").cast("double") / col("n_tokens").cast("double"))
    CacheScope.handOver(scope, result, tf)
  }

  /** Load a token→log-probability table from a local TSV
    * (`token<TAB>logprob`, `#` comments skipped) as a two-column frame —
    * the model side of [[lmScore]]. A unigram LM table is
    * vocabulary-sized, i.e. broadcast-small by construction. */
  def loadLogProbTable(spark: org.apache.spark.sql.SparkSession,
                       path: String): org.apache.spark.sql.DataFrame = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val rows =
      try src.getLines()
        .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
        .map { l =>
          val i = l.indexOf('\t')
          require(i > 0, s"bad logprob line (want 'token\\tlogprob'): $l")
          (l.substring(0, i), l.substring(i + 1).toDouble)
        }.toSeq
      finally src.close()
    import spark.implicits._
    rows.toDF("token", "logprob")
  }

  /** Unigram-LM document scoring with a REAL model table when one exists at
    * `modelPath` — the file seam closing [[corpusFrequencyScore]]'s
    * documented stand-in gap without a network dependency. Loaded path:
    * per-document `(n_tokens, score_sum = Σ tf·logprob, mean_score)` with
    * out-of-vocabulary tokens at `oovLogProb` (the standard unknown-token
    * floor). No file → the corpus-frequency stand-in under the same output
    * names, so downstream quality gates are insensitive to which model
    * backs the score.
    *
    * Scale shape: identical to [[corpusFrequencyScore]]'s broadcast branch —
    * tf collapse before any exchange, the model table BROADCAST onto it
    * (a unigram vocabulary is small by construction), one doc-keyed
    * aggregation. The model file is read once on the driver. */
  def lmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, modelPath: String, oovLogProb: Double = -20.0,
              scope: CacheScope = null,
              tok: Tokenizer = Tokenizer.Whitespace): org.apache.spark.sql.DataFrame = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(modelPath)))
      return corpusFrequencyScore(df, idCol, textCol, scope = scope, tok = tok)
        .select(col(idCol), col("n_tokens"),
          col("freq_sum").cast("double").as("score_sum"),
          col("mean_token_freq").as("mean_score"))
    val table = loadLogProbTable(df.sparkSession, modelPath)
    df.select(col(idCol), explode(tokenNgrams(col(textCol), 1, tok)).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(table), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast("double") *
          coalesce(col("logprob"), lit(oovLogProb))).as("score_sum"))
      .withColumn("mean_score", col("score_sum") / col("n_tokens").cast("double"))
  }

  /** Adjacent token pairs of a token-array column (empty tokens dropped
    * FIRST, so runs of separators don't break adjacency) as
    * `array<struct<w1,w2>>`; fewer than two tokens → empty array. */
  private[ext] def adjacentPairs(textArr: Column): Column = {
    val t = filter(textArr, x => length(x) > 0)
    val n = size(t) - 1
    when(n >= 1, zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
      (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }

  /** Bigram LM scoring with Stupid-Backoff-style smoothing (Brants et al.
    * 2007) — the CCNet-shaped upgrade over [[corpusFrequencyScore]]'s
    * unigram stand-in: each adjacent pair (w1,w2) scores
    * `c2(w1,w2)/c1(w1)` when the REFERENCE corpus has seen the bigram,
    * backs off to `½·c1(w2)/N` when only the unigram is known, and 0 when
    * w2 is fully out-of-vocabulary. Scores are floored to 2^20 fixed point
    * after a fixed order of correctly-rounded IEEE ops, so the per-doc
    * evidence (`n_bigrams`, `hit_bigrams`, `score_fp` = Σ pf·score) is an
    * order-independent exact integer an oracle can restate verbatim;
    * `mean_score` = score_fp / (n_bigrams·2^20) is the one double
    * division. α = ½ (not the paper's 0.4) because ½ is exactly
    * representable — the constant is a smoothing knob, not a fit.
    *
    * `reference` defaults to `df` itself; pass a held-out snapshot to make
    * the backoff path meaningful (self-scoring can never miss a bigram).
    * Docs with fewer than two tokens have no pairs and emit no row.
    *
    * Scale shape: pair rows collapse to per-(doc,w1,w2) counts BEFORE any
    * exchange; the reference collapses to vocabulary-sized count frames
    * (`c2` bigram-keyed, `c1` token-keyed, N one broadcast row). Joins on
    * single tokens are the skew surface — under `maxBroadcast` (counted,
    * or asserted with Long.MaxValue) both count frames broadcast and the
    * token exchange disappears; above it the c2 join keys on the (w1,w2)
    * COMPOSITE, which dilutes hot-token skew quadratically vs a single
    * token key, and AQE's skew split is the runtime fallback. */
  def bigramBackoffScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String,
                         reference: org.apache.spark.sql.DataFrame = null,
                         refTextCol: String = null,
                         maxBroadcast: Long = 1L << 20,
                         scope: CacheScope = null,
                         tok: Tokenizer = Tokenizer.Whitespace): org.apache.spark.sql.DataFrame = {
    val ref0 = Option(reference).getOrElse(df)
    val refText = Option(refTextCol).getOrElse(textCol)
    val FP = 1L << 20
    // widen both sides before the tokenize+explode (single-split input =
    // single-task tokenization; see the corpusFrequencyScore note). The
    // widened reference PERSISTS: it feeds every count frame (c2 + c1
    // here; c3/c2/c1 in the trigram ops), and an unpersisted repartition
    // subtree would re-scan and re-exchange once per frame.
    val ref = Dedup.ensureParallelism(ref0.select(col(refText)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // explode+groupBy is the scale shape here too: partial aggregation
    // collapses per-doc pairs map-side before any exchange (see the
    // corpusFrequencyScore note on the rejected row-local alternatives)
    val pf = Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokenNgrams(col(textCol), 2, tok)).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("pf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = ref
      .select(explode(tokenNgrams(col(refText), 2, tok)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = ref
      .select(explode(tokenNgrams(col(refText), 1, tok)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c1"))
    val nTot = c1.agg(sum(col("c1")).as("n_total"))
    def side(f: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (maxBroadcast <= 0) f
      else if (maxBroadcast == Long.MaxValue) broadcast(f)
      else if (f.count() <= maxBroadcast) broadcast(f)
      else f
    val (c2s, c1s) = (side(c2), side(c1))
    val joined = pf
      .join(c2s, Seq("w1", "w2"), "left")
      .join(c1s.select(col("token").as("w1"), col("c1").as("c1_w1")), Seq("w1"), "left")
      .join(c1s.select(col("token").as("w2"), col("c1").as("c1_w2")), Seq("w2"), "left")
      .crossJoin(broadcast(nTot))
    val pairFp = when(col("c2").isNotNull,
        floor(lit(FP.toDouble) * col("c2").cast("double") / col("c1_w1").cast("double")))
      .when(col("c1_w2").isNotNull,
        floor(lit(FP.toDouble) * col("c1_w2").cast("double") /
          (lit(2.0) * col("n_total").cast("double"))))
      .otherwise(lit(0L))
    val result = joined.groupBy(col(idCol))
      .agg(sum(col("pf")).as("n_bigrams"),
        sum(when(col("c2").isNotNull, col("pf")).otherwise(lit(0L))).as("hit_bigrams"),
        sum(col("pf") * pairFp).as("score_fp"))
      .withColumn("mean_score",
        col("score_fp").cast("double") / (col("n_bigrams") * FP).cast("double"))
    CacheScope.handOver(scope, result, pf, ref)
  }

  /** Fused native tokenize + adjacent n-grams (lowercase → single-space
    * split dropping empties → n-gram structs, one pass): bit-identical to
    * `adjacentPairs/adjacentTriples(tokens(text))` (NgramExprSpec), minus
    * the nested zip_with/slice HOFs' lambda-interpreter cost and the three
    * intermediate arrays they materialize — the LM ops' explode feeds from
    * this. n = 1 returns the plain non-empty token array. */
  private def tokenNgrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(graft.ext.expressions.TokenNgramsExpr(
      GraftColumnBridge.expression(text), n))
  }

  /** Tokenizer-seam form of [[tokenNgrams]] — the Whitespace arm keeps the
    * fused native kernel verbatim (plans and gated hashes byte-identical);
    * other tokenizers assemble the same struct shape from the seam's token
    * array via the portable HOF twins the kernel is spec-pinned against
    * (empties are already dropped by [[Tokenizer.ScriptAware]], and
    * [[adjacentPairs]]/[[adjacentTriples]] drop them again defensively). */
  private def tokenNgrams(text: Column, n: Int, tok: Tokenizer): Column =
    tok match {
      case Tokenizer.Whitespace => tokenNgrams(text, n)
      case _ =>
        val t = tok.tokens(text)
        n match {
          case 1 => filter(t, x => length(x) > 0)
          case 2 => adjacentPairs(t)
          case 3 => adjacentTriples(t)
          case _ => throw new IllegalArgumentException(
            s"tokenNgrams supports n in 1..3, got $n")
        }
    }

  /** Adjacent token triples (w1,w2,w3) of a token array, empties dropped —
    * the order-3 analog of [[adjacentPairs]], still a pure array projection
    * (two nested zip_with, no explode until the caller asks). */
  private[ext] def adjacentTriples(textArr: Column): Column = {
    val t = filter(textArr, x => length(x) > 0)
    val n = size(t) - 2
    when(n >= 1,
      zip_with(
        zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        slice(t, lit(3), n),
        (p, c) => struct(p.getField("w1").as("w1"),
          p.getField("w2").as("w2"), c.as("w3"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))
  }

  /** Trigram LM scoring with Stupid-Backoff smoothing — the order-3 upgrade
    * of [[bigramBackoffScore]] (KenLM-grade context without the KenLM
    * binary): each adjacent triple (w1,w2,w3) scores
    * `c3(w1,w2,w3)/c2(w1,w2)` when the reference has seen the trigram,
    * backs off to `½·c2(w2,w3)/c1(w2)` when only the tail bigram is known,
    * to `¼·c1(w3)/N` when only the last token is known, and 0 for full OOV
    * — α = ½ per backoff step (exactly representable; see the bigram note).
    * Same 2^20 fixed-point floor ⟹ (`n_trigrams`, `hit_trigrams`,
    * `hit_bigrams`, `score_fp`) are order-independent exact integers;
    * `mean_score` is the one double division. Docs with fewer than three
    * tokens emit no row.
    *
    * Scale shape follows the bigram op exactly: triple rows collapse to
    * per-(doc,w1,w2,w3) counts before any exchange; the reference collapses
    * to three vocabulary-sized count frames (c3 trigram-keyed, c2
    * bigram-keyed, c1 token-keyed, N one broadcast row). Under
    * `maxBroadcast` all three broadcast and no token-keyed exchange exists;
    * above it the c3/c2 joins key on 3- and 2-token COMPOSITES — cubed /
    * squared dilution of hot-token skew — with AQE as runtime fallback. */
  def trigramBackoffScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String,
                          reference: org.apache.spark.sql.DataFrame = null,
                          refTextCol: String = null,
                          maxBroadcast: Long = 1L << 20,
                          scope: CacheScope = null,
                          tok: Tokenizer = Tokenizer.Whitespace): org.apache.spark.sql.DataFrame = {
    val ref0 = Option(reference).getOrElse(df)
    val refText = Option(refTextCol).getOrElse(textCol)
    val FP = 1L << 20
    // widen both sides before the tokenize+explode, reference persisted —
    // three count frames read it (see bigramBackoffScore)
    val ref = Dedup.ensureParallelism(ref0.select(col(refText)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokenNgrams(col(textCol), 3, tok)).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"))
      .groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c3 = ref
      .select(explode(tokenNgrams(col(refText), 3, tok)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val c2 = ref
      .select(explode(tokenNgrams(col(refText), 2, tok)).as("p"))
      .select(col("p.w1").as("b1"), col("p.w2").as("b2"))
      .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("c2"))
    val c1 = ref
      .select(explode(tokenNgrams(col(refText), 1, tok)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c1"))
    val nTot = c1.agg(sum(col("c1")).as("n_total"))
    def side(f: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (maxBroadcast <= 0) f
      else if (maxBroadcast == Long.MaxValue) broadcast(f)
      else if (f.count() <= maxBroadcast) broadcast(f)
      else f
    val (c3s, c2s, c1s) = (side(c3), side(c2), side(c1))
    val joined = tf
      .join(c3s, Seq("w1", "w2", "w3"), "left")
      .join(c2s.select(col("b1").as("w1"), col("b2").as("w2"),
        col("c2").as("c2_12")), Seq("w1", "w2"), "left")
      .join(c2s.select(col("b1").as("w2"), col("b2").as("w3"),
        col("c2").as("c2_23")), Seq("w2", "w3"), "left")
      .join(c1s.select(col("token").as("w2"), col("c1").as("c1_w2")),
        Seq("w2"), "left")
      .join(c1s.select(col("token").as("w3"), col("c1").as("c1_w3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nTot))
    val tripleFp = when(col("c3").isNotNull,
        floor(lit(FP.toDouble) * col("c3").cast("double") /
          col("c2_12").cast("double")))
      .when(col("c2_23").isNotNull,
        floor(lit(FP.toDouble) * col("c2_23").cast("double") /
          (lit(2.0) * col("c1_w2").cast("double"))))
      .when(col("c1_w3").isNotNull,
        floor(lit(FP.toDouble) * col("c1_w3").cast("double") /
          (lit(4.0) * col("n_total").cast("double"))))
      .otherwise(lit(0L))
    val result = joined.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(when(col("c3").isNotNull, col("tf")).otherwise(lit(0L)))
          .as("hit_trigrams"),
        sum(when(col("c3").isNull && col("c2_23").isNotNull, col("tf"))
          .otherwise(lit(0L))).as("hit_bigrams"),
        sum(col("tf") * tripleFp).as("score_fp"))
      .withColumn("mean_score",
        col("score_fp").cast("double") / (col("n_trigrams") * FP).cast("double"))
    CacheScope.handOver(scope, result, tf, ref)
  }

  /** Interpolated Kneser-Ney trigram scoring (Kneser & Ney 1995; the
    * modified-KN shape of Chen & Goodman 1999 with one discount) — the
    * KenLM-grade upgrade over [[trigramBackoffScore]]'s Stupid Backoff:
    * instead of hard backoff steps, every order INTERPOLATES with the one
    * below, and the lower orders use CONTINUATION counts (in how many
    * distinct contexts a word appears) rather than raw frequency — the
    * fix for the "Francisco problem" (frequent but context-bound words
    * stop leaking probability mass):
    *
    *   p3 = max(c3−d,0)/c2(w1,w2) + d·N1+(w1w2•)/c2(w1,w2) · p2
    *   p2 = max(N1+(•w2w3)−d,0)/N1+(•w2•) + d·N1+(w2•)/N1+(•w2•) · p1
    *   p1 = N1+(•w3) / N1+(••)
    *
    * d = ¾ (exactly representable; the Chen-Goodman estimate for the
    * usual n1/n2 ratios). An unseen (w1,w2) context interpolates with
    * weight 1 into p2 (likewise p2→p1); an unseen w3 scores 0. A (w1,w2)
    * bigram that never PREFIXES a trigram (text-final position) carries a
    * zero continuation bonus — deterministic on both engines. Per-trigram
    * probabilities are a FIXED tree of correctly-rounded IEEE doubles
    * (each branch one or two divisions) floored to 2^20 fixed point, so
    * the oracle restates the arithmetic bit-for-bit; `mean_score` is the
    * one final double division. Output per doc: (id, n_trigrams,
    * hit_trigrams, score_fp, mean_score); docs with <3 tokens emit no row.
    *
    * Scale shape: the SAME broadcast-count-frame architecture as E9f —
    * trigram rows collapse per (doc,w1,w2,w3) map-side; the reference
    * collapses to the c3/c2 count frames ONCE (persisted, vocab-sized),
    * and every continuation-count frame (N1+(w1w2•), N1+(•w2w3),
    * N1+(•w2•), N1+(w2•), N1+(•w3), N1+(••)) derives from those
    * aggregates, never from a second corpus pass. Under `maxBroadcast`
    * all seven reference joins broadcast and no token-keyed exchange
    * exists; above it the high-order joins key on composite
    * (w1,w2)/(w2,w3) — quadratic hot-token dilution — with AQE skew
    * splits as the runtime fallback. */
  def knTrigramScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     reference: org.apache.spark.sql.DataFrame = null,
                     refTextCol: String = null,
                     maxBroadcast: Long = 1L << 20,
                     scope: CacheScope = null,
                     tok: Tokenizer = Tokenizer.Whitespace): org.apache.spark.sql.DataFrame = {
    val ref0 = Option(reference).getOrElse(df)
    val refText = Option(refTextCol).getOrElse(textCol)
    val FP = 1L << 20
    val D = 0.75
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // widen both sides before the tokenize+explode, reference persisted —
    // three count frames read it (see bigramBackoffScore)
    val ref = Dedup.ensureParallelism(ref0.select(col(refText)))
      .persist(lvl)
    val tf = Dedup.ensureParallelism(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokenNgrams(col(textCol), 3, tok)).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"))
      .groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tf"))
      .persist(lvl)
    val c3 = ref
      .select(explode(tokenNgrams(col(refText), 3, tok)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
      .persist(lvl)
    val c2 = ref
      .select(explode(tokenNgrams(col(refText), 2, tok)).as("p"))
      .select(col("p.w1").as("b1"), col("p.w2").as("b2"))
      .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("c2"))
      .persist(lvl)
    // continuation counts — every frame an aggregate OF the aggregates.
    // Same-key frames pre-merge so the query side pays FIVE joins, not
    // seven (the count-frame joins are vocab-sized and lossless: every
    // trigram prefix/middle is itself a bigram/bigram-head, so c2 and
    // n2dot are supersets of their left-joined partners).
    val n12dot = c3.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n12dot"))
    val ndot23 = c3.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("ndot23"))
    val ndot2dot = c3.groupBy(col("w2")).agg(count(lit(1)).as("ndot2dot"))
    val n2dot = c2.groupBy(col("b1")).agg(count(lit(1)).as("n2dot"))
    val ndot3 = c2.groupBy(col("b2")).agg(count(lit(1)).as("ndot3"))
    val nBigrams = c2.agg(count(lit(1)).as("n_bigrams"))
    val ctx12 = c2.select(col("b1").as("w1"), col("b2").as("w2"),
        col("c2").as("c2_12"))
      .join(n12dot, Seq("w1", "w2"), "left")
    val ctx2 = n2dot.select(col("b1").as("w2"), col("n2dot"))
      .join(ndot2dot, Seq("w2"), "left")
    def side(f: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (maxBroadcast <= 0) f
      else if (maxBroadcast == Long.MaxValue) broadcast(f)
      else if (f.count() <= maxBroadcast) broadcast(f)
      else f
    val joined = tf
      .join(side(c3), Seq("w1", "w2", "w3"), "left")
      .join(side(ctx12), Seq("w1", "w2"), "left")
      .join(side(ndot23), Seq("w2", "w3"), "left")
      .join(side(ctx2), Seq("w2"), "left")
      .join(side(ndot3.select(col("b2").as("w3"), col("ndot3"))),
        Seq("w3"), "left")
      .crossJoin(broadcast(nBigrams))
    // the fixed IEEE tree the oracle restates verbatim (the n_bigrams
    // guard keeps a bigram-free reference at 0, not NaN)
    val p1 = when(col("n_bigrams") > 0,
        coalesce(col("ndot3"), lit(0L)).cast("double") /
          col("n_bigrams").cast("double"))
      .otherwise(lit(0.0))
    val p2 = when(col("ndot2dot").isNotNull,
        greatest(coalesce(col("ndot23"), lit(0L)).cast("double") - lit(D),
          lit(0.0)) / col("ndot2dot").cast("double") +
        ((lit(D) * coalesce(col("n2dot"), lit(0L)).cast("double")) /
          col("ndot2dot").cast("double")) * p1)
      .otherwise(p1)
    val p3 = when(col("c2_12").isNotNull,
        greatest(coalesce(col("c3"), lit(0L)).cast("double") - lit(D),
          lit(0.0)) / col("c2_12").cast("double") +
        ((lit(D) * coalesce(col("n12dot"), lit(0L)).cast("double")) /
          col("c2_12").cast("double")) * p2)
      .otherwise(p2)
    val result = joined.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(when(col("c3").isNotNull, col("tf")).otherwise(lit(0L)))
          .as("hit_trigrams"),
        sum(col("tf") * floor(lit(FP.toDouble) * p3)).as("score_fp"))
      .withColumn("mean_score",
        col("score_fp").cast("double") / (col("n_trigrams") * FP).cast("double"))
    CacheScope.handOver(scope, result, tf, c3, c2, ref)
  }

  /** Vocabulary drift between two corpus snapshots — the crawl-health
    * check a continuously-refreshed training set runs per ingest: which
    * terms appeared, which vanished, and how the shared mass shifted.
    * Returns one row per status (`new` / `dropped` / `common`) with the
    * distinct-term count and each side's total occurrences — integer-exact
    * evidence (a JS-divergence-style summary needs logs and is
    * deliberately left to the caller; these counts are the
    * engine-portable core it would be computed from).
    *
    * Scale shape: each side collapses to (term, occurrences) BEFORE the
    * full-outer join (vocabulary-sized, not corpus-sized); the join is
    * term-keyed; the final aggregation has three groups. */
  def vocabularyDrift(a: org.apache.spark.sql.DataFrame,
                      b: org.apache.spark.sql.DataFrame,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    def counts(df: org.apache.spark.sql.DataFrame, out: String) = df
      .select(explode(tokenNgrams(col(textCol), 1)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as(out))
    counts(a, "occ_a").join(counts(b, "occ_b"), Seq("term"), "full_outer")
      .select(
        when(col("occ_a").isNull, "new")
          .when(col("occ_b").isNull, "dropped")
          .otherwise("common").as("status"),
        coalesce(col("occ_a"), lit(0L)).as("occ_a"),
        coalesce(col("occ_b"), lit(0L)).as("occ_b"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("occ_a")).as("occurrences_a"),
        sum(col("occ_b")).as("occurrences_b"))
  }

  /** Fixed-token-window chunking (context-window prep for training /
    * retrieval): one output row per chunk start s ∈ {0, stride, 2·stride, …}
    * < nTokens, carrying `window` whitespace tokens (fewer at the tail).
    * stride < window overlaps consecutive chunks; stride == window tiles the
    * document exactly. A non-initial start whose previous chunk already
    * reached the document end (s + window - stride >= nTokens) is NOT
    * emitted — its span would be a strict sub-span of the previous chunk,
    * shipping duplicated windows downstream. Output:
    * (id, chunk_no, chunk_text, n_tokens), with chunk_no = s / stride.
    *
    * Scale shape: a pure generator projection — the per-document word array
    * never leaves its row and nothing shuffles; chunk rows stream straight
    * into whatever the caller does next (a 100 TB corpus chunks at scan
    * speed). */
  def chunkWords(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, window: Int,
                 stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0, s"chunk window must be positive: $window")
    require(stride > 0 && stride <= window,
      s"chunk stride must be in [1, window], got: $stride")
    chunkWordsTok(df, idCol, textCol, window, stride, Tokenizer.Whitespace)
  }

  /** Tokenizer-seam form of [[chunkWords]] — CASE-PRESERVING tokens
    * ([[Tokenizer.rawTokens]]): a RAG chunker over a CJK corpus needs
    * per-codepoint windows (whitespace windows put a whole document in one
    * "token"), and the chunk text must keep its original case. Whitespace
    * compiles to the exact historical expressions. */
  def chunkWordsTok(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, window: Int, stride: Int,
                    tok: Tokenizer): org.apache.spark.sql.DataFrame = {
    require(window > 0, s"chunk window must be positive: $window")
    require(stride > 0 && stride <= window,
      s"chunk stride must be in [1, window], got: $stride")
    val w = tok.rawTokens(col(textCol))
    val starts = filter(sequence(lit(0), size(w) - 1, lit(stride)),
      s => s === 0 || s + lit(window - stride) < size(w))
    df.select(col(idCol), w.as("_w"),
        posexplode(starts).as(Seq("chunk_no", "_s")))
      .select(col(idCol), col("chunk_no"),
        concat_ws(" ", slice(col("_w"), col("_s") + 1, lit(window)))
          .as("chunk_text"),
        least(lit(window), size(col("_w")) - col("_s")).as("n_tokens"))
  }

  /** Paragraph-boundary chunking with a greedy token budget — the RAG
    * chunk shape [[chunkWords]]'s fixed windows cannot give: split the
    * document at `sep` (default blank line), drop token-empty paragraphs,
    * and pack CONSECUTIVE paragraphs left-to-right into chunks, starting a
    * new chunk exactly when adding the next paragraph would push the
    * running non-empty-whitespace-token count past `maxTokens`. A single
    * paragraph larger than the budget gets its own (oversized) chunk —
    * boundaries are never split here; chain [[chunkWords]] over oversized
    * chunks when a hard cap matters. Chunks re-join their paragraphs with
    * `sep`, so concatenating a doc's chunks with `sep` reproduces its
    * kept paragraphs exactly (spec-pinned). Output mirrors [[chunkWords]]:
    * (id, chunk_no, chunk_text, n_tokens); docs with no kept paragraph
    * emit nothing.
    *
    * Scale shape: a pure generator projection, same as [[chunkWords]] —
    * the greedy fold runs INSIDE each row (one `aggregate` pass over the
    * paragraph array, O(paragraphs · chunk count) string building), the
    * corpus never shuffles. The fold is sequential by definition (each
    * decision depends on the running count), which is exactly why it
    * lives in the row, not across one. */
  def chunkParagraphs(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, maxTokens: Int,
                      sep: String = "\n\n"): org.apache.spark.sql.DataFrame = {
    require(maxTokens > 0, s"token budget must be positive: $maxTokens")
    require(sep.nonEmpty, "separator must be non-empty")
    val paras = filter(
      transform(split(col(textCol), java.util.regex.Pattern.quote(sep)),
        p => struct(p.as("p"),
          size(filter(split(p, " "), t => t =!= "")).cast("long").as("n"))),
      s => s("n") > 0)
    val z = array().cast("array<struct<text:string,n:bigint>>")
    val chunks = aggregate(paras, z, (acc, s) => {
      val last = element_at(acc, -1)
      val opened = concat(acc,
        array(struct(s("p").as("text"), s("n").as("n"))))
      val grown = concat(slice(acc, lit(1), size(acc) - 1),
        array(struct(concat(last("text"), lit(sep), s("p")).as("text"),
          (last("n") + s("n")).as("n"))))
      when(size(acc) === 0 || last("n") + s("n") > lit(maxTokens.toLong),
        opened).otherwise(grown)
    })
    df.select(col(idCol), posexplode(chunks).as(Seq("chunk_no", "_c")))
      .select(col(idCol), col("chunk_no"),
        col("_c")("text").as("chunk_text"), col("_c")("n").as("n_tokens"))
  }

  /** Per-document top-k keywords by an integer-exact tf-idf proxy: rank a
    * document's terms by (term frequency DESC, corpus document frequency
    * ASC, term ASC) and keep the first k — high-tf rare-in-corpus terms
    * first, exactly the order tf·idf induces among a document's terms at
    * equal tf. The lexicographic integer rank replaces the float
    * `tf·ln(N/df)` score deliberately: `ln` is libm-dependent and not
    * bit-portable across engines, while (tf, df) counts are exact
    * everywhere.
    *
    * Scale shape: two corpus passes, each one scan + one keyed exchange —
    * tf aggregates (id, term) with map-side partials; df explodes the
    * per-document DISTINCT vocabulary (distinct taken before the explode,
    * so the term exchange carries one row per (doc, distinct term)).
    * Deriving df from the tf aggregate instead does NOT save the second
    * scan: column pruning gives the two tf branches different canonical
    * forms, exchange reuse never fires, and the derivation adds an
    * (id, term) exchange on the df side — measured, not assumed. Cache the
    * input upstream if the raw scan dominates. The join is term-keyed with
    * the vocabulary-sized df frame on the build side, and the rank window
    * partitions per document over at most that document's distinct terms —
    * never over raw corpus rows. */
  def topKeywords(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"keyword count must be positive: $k")
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = df
      .select(explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col(idCol), col("rk"), col("term"), col("tf"), col("df"))
  }

  /** PII redaction: mask email addresses then long digit runs (7+ digits —
    * phone/account/ID shapes) with typed placeholders. Pure `regexp_replace`
    * chain — codegen'd, per-row, no shuffle. The patterns use the common
    * RE2/Java subset (character classes + bounded repetition, no
    * lookaround), so an external engine reproduces the masking exactly;
    * extend the chain per-deployment for further PII classes. */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(email, "[0-9]{7,}", "<NUM>")
  }

  /** Markup stripping for web-crawl text: drop tags, decode the five
    * predefined HTML entities, collapse whitespace. Pure `regexp_replace`
    * chain — codegen'd, per-row, zero shuffle; the patterns stay in the
    * common RE2/Java subset so an external engine reproduces the cleaning
    * exactly. `&amp;` is decoded LAST: decoding it first would turn
    * `&amp;lt;` into `&lt;` and then (wrongly) into `<` — the classic
    * double-decode bug. A real boilerplate extractor (readability-style DOM
    * scoring) needs an HTML parser; this is the regex tier every crawl
    * pipeline runs first. */
  def stripMarkup(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Gopher/C4-style per-document quality gates: the standard battery of
    * cheap filters a web-scale curation pass applies before any model-based
    * scoring. Output per document: the underlying integer-exact stats plus
    * one boolean per gate and the AND of all gates.
    *
    *  - `n_words` in [minWords, maxWords] — fragment / concatenation guard;
    *  - `mean_word_len` in [3, 10] — OCR noise / symbol soup guard
    *    (letter chars / letter runs, one division of exact ints);
    *  - `symbol_ratio` ≤ 0.1 — share of chars outside [A-Za-z0-9 ];
    *  - ≥ 2 stopword hits — C4's "real prose contains function words";
    *  - no "lorem ipsum", no '{' — template / code-leak guards.
    *
    * Scale shape: a pure projection (zero shuffle); every stat is computed
    * from the raw text column, so the whole battery rides one scan. */
  def qualityGates(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, stopwords: Seq[String],
                   minWords: Int = 40, maxWords: Int = 100000)
      : org.apache.spark.sql.DataFrame = {
    val txt = col(textCol)
    val letters = length(regexp_replace(lower(txt), "[^a-z]", ""))
    val stats = df.select(col(idCol),
      nWords(txt).as("n_words"),
      when(nWords(txt) === 0, lit(null).cast("double"))
        .otherwise(letters.cast("double") / nWords(txt)).as("mean_word_len"),
      when(length(txt) === 0, lit(null).cast("double"))
        .otherwise(length(regexp_replace(txt, "[A-Za-z0-9 ]", "")).cast("double")
          / length(txt)).as("symbol_ratio"),
      markerHits(tokens(txt), stopwords).as("stop_hits"),
      lower(txt).contains("lorem ipsum").as("has_lorem"),
      txt.contains("{").as("has_brace"))
    stats.select(col("*"),
      col("n_words").between(minWords, maxWords).as("gate_len"),
      coalesce(col("mean_word_len").between(3.0, 10.0), lit(false))
        .as("gate_word_len"),
      coalesce(col("symbol_ratio") <= 0.1, lit(false)).as("gate_symbol"),
      (col("stop_hits") >= 2).as("gate_stop"))
      .select(col("*"),
        (col("gate_len") && col("gate_word_len") && col("gate_symbol") &&
          col("gate_stop") && !col("has_lorem") && !col("has_brace")).as("pass"))
  }

  /** Inverted index over the corpus: one row per distinct term with its
    * document frequency and the sorted posting list (comma-joined string —
    * engine-portable where a native array column's serialization is not).
    * `minDf` drops hapax noise.
    *
    * Scale shape: per-doc DISTINCT vocabulary exploded (so the exchange
    * carries one row per (doc, distinct term), never per occurrence), then
    * ONE shuffle keyed on the term; `collect_list` is bounded by the term's
    * document frequency — for web-scale corpora cap or bucket the posting
    * list of stopword-class terms (they fail any practical `minDf`-style
    * ceiling anyway, and a real index shards postings by (term, bucket)). */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, minDf: Int = 1,
                    tok: Tokenizer = Tokenizer.Whitespace)
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("_id"),
        explode(array_distinct(tok match {
          case Tokenizer.Whitespace => tokens(col(textCol))
          case t => t.tokens(col(textCol))
        })).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n_docs"),
        array_join(sort_array(collect_list(col("_id"))), ",").as("postings"))
      .where(col("n_docs") >= minDf)

  /** ALL word n-gram occurrences (NOT distinct — [[graft.ext.Dedup.wordShingles]]
    * dedups for set similarity; repetition measurement needs the counts). */
  def wordNgramsAll(text: Column, n: Int): Column =
    wordNgramsAll(text, n, Tokenizer.Whitespace)

  /** Tokenizer-seam form of [[wordNgramsAll]] — the Whitespace arm keeps
    * the historical expressions verbatim. */
  def wordNgramsAll(text: Column, n: Int, tok: Tokenizer): Column = {
    val w = tok match {
      case Tokenizer.Whitespace => tokens(text)
      case t => t.tokens(text)
    }
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - lit(n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-document n-gram repetition profile — the Gopher/C4-style quality
    * signal "what share of the document is its most frequent n-gram":
    * (id, top_gram_n, n_grams, top_share) for every document with at least
    * one n-gram. `top_share` near 1 ⟹ boilerplate / degenerate repetition.
    *
    * Scale shape: ZERO shuffle — the counts come from the one-pass native
    * expression ([[graft.ext.expressions.RepetitionStatsExpr]]), so the
    * per-document statistic never leaves its row (the explode twin
    * [[repetitionStatsViaExplode]] shuffles every n-gram occurrence in the
    * corpus through a (doc, gram) aggregation — correct, and what the
    * DuckDB oracle restates, but a corpus-tokens-sized exchange). Exact
    * string counts in both paths; the share is one division of two exact
    * counts (cross-engine bit-identical). */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int,
                      tok: Tokenizer = Tokenizer.Whitespace): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    // the native kernel counts n-grams of whatever token array it is
    // handed, so the tokenizer seam is free here (the Whitespace arm's
    // token expression is verbatim-identical to the historical one)
    val toksOf = tok match {
      case Tokenizer.Whitespace => tokens(col(textCol))
      case t => t.tokens(col(textCol))
    }
    val stats = GraftColumnBridge.column(
      graft.ext.expressions.RepetitionStatsExpr(
        GraftColumnBridge.expression(toksOf), n))
    // short docs (no n-gram) are excluded by the CHEAP precondition on raw
    // text, which pushes to the scan — a where(isNotNull) on the expression
    // output would instead be pushed down as a clone of the whole kernel
    // (the projection-collapse recompute pathology)
    df.where(size(toksOf) >= n)
      .select(col(idCol), stats.as("_rs"))
      .select(col(idCol),
        col("_rs.top_gram_n").as("top_gram_n"),
        col("_rs.n_grams").as("n_grams"),
        (col("_rs.top_gram_n").cast("double") / col("_rs.n_grams")).as("top_share"))
  }

  /** Explode/aggregate twin of [[repetitionStats]] — the portable reference
    * implementation ExtSpec compares against. */
  private[ext] def repetitionStatsViaExplode(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int,
      tok: Tokenizer = Tokenizer.Whitespace): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(wordNgramsAll(col(textCol), n, tok)).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg(max(col("_c")).as("top_gram_n"), sum(col("_c")).as("n_grams"))
      .select(col(idCol), col("top_gram_n"), col("n_grams"),
        (col("top_gram_n").cast("double") / col("n_grams")).as("top_share"))

  /** fastText-shaped quality-classifier INFERENCE (Joulin et al. 2016, the
    * architecture behind CCNet/DCLM-style quality filters): features are
    * the document's unigrams plus adjacent-bigram conjunctions, each hashed
    * into a fixed `dim`-bucket space (the hashing trick — no vocabulary
    * file, OOV-free by construction), scored by a linear weight per bucket
    * and summed. Weights here are a deterministic keyed-hash stand-in
    * ((b·1103515245 + 12345) mod 2001 − 1000, integers in [−1000, 1000] —
    * the seam where a TRAINED weight vector drops in: it is a pure
    * bucket→int map, so swapping in learned weights changes one
    * subexpression, not the plan), and the score is an exact integer sum,
    * so any engine with an md5 reproduces it bit-for-bit.
    *
    * Output: (id, n_feats, score_fp, label) — label = 1 iff score_fp > 0.
    * Scale shape: ONE native one-pass expression per document
    * ([[graft.ext.expressions.HashedLinearScoreExpr]] — tokenize, hash the
    * raw digest bytes, weigh, accumulate; no hex strings, no per-feature
    * lambda interpretation) — a scan-level projection, zero shuffle, zero
    * driver state; the weight table never materializes anywhere (a learned
    * one would ride the closure as a broadcast array indexed by bucket).
    * Bit-equality with the portable Column-chain twin is pinned in
    * RecipeSamplingSpec. */
  /** The classifier kernel as a bare Column — `struct<n_feats, score_fp>`
    * over a text column, so a pipeline can GATE on the score as a pure
    * scan-level filter (no join against a score frame). */
  def hashedLinearScoreCol(text: Column, dim: Int = 4096,
                           salt: String = "qc"): Column = {
    require(dim > 0, s"feature dimension must be positive: $dim")
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    GraftColumnBridge.column(
      graft.ext.expressions.HashedLinearScoreExpr(
        GraftColumnBridge.expression(text), dim, salt))
  }

  def hashedLinearScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, dim: Int = 4096,
                        salt: String = "qc"): org.apache.spark.sql.DataFrame = {
    val scored = hashedLinearScoreCol(col(textCol), dim, salt)
    df.select(col(idCol), scored.as("_s"))
      .select(col(idCol),
        col("_s.n_feats").as("n_feats"),
        col("_s.score_fp").as("score_fp"))
      .withColumn("label", when(col("score_fp") > 0, 1).otherwise(0))
  }

  /** The unigram + adjacent-bigram feature array of [[hashedLinearScore]]'s
    * feature space ("tok" and "tok_tok", multiplicity kept). */
  private[ext] def classifierFeats(text: Column): Column = {
    val toks = filter(tokens(text), t => length(t) > 0)
    val nb = size(toks) - 1
    val bigrams = when(nb >= 1,
      zip_with(slice(toks, lit(1), nb), slice(toks, lit(2), nb),
        (a, b) => concat(a, lit("_"), b)))
      .otherwise(array().cast("array<string>"))
    concat(toks, bigrams)
  }

  /** Classifier TRAINING under the oracle gate: an integer BATCH perceptron
    * over [[hashedLinearScore]]'s exact feature space (same tokenize, same
    * `_`-joined bigrams, same md5 bucket), so the learned vector drops
    * straight into the E9g inference seam. Batch (not sequential) updates
    * make the fit order-independent and therefore restatable: per epoch,
    *   w ← w + Σ_misclassified y·x   (x = integer bucket-count vector,
    *   prediction = +1 iff w·x ≥ 0, labels ∈ {+1,−1}, all arithmetic exact).
    * Distributed shape per epoch: the weight vector rides the plan as a
    * `dim`-long literal array, the dot product is a scan-level fold over
    * each doc's (persisted) bucket array — no join against a weight table —
    * and the gradient is ONE bucket-keyed aggregation whose result (≤ dim
    * rows, like the k-means centroid collects) updates the driver copy.
    * Epochs are sequential jobs over the cached feature frame; nothing
    * corpus-sized ever reaches the driver.
    *
    * Returns the weight per bucket, index 0..dim-1, after `epochs` rounds. */
  def perceptronTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
                      labelCol: String, dim: Int, epochs: Int,
                      salt: String = "qc",
                      averaged: Boolean = false): Seq[Long] = {
    require(dim > 0, s"feature dimension must be positive: $dim")
    require(epochs >= 1, s"epochs out of range: $epochs")
    val docFeats = docs
      .select(col(labelCol).cast("long").as("y"),
        transform(classifierFeats(col(textCol)), bucketCol(_, dim, salt))
          .as("bs"))
      .persist()
    try trainLoop(docFeats, dim, epochs, averaged)
    finally docFeats.unpersist()
  }

  /** ONE-VS-ALL multi-class training — [[perceptronTrain]]'s exact
    * per-class loop run once per class over ONE shared persisted feature
    * frame (the tokenize+hash pass is the corpus-sized cost; the k fits
    * re-read the cache). `classCol` holds the class index 0..nClasses-1.
    * Semantically identical to k independent binary fits with
    * y = (class == k ? +1 : −1), which is what lets an external oracle
    * restate each class's chain independently. Returns the per-class
    * weight vectors in class order — argmax inference over these is the
    * trained flagship language-ID path ([[trainedArgmax]]). */
  def perceptronTrainOvA(docs: org.apache.spark.sql.DataFrame, textCol: String,
                         classCol: String, nClasses: Int, dim: Int,
                         epochs: Int, salt: String = "qc",
                         averaged: Boolean = false): Seq[Seq[Long]] = {
    require(dim > 0, s"feature dimension must be positive: $dim")
    require(epochs >= 1, s"epochs out of range: $epochs")
    require(nClasses >= 2, s"nClasses out of range: $nClasses")
    val feats = docs
      .select(col(classCol).cast("long").as("c"),
        transform(classifierFeats(col(textCol)), bucketCol(_, dim, salt))
          .as("bs"))
      .persist()
    try (0 until nClasses).map { k =>
      trainLoop(feats.select(
        when(col("c") === k, 1L).otherwise(-1L).as("y"), col("bs")),
        dim, epochs, averaged)
    } finally feats.unpersist()
  }

  private def bucketCol(t: Column, dim: Int, salt: String): Column =
    conv(substring(md5(concat(t, lit(salt))), 1, 8), 16, 10)
      .cast("long") % dim

  /** The shared epochs loop over a (y, bs) frame (persisted by callers):
    * per epoch the weight vector rides as a literal array, the dot is a
    * scan-level fold, the gradient ONE bucket-keyed aggregation collected
    * at ≤ dim rows. */
  private def trainLoop(docFeats: org.apache.spark.sql.DataFrame, dim: Int,
                        epochs: Int, averaged: Boolean): Seq[Long] = {
    val w = Array.fill(dim)(0L)
    val wSum = Array.fill(dim)(0L)
    for (_ <- 1 to epochs) {
      val wLit = array(w.toIndexedSeq.map(lit): _*)
      val dot = aggregate(col("bs"), lit(0L),
        (acc, b) => acc + element_at(wLit, b.cast("int") + 1))
      docFeats
        .select(col("y"), col("bs"), dot.as("dot"))
        .where(when(col("dot") >= 0, 1L).otherwise(-1L) =!= col("y"))
        .select(col("y"), explode(col("bs")).as("b"))
        .groupBy("b").agg(sum(col("y")).as("delta"))
        .collect()
        .foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
      for (b <- 0 until dim) wSum(b) += w(b)
    }
    // averaged = the SUM of the per-epoch snapshots (Freund & Schapire's
    // averaged perceptron, integer form — the positive scale factor
    // doesn't move the decision boundary): damps the full-batch
    // oscillation where each epoch flips a whole class's predictions
    if (averaged) wSum.toSeq else w.toSeq
  }

  /** Inference with a TRAINED weight vector — the seam [[hashedLinearScore]]
    * documents, closed: same feature space, weights as a literal array
    * riding the plan (broadcast-by-construction), score = exact integer
    * fold over the doc's buckets. Pure scan-level projection, zero shuffle.
    * `weights.length` is the feature dimension. */
  def trainedScoreCol(text: Column, weights: Seq[Long],
                      salt: String = "qc"): Column = {
    require(weights.nonEmpty, "trainedScoreCol: empty weight vector")
    val dim = weights.length
    val wLit = array(weights.map(lit): _*)
    val bs = transform(classifierFeats(text), t =>
      conv(substring(md5(concat(t, lit(salt))), 1, 8), 16, 10)
        .cast("long") % dim)
    aggregate(bs, lit(0L), (acc, b) => acc + element_at(wLit, b.cast("int") + 1))
  }

  /** First-wins argmax over per-class score columns — the inference half of
    * [[perceptronTrainOvA]]: class k is predicted iff its score is >= every
    * LATER class's score and no earlier class already won (ties break to
    * the lowest index — the same first-match CASE shape an external SQL
    * restatement produces). Pure scalar projection. */
  def argmaxFirst(scores: Seq[Column]): Column = {
    require(scores.nonEmpty, "argmaxFirst: no score columns")
    val n = scores.length
    if (n == 1) lit(0L)
    else {
      // A null score would null every comparison and fall through to the
      // LAST class, while an external SQL restatement that coalesces missing
      // dot-products to 0 predicts class 0 — coalesce here so null scores
      // behave as 0 on both sides.
      val s = scores.map(coalesce(_, lit(0L)))
      var c: Column = null
      for (k <- 0 until n - 1) {
        val cond = (k + 1 until n).map(j => s(k) >= s(j))
          .reduce(_ && _)
        c = if (c == null) when(cond, k.toLong) else c.when(cond, k.toLong)
      }
      c.otherwise((n - 1).toLong)
    }
  }
}
