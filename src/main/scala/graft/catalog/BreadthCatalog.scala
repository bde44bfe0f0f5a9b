package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, BloomJoin, Curation, Decontaminate, Dedup, Dsir, Extract, Funnel, Graph, Layout, Multimodal, RangeJoin, Resample, Sampling, Similarity, SkewJoin, Sketches, TextStats, Urls}
import graft.streaming.EventTimeOps

/** Streaming-window shape, sources/sinks, and SQL-surface breadth: windows, funnels, SCD2, sketches portable twins, ETL round-trips, graph/layout.
  *
  * One catalog family of [[ExtQueries]] (split from the former monolith,
  * zero behavior change): `queries` are the Spark definitions, `oracle`
  * the DuckDB restatements the driver gates them against. Portability
  * rules are documented on [[ExtQueries]]; shared fixtures/helpers live
  * in [[CatalogShared]]. */
object BreadthCatalog {
  import CatalogShared._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tumbling event-time window (batch semantics of the streaming agg).
    "q_tumbling_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyyMMddHH").as("hr"),
          col("event_type"), col("n"))
        .orderBy("hr", "event_type")
    }),


    // Sliding event-time window (2h window, 1h slide): each event lands in
    // two windows; batch semantics of the watermarked streaming agg.
    "q_sliding_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyyMMddHH").as("ws"),
          col("event_type"), col("n"))
        .orderBy("ws", "event_type")
    }),


    // As-of join: each purchase picks up the user's most recent prior view
    // value (union + keyed window, one shuffle — oracle is DuckDB's native
    // ASOF LEFT JOIN).
    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      AsofJoin.asof(purchases, views, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("asof_value"))
        .orderBy("event_id")
    }),


    // Range join: events matched to derived value bands (bucketized
    // point-in-interval equi-join, not a cross-join filter).
    "q_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      // avg via exact decimal sum so band bounds are engine-identical
      val bands = ev.groupBy(col("event_type").as("band_type"))
        .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_v"))
        .select(col("band_type"), (col("avg_v") * 0.5).as("lo"),
          (col("avg_v") * 1.5).as("hi"))
      RangeJoin.pointInInterval(ev.select(col("value")), bands,
          "value", "lo", "hi", bucketWidth = 10.0)
        .groupBy(col("band_type")).agg(count(lit(1)).as("n"))
        .orderBy("band_type")
    }),


    // Interval-overlap join (interval × interval, the range-join general
    // form): signup value-windows × error value-windows. Bucketized to an
    // equi-join on the cell, pairs emitted only in their overlap-start
    // cell (exactly-once without a distinct); the oracle is the plain
    // inequality join, so any duplicate or dropped pair hash-fails.
    "q_interval_overlap" -> ((s, d) => {
      val ev = t(s, d, "events")
      val a = ev.where(col("event_type") === "signup")
        .select(col("event_id").as("a_id"), col("value").as("a_lo"),
          (col("value") + 15.0).as("a_hi"))
      val b = ev.where(col("event_type") === "error")
        .select(col("event_id").as("b_id"), col("value").as("b_lo"),
          (col("value") + 10.0).as("b_hi"))
      RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
          bucketWidth = 20.0)
        .select(col("a_id"), col("b_id"))
        .orderBy("a_id", "b_id")
    }),


    // Gap-based session windows (built-in session_window; identical code
    // runs over readStream with a watermark — see EventTimeSpec).
    "q_session_window" -> ((s, d) => {
      val purchases = t(s, d, "events").where(col("event_type") === "purchase")
      EventTimeOps.sessionCounts(purchases, "ts", "user_id", "10 minutes")
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyyMMddHHmmss.SSSSSS")
            .as("session_start"),
          col("n"))
        .orderBy("user_id", "session_start")
    }),


    // Ordered funnel (signup → view → purchase), earliest-transition
    // semantics: ONE user-keyed exchange + a codegen'd fold over each
    // user's time-sorted step events. The oracle restates it as the
    // iterative join chain (t_{k+1} = min ts > t_k), so the fold ≡ join
    // chain equivalence is itself the checked contract.
    "q_funnel_depth" -> ((s, d) => {
      Funnel.funnelDepth(t(s, d, "events"), "user_id", "event_type", "ts",
          Seq("signup", "view", "purchase"))
        .select(col("user_id"), col("steps_completed"),
          date_format(col("t_reached"), "yyyyMMddHHmmss.SSSSSS").as("t_reached"))
        .orderBy("user_id")
    }),


    // The funnel chart derived from the same fold: users reaching each step.
    "q_funnel_counts" -> ((s, d) => {
      Funnel.funnelCounts(t(s, d, "events"), "user_id", "event_type", "ts",
          Seq("signup", "view", "purchase"))
    }),


    // Tamper-evident export ledger (E5f): per day, an md5 HASH CHAIN over
    // the rows in (ts, event_id) order — one reordered/dropped/altered row
    // changes every downstream digest (unlike the commutative shard
    // checksum of E23j, order is part of the contract here). Day-bounded
    // group fold — the real-ledger contract chains within bounded shards;
    // the day key IS the shard.
    "etl_ledger_chain" -> ((s, d) => {
      val lst = t(s, d, "events")
        .select(date_format(date_trunc("day", col("ts")), "yyyyMMdd").as("day"),
          struct(col("ts"), col("event_id")).as("ord"),
          md5(col("event_id").cast("string")).as("rd"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          collect_list(struct(col("ord"), col("rd"))).as("lst"))
      lst.select(col("day"), col("n"),
          aggregate(
            transform(array_sort(col("lst")), x => x.getField("rd")),
            lit("seed"),
            (acc, x) => md5(concat(acc, x))).as("chain"))
        .orderBy("day")
    }),


    // Benford first-digit audit (E5e): the fraud/data-quality classic —
    // observed leading-digit counts of the integer cents vs the Benford
    // expectation, whose 9 log10 probabilities ride as the SAME pre-rounded
    // fixed-point literal table on both engines (the HLL linear-counting
    // trick). Leading digit via integer string length — no float
    // formatting anywhere.
    "q_benford_audit" -> ((s, d) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val digit = expr("cents div CAST(pow(10, length(CAST(cents AS STRING)) - 1) AS BIGINT)")
      val obs = t(s, d, "events")
        .select(cents.as("cents")).where(col("cents") > 0)
        .select(digit.cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val total = obs.agg(sum(col("n_obs")).as("n_total"))
      import s.implicits._
      obs.join(benfordP.toDF("digit", "p_fp"), "digit")
        .crossJoin(total)
        .select(col("digit"), col("n_obs"),
          expr("(n_obs * 1000000) div n_total").as("share_fp"), col("p_fp"))
        .orderBy("digit")
    }),


    // Partition-skew audit (E5d2): daily row counts + the max/mean skew
    // ratio in fixed point ((max·n_days·10⁶) div total — rational, no
    // float) — the pre-run diagnostic that decides whether a date-keyed
    // write needs salting/AQE before it burns a cluster.
    "etl_partition_skew_audit" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyyMMdd").as("day"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total_rows"),
          max(col("n")).as("max_day_rows"))
        .select(col("n_days"), col("total_rows"), col("max_day_rows"),
          expr("(max_day_rows * n_days * 1000000) div total_rows")
            .as("skew_fp"))
    }),


    // Hourly trend slope (E2i): least-squares slope of hourly volume per
    // event_type — RATIONAL (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), so the
    // regression restates in exact integer fixed-point ×10⁶ with no float;
    // the intercept derives from the already-rounded slope identically on
    // both sides. One hourly aggregation, then per-type sums.
    "q_trend_slope" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', " +
            "date_trunc('hour', ts))").as("x"))
        .agg(count(lit(1)).as("y"))
      hourly.groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("cnt").as("n_hours"),
          expr("CASE WHEN cnt * sxx - sx * sx = 0 THEN 0 " +
            "ELSE ((cnt * sxy - sx * sy) * 1000000) div (cnt * sxx - sx * sx) END")
            .as("slope_fp"))
        .orderBy("event_type")
    }),


    // Funnel conversion RATES (E2h): step-over-step rates in integer
    // fixed-point ×10⁶ on top of the ordered-funnel counts (step 1 rates
    // against the distinct-user total). The lag window runs on the 3-row
    // counts frame only.
    "q_funnel_rates" -> ((s, d) => {
      val counts = Funnel.funnelCounts(t(s, d, "events"), "user_id",
        "event_type", "ts", Seq("signup", "view", "purchase"))
      val total = t(s, d, "events")
        .agg(count_distinct(col("user_id")).as("n_total"))
      counts
        .withColumn("prev", lag(col("n_users"), 1).over(
          Window.orderBy("step")))
        .crossJoin(total)
        .select(col("step"), col("step_name"), col("n_users"),
          expr("(n_users * 1000000) div coalesce(prev, n_total)")
            .as("rate_fp"))
        .orderBy("step")
    }),


    // Leave-one-out bigram NOVELTY (E9l): the share of a doc's distinct
    // bigrams that appear in NO other document (df = 1) — original content
    // scores high, boilerplate low. One gram-keyed aggregation (the
    // canonical shape), then the df frame joins back on the gram key.
    "text_ngram_novelty" -> ((s, d) => {
      val toks = filter(TextStats.tokens(col("text")), x => length(x) > 0)
      val nb = size(toks) - 1
      val grams = when(nb >= 1, array_distinct(
          zip_with(slice(toks, lit(1), nb), slice(toks, lit(2), nb),
            (a, b) => concat(a, lit("_"), b))))
        .otherwise(array().cast("array<string>"))
      val g = t(s, d, "documents")
        .select(col("doc_id"), explode(grams).as("g"))
      val df = g.groupBy("g").agg(count(lit(1)).as("df"))
      g.join(df, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_grams"), col("n_unique"),
          expr("(n_unique * 1000000) div n_grams").as("novelty_fp"))
        .orderBy("doc_id")
    }),


    // Custom keyed state (mapGroupsWithState) — batch mode is oracle-checked
    // here; cross-micro-batch accumulation is covered by EventTimeSpec.
    "q_running_stats" -> ((s, d) => {
      import s.implicits._
      val typed = t(s, d, "events").where(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts"))
        .as[EventTimeOps.KeyedEvent]
      EventTimeOps.runningStats(typed).toDF()
        .select(col("key").as("user_id"), col("n"),
          date_format(col("first_ts"), "yyyyMMddHHmmss.SSSSSS").as("first_ts"),
          date_format(col("last_ts"), "yyyyMMddHHmmss.SSSSSS").as("last_ts"))
        .orderBy("user_id")
    }),


    // CSV sink + scan round-trip with the reference's quote/escape options
    // (SURVEY §2 rows 1, 3): write a slice, read it back, aggregate. The
    // oracle aggregates the original rows — any quoting infidelity breaks it.
    "etl_csv_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val tmp = scratchDir("graft_csv_rt", d)
      t(s, d, "events").where(col("event_id") % 7 === 0)
        .select(col("event_id"), col("event_type"), col("props"))
        .write.mode("overwrite")
        .option("header", "true").option("quote", "\"").option("escape", "\\")
        .csv(tmp)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("props", StringType)))
      s.read.schema(schema)
        .option("header", "true").option("quote", "\"").option("escape", "\\")
        .csv(tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("props")).as("min_props"),
          countDistinct(col("props")).as("n_props"))
        .orderBy("event_type")
    }),


    // SCD Type-2 historization: each user's event_type stream becomes
    // validity intervals (valid_from/valid_to/version/is_current) — the
    // standard warehouse extension of the reference's SCD1 dim upsert.
    // Timestamps are formatted to strings for cross-engine comparison
    // (DuckDB reads the parquet as TIMESTAMP_NS, Spark as truncated micros
    // — both are µs-aligned in this data, asserted before adoption).
    "etl_scd2" -> ((s, d) => {
      graft.etl.Scd.historize(t(s, d, "events"),
          "user_id", "ts", "event_type", "event_id")
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyyMMddHHmmss.SSSSSS").as("valid_from"),
          date_format(col("valid_to"), "yyyyMMddHHmmss.SSSSSS").as("valid_to"),
          col("version"), col("is_current"))
        .orderBy("user_id", "version")
    }),


    // SCD2 incremental upsert under the driver gate: fold the second half
    // of the month into the first half's historized dim and compare against
    // the FULL-REBUILD oracle (etl_scd2's own SQL) — upsert∘historize ≡
    // historize∘union is the operator's contract, so the full rebuild IS
    // the oracle. The ts<=T / ts>T split satisfies the strict per-key
    // watermark the contract requires.
    "etl_scd2_upsert" -> ((s, d) => {
      val obs = t(s, d, "events")
      val split = to_timestamp(lit("2024-01-16 00:00:00"))
      val first = graft.etl.Scd.historize(obs.where(col("ts") <= split),
        "user_id", "ts", "event_type", "event_id")
      graft.etl.Scd.upsert(first, obs.where(col("ts") > split),
          "user_id", "ts", "event_type", "event_id")
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyyMMddHHmmss.SSSSSS").as("valid_from"),
          date_format(col("valid_to"), "yyyyMMddHHmmss.SSSSSS").as("valid_to"),
          col("version"), col("is_current"))
        .orderBy("user_id", "version")
    }),


    // SCD2 point-in-time resolve: purchase facts (ts shifted back 1h, so
    // probes land mid-history and some fall BEFORE their user's first
    // version → NULL resolution, the left-join contract) against the full
    // historized dim. The oracle restates it as the general INTERVAL join
    // (ts >= valid_from AND ts < valid_to OR open) — asof-carry ≡ interval
    // join on a tiling dim is exactly the operator's contract, so the row
    // cross-checks the two formulations against each other.
    "etl_scd2_resolve" -> ((s, d) => {
      val ev = t(s, d, "events")
      val dim = graft.etl.Scd.historize(ev, "user_id", "ts", "event_type", "event_id")
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("ts"))
      graft.etl.Scd.resolveAtTime(facts, dim, "user_id", "ts", "event_type")
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyyMMddHHmmss.SSSSSS").as("ts_s"),
          col("asof_event_type"),
          date_format(col("asof_valid_from"), "yyyyMMddHHmmss.SSSSSS").as("valid_from_s"),
          col("asof_version"))
        .orderBy("user_id", "event_id")
    }),


    // CDC changelog apply (the general MERGE): a synthetic I/U/D changelog
    // derived from orders (latest o_orderkey per customer wins; every 37th
    // orderkey is a delete) merged into the customer snapshot. The oracle
    // restates compact-then-apply with QUALIFY + anti-select + union — any
    // wrong survivor (stale seq, resurrected delete, dropped untouched
    // key) hash-fails.
    "etl_cdc_apply" -> ((s, d) => {
      val base = t(s, d, "customer").select(col("c_custkey").as("k"),
        col("c_name").as("name"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
      val changes = t(s, d, "orders").select(col("o_custkey").as("k"),
        col("o_orderkey").as("seq"),
        when(pmod(col("o_orderkey"), lit(37)) === 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        concat(lit("upd_"), col("o_orderkey")).as("name"),
        col("o_totalprice").cast("decimal(18,2)").as("bal"))
      // `bal` emitted as integer cents: the driver's value-hash canonicalizes
      // DECIMAL differently across engines (the r7 q_rank_funcs failure
      // class), and (decimal(18,2) * 100) :: bigint is exact on both sides.
      graft.etl.Cdc.applyChangelog(base, changes, Seq("k"), "seq", "op")
        .select(col("k"), col("name"),
          (col("bal") * 100).cast("bigint").as("bal_cents"))
        .orderBy("k")
    }),


    // Per-key minute-grid gap fill with carry-forward: densify each user's
    // day-1 event stream onto its observed minute span — the resampling
    // step between raw telemetry and evenly-spaced consumers. Carried raw
    // values + an observed flag; timestamps formatted for the cross-engine
    // hash (the scd2 convention).
    "etl_gap_fill" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("user_id") < 20 && dayofmonth(col("ts")) === 1)
      Resample.gapFillMinutes(ev, "user_id", "ts", "value", "event_id")
        .select(col("user_id"),
          date_format(col("minute"), "yyyyMMddHHmm").as("minute_s"),
          col("value"), col("is_observed"))
        .orderBy("user_id", "minute_s")
    }),


    // BM25 retrieval top-k — the search-engine modality next to the dense
    // ANN suite: three 2-term queries against the corpus, k=10 each. Every
    // scoring ingredient is an exact integer (tf/df/dl/N/Σdl) and the
    // per-term contribution is floored to 2^20 fixed point after a fixed
    // order of correctly-rounded IEEE ops, so the score is an
    // order-independent integer sum restated verbatim in the oracle — the
    // rational-idf variant exists precisely because ln is NOT
    // correctly-rounded across engines (see Retrieval scaladoc).
    "text_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val q = Seq((0L, "vector"), (0L, "stream"), (1L, "customer"),
        (1L, "query"), (2L, "scan"), (2L, "window")).toDF("query_id", "token")
      ext.Retrieval.bm25TopK(t(s, d, "documents"), "doc_id", "text", q, k = 10)
        .orderBy("query_id", "rank")
    }),


    // BM25 under the SCRIPT-AWARE tokenizer over the mixed-script fixture:
    // the queries are single Han/Katakana/Thai CODEPOINTS — exactly what a
    // whitespace index can never match (the runs are glued to latin words,
    // so no whitespace token ever equals a single ideograph). Same exact
    // integer/fixed-point scoring law as text_bm25_topk; only the token
    // law changes, and the oracle restates both.
    "text_bm25_cjk" -> ((s, d) => {
      import s.implicits._
      val fx = t(s, d, "documents").select(col("doc_id"))
        .where(col("doc_id") < 30)
        .select(col("doc_id"),
          CatalogShared.CjkFixture.text(col("doc_id"), "epsilon").as("text"))
      val h = CatalogShared.CjkFixture.Han
      val ka = CatalogShared.CjkFixture.Kana
      val th = CatalogShared.CjkFixture.Thai
      val q = Seq((0L, h(0).toString), (0L, h(5).toString),
        (1L, h(7).toString), (1L, h(12).toString),
        (2L, ka(10).toString), (2L, th(6).toString)).toDF("query_id", "token")
      ext.Retrieval.bm25TopK(fx, "doc_id", "text", q, k = 5,
          tok = graft.ext.Tokenizer.ScriptAware)
        .orderBy("query_id", "rank")
    }),


    // RAG indexing pipeline composed (E39): chunk (32-token window, 24
    // stride) → BM25 over the CHUNK corpus → top-5 chunks per query with
    // (doc_id, chunk_no) provenance — retrieval returns the passage, not
    // the document, which is what a RAG consumer actually feeds a model.
    // Chunk ids are doc_id·10⁶ + chunk_no (docs are far under 10⁶
    // chunks), so provenance is pure arithmetic; every stage reuses an
    // already-gated operator and the oracle restates the whole chain.
    "rag_pipeline_e2e" -> ((s, d) => {
      import s.implicits._
      val chunks = TextStats.chunkWords(t(s, d, "documents"), "doc_id",
          "text", window = 32, stride = 24)
        .select((col("doc_id") * 1000000L + col("chunk_no")).as("chunk_id"),
          col("chunk_text"))
      val q = Seq((0L, "vector"), (0L, "stream"), (1L, "customer"),
        (1L, "query"), (2L, "scan"), (2L, "window")).toDF("query_id", "token")
      ext.Retrieval.bm25TopK(chunks, "chunk_id", "chunk_text", q, k = 5)
        .select(col("query_id"), col("rank"),
          expr("doc_id div 1000000").as("doc_id"),
          expr("doc_id % 1000000").cast("int").as("chunk_no"), col("score_fp"))
        .orderBy("query_id", "rank")
    }),


    // The RAG chain over PARAGRAPH-boundary chunks (E39 with E10b2's
    // chunker): greedy 25-token packing at ' a ' boundaries → BM25 over
    // the chunk corpus → top-5 with (doc_id, chunk_no) provenance — the
    // retrieval unit a production RAG system actually wants (passages
    // that end at semantic boundaries, not mid-sentence).
    "rag_pipeline_para" -> ((s, d) => {
      import s.implicits._
      val chunks = TextStats.chunkParagraphs(t(s, d, "documents"), "doc_id",
          "text", maxTokens = 25, sep = " a ")
        .select((col("doc_id") * 1000000L + col("chunk_no")).as("chunk_id"),
          col("chunk_text"))
      val q = Seq((0L, "vector"), (0L, "stream"), (1L, "customer"),
        (1L, "query"), (2L, "scan"), (2L, "window")).toDF("query_id", "token")
      ext.Retrieval.bm25TopK(chunks, "chunk_id", "chunk_text", q, k = 5)
        .select(col("query_id"), col("rank"),
          expr("doc_id div 1000000").as("doc_id"),
          expr("doc_id % 1000000").cast("int").as("chunk_no"), col("score_fp"))
        .orderBy("query_id", "rank")
    }),


    // Hybrid retrieval: BM25 text ranks ⊕ dense cosine ranks, fused with
    // reciprocal-rank fusion. Query ids are shared across modalities
    // (testdata links doc_id ↔ vec_id 1:1): each query is 2 BM25 terms
    // against `documents` plus the embedding of vec_id = query_id against
    // `embeddings`, depth 20 per list, final top-10. The fused score is
    // pure integer arithmetic (2^20 div (60 + rank), summed) so the
    // oracle restates both rankings AND the fusion bit-exactly.
    "sim_hybrid_topk" -> ((s, d) => {
      import s.implicits._
      val q = Seq((0L, "vector"), (0L, "stream"), (1L, "customer"),
        (1L, "query"), (2L, "scan"), (2L, "window")).toDF("query_id", "token")
      val text = ext.Retrieval
        .bm25TopK(t(s, d, "documents"), "doc_id", "text", q, k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val e = t(s, d, "embeddings")
      val dense = Similarity
        .bruteForceTopK(e, e.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("id"), col("rank"))
      ext.Retrieval.rrfFuse(Seq(text, dense), k = 10)
        .orderBy("query_id", "rank")
    }),


    // Z-order (Morton) layout key — the OPTIMIZE ZORDER BY capability of
    // Delta/Iceberg-class formats: interleave the bits of two columns into
    // one sort key so range-partitioned parquet gets row-group min/max
    // locality on BOTH dimensions (a single-column sort clusters only
    // itself; measured 2.0× fewer rows scanned at sf0.1). Pure
    // shift/and/or integer arithmetic — codegen primitives, engine-exact,
    // so the key itself is fully oracle-checked via the same unrolled
    // arithmetic in DuckDB. The layout write path (range partition on the
    // key = disjoint curve segments per file) is pinned in LayoutSpec.
    "etl_zorder_key" -> ((s, d) => {
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        Layout.zorderKey(16, col("l_partkey"), col("l_suppkey")).as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),


    // Small-file compaction: fragment the table into 16 files, bin-pack
    // back via the shuffle-free coalesce rewrite (file-count collapse and
    // the no-Exchange plan are LayoutSpec's claims), and aggregate the
    // COMPACTED copy — the oracle aggregates the original table, so any
    // content infidelity in the rewrite (lost/duplicated rows, value
    // corruption) breaks the hash.
    "etl_compact" -> ((s, d) => {
      val root = scratchDir("graft_compact", d)
      val frag = s"$root/frag"
      val packed = s"$root/packed"
      t(s, d, "documents").repartition(16)
        .write.mode("overwrite").parquet(frag)
      Layout.compactTo(s, frag, packed, targetFileBytes = 1L << 30)
      s.read.parquet(packed)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
          sum(length(col("text"))).as("sum_len"))
        .orderBy("lang")
    }),


    // OHLC bars: resample each user's value stream to hourly
    // open/high/low/close — the time-series downsampling aggregation.
    // open/close are SELECTED doubles (min_by/max_by on the unique
    // (ts, event_id) order — no arithmetic, so raw doubles hash-compare),
    // restated in DuckDB as ordered first()/last().
    "q_ohlc" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("user_id"),
          date_format(date_trunc("hour", col("ts")), "yyyyMMddHH").as("hr"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "hr")
    }),


    // Equi-width histogram: portable arithmetic bucketing (floor(value/10)
    // capped at the top bucket — no engine histogram function involved),
    // integer counts + integer-cents mass per bucket. The groupBy is the
    // histogram; map-side partials make it one small exchange at any scale.
    "q_histogram" -> ((s, d) => {
      val bucket = least(floor(col("value") / 10.0), lit(19.0)).cast("int")
      t(s, d, "events")
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
            .as("mass_cents"))
        .orderBy("bucket")
    }),


    // RANGE-frame window over event time: each event's trailing-1-hour
    // per-user count and value sum. The frame bound is an integer
    // epoch-microsecond range on BOTH engines — interval frames restate
    // portably once the ordering key is integral; the sum is carried as
    // integer cents ((value::dec(18,2)*100)::bigint) so the output schema
    // has no raw decimal for the driver's value-hash to re-encode.
    "q_range_frame" -> ((s, d) => {
      val ev = t(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(Queries.epochMicrosOf(ev, "ts"))
        .rangeBetween(-3600000000L, 0L)
      ev
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).cast("long").as("n_1h"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
            .over(w).as("sum_1h_cents"))
        .orderBy("event_id")
    }),


    // Schema-evolution scan: two parquet batches with DIFFERENT column
    // sets (old writer / new writer), read back as one frame via
    // mergeSchema — the source-breadth case every long-lived lake hits.
    // The oracle aggregates the ORIGINAL rows, so missing-column nulls,
    // column alignment, and the union semantics are all on the hash.
    "etl_schema_evolution" -> ((s, d) => {
      val tmp = scratchDir("graft_schema_ev", d)
      val ev = t(s, d, "events")
      ev.where(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"))
        .write.mode("overwrite").parquet(s"$tmp/b1")
      ev.where(col("event_id") % 2 === 1)
        .select(col("event_id"), col("value"))
        .write.mode("overwrite").parquet(s"$tmp/b2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/b1", s"$tmp/b2")
        .agg(count(lit(1)).as("n"),
          count(col("user_id")).as("n_user"),
          count(col("value")).as("n_value"),
          sum(col("user_id")).as("sum_user"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
            .as("sum_value_cents"))
    }),


    // Dynamic partition overwrite: write a partitioned store, then
    // overwrite ONLY the partitions present in a corrective batch (day 5
    // re-stated with doubled values) — untouched partitions must survive.
    // The read-back aggregation is hashed against the oracle's CASE
    // restatement over the original rows.
    "etl_partition_overwrite" -> ((s, d) => {
      val tmp = scratchDir("graft_part_ow", d)
      val ev = t(s, d, "events")
        .withColumn("day", dayofmonth(col("ts")).cast("int"))
      ev.where(col("day") <= 10)
        .select(col("event_id"), col("value"), col("day"))
        .write.partitionBy("day").mode("overwrite").parquet(tmp)
      ev.where(col("day") === 5)
        .select(col("event_id"), (col("value") * 2).as("value"), col("day"))
        .write.partitionBy("day").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
            .as("sum_value_cents"))
        .orderBy("day")
    }),


    // Snapshot TIME TRAVEL over the versioned star publish: three batches
    // land (days 1-3, 4-5, 6) under retainVersions=2, so version 1 is
    // retention-swept and versions 2 and 3 stay readable; each retained
    // version is then read AS OF its publish — fact row count, dim_date
    // cardinality and max minute key, dim_title cardinality — and the
    // oracle restates every snapshot from the cumulative day ranges. A
    // stale read (current-version leak into v2) or a broken sweep (v1
    // surviving) both change the emitted rows.
    "etl_time_travel" -> ((s, d) => {
      val tmp = scratchDir("graft_time_travel", d)
      val store = graft.etl.StarStore(s, tmp, Int.MaxValue, 2)
      val ev = t(s, d, "events")
      def raw(lo: Int, hi: Int) = ev
        .where(dayofmonth(col("ts")).between(lo, hi))
        .select(
          date_format(date_trunc("minute", col("ts")),
            "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("DateTime"),
          concat(lit("news| T"), (col("user_id") % 97).cast("string"))
            .as("VideoTitle"),
          lit("206").as("events"))
      store.runBatch(raw(1, 3), "tt1")
      store.runBatch(raw(4, 5), "tt2")
      store.runBatch(raw(6, 6), "tt3")
      store.versions.map { v =>
        store.readVersion("fact", v).agg(count(lit(1)).as("n_fact"))
          .crossJoin(store.readVersion("dim_date", v)
            .agg(count(lit(1)).as("n_minutes"),
              max(col("DATETIME")).as("max_minute")))
          .crossJoin(store.readVersion("dim_title", v)
            .agg(count(lit(1)).as("n_titles")))
          .select(lit(v).as("version"), col("n_fact"), col("n_minutes"),
            col("max_minute"), col("n_titles"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),


    // ADD-ONLY SCHEMA EVOLUTION on the versioned star publish (the
    // Delta/Iceberg add-nullable-column capability next to time travel):
    // batch 1 (days 1-3) publishes the reference-shaped fact; batch 2
    // (days 4-5) ADDS a REGION column, which the manifest records — the
    // live read null-fills batch 1's delta at the recorded type, and the
    // PRE-evolution snapshot stays readable under its own schema via time
    // travel (retainVersions = 2 keeps both). Emitted: per retained
    // version, fact count / REGION-bearing count / distinct regions — the
    // oracle restates both snapshots from the day ranges, so a leaked
    // column in v1, a missing null-fill in v2, or a broken sweep all
    // hash-fail.
    "etl_star_schema_evolution" -> ((s, d) => {
      val tmp = scratchDir("graft_star_schema_ev", d)
      val store = graft.etl.StarStore(s, tmp, Int.MaxValue, 2)
      val ev = t(s, d, "events")
      // REGION rides the raw frame for BOTH batches; batch 1 publishes
      // without it (clean() keeps only the derived set plus the named
      // extras), so the manifest's evolution is driven by `extras` alone
      def raw(lo: Int, hi: Int) = ev
        .where(dayofmonth(col("ts")).between(lo, hi))
        .select(
          date_format(date_trunc("minute", col("ts")),
            "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("DateTime"),
          concat(lit("news| T"), (col("user_id") % 97).cast("string"))
            .as("VideoTitle"),
          lit("206").as("events"),
          concat(lit("r"), (col("user_id") % 5).cast("string")).as("REGION"))
      store.runBatch(raw(1, 3), "se1")
      store.runBatch(raw(4, 5), "se2", Seq("REGION"))
      store.versions.map { v =>
        val f = store.readVersion("fact", v)
        val withR = if (f.columns.contains("REGION")) f
          else f.withColumn("REGION", lit(null).cast("string"))
        withR.agg(count(lit(1)).as("n_fact"),
            count(col("REGION")).as("n_region"),
            countDistinct(col("REGION")).as("n_distinct_region"))
          .select(lit(v).as("version"), col("n_fact"), col("n_region"),
            col("n_distinct_region"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),


    // TYPE WIDENING on the evolved star publish: batch 1 carries HITS as
    // INT, batch 2 re-publishes the same column as LONG — the add-only law
    // accepts the lossless widening (byte→short→int→long, float→double),
    // the manifest upgrades the recorded type, and the reconciled read
    // up-casts batch 1's INT delta to the LONG contract; the PRE-widening
    // snapshot still reads under its own INT schema via time travel.
    // Emitted per retained version: fact count, sum of HITS, and the live
    // schema's type name — a missed up-cast, a silently narrowed read, or
    // a manifest that forgot the upgrade all hash-fail.
    "etl_star_type_widening" -> ((s, d) => {
      val tmp = scratchDir("graft_star_widen", d)
      val store = graft.etl.StarStore(s, tmp, Int.MaxValue, 2)
      val ev = t(s, d, "events")
      def raw(lo: Int, hi: Int, hitsType: String) = ev
        .where(dayofmonth(col("ts")).between(lo, hi))
        .select(
          date_format(date_trunc("minute", col("ts")),
            "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("DateTime"),
          concat(lit("news| T"), (col("user_id") % 97).cast("string"))
            .as("VideoTitle"),
          lit("206").as("events"),
          (col("user_id") % 100).cast(hitsType).as("HITS"))
      store.runBatch(raw(1, 3, "int"), "tw1", Seq("HITS"))
      store.runBatch(raw(4, 5, "long"), "tw2", Seq("HITS"))
      store.versions.map { v =>
        val f = store.readVersion("fact", v)
        f.agg(count(lit(1)).as("n_fact"),
            sum(col("HITS").cast("long")).as("sum_hits"))
          .select(lit(v).as("version"), col("n_fact"), col("sum_hits"),
            lit(f.schema("HITS").dataType.sql).as("hits_type"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),


    // Manifest-level FILE SKIPPING (Delta/Iceberg-style data skipping):
    // events days 1-10 written range-clustered on day with per-file
    // [min,max] envelopes in a _graft_manifest.json, then a day-4..6 read
    // planned FROM THE MANIFEST — the file list shrinks before any footer
    // is opened, which at 100 TB is the scan-task count itself (pruning
    // asserted in LayoutSpec via inputFiles; this row gates the pruned
    // read's ANSWER against the oracle's plain filter, because skipping
    // must be an optimization and never the filter).
    "etl_files_pruned" -> ((s, d) => {
      val tmp = scratchDir("graft_manifest_skip", d)
      val ev = t(s, d, "events").withColumn("day", dayofmonth(col("ts")))
        .where(col("day") <= 10)
        .select(col("event_id"), col("day"), col("value"))
        .repartitionByRange(8, col("day"))
      Layout.writeWithManifest(s, ev, tmp, Seq("day"))
      Layout.readPruned(s, tmp, "day", 4, 6)
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
            .as("sum_value_cents"))
        .orderBy("day")
    }),


    // Manifest APPEND path: initial build (days 1-5) + an appended batch
    // (days 6-10) whose envelopes are computed over ONLY the new files
    // and spliced into the manifest — streaming ingest with O(batch)
    // stats maintenance; the day-4..7 read then plans across both
    // generations from the spliced manifest. Answer gated against the
    // oracle's plain filter (skipping is never the filter).
    "etl_manifest_append" -> ((s, d) => {
      val tmp = scratchDir("graft_manifest_app", d)
      val ev = t(s, d, "events").withColumn("day", dayofmonth(col("ts")))
        .select(col("event_id"), col("day"), col("value"))
      Layout.writeWithManifest(s,
        ev.where(col("day") <= 5).repartitionByRange(4, col("day")),
        tmp, Seq("day"))
      Layout.appendWithManifest(s,
        ev.where(col("day").between(6, 10)).repartitionByRange(4, col("day")),
        tmp, Seq("day"))
      Layout.readPruned(s, tmp, "day", 4, 7)
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
            .as("sum_value_cents"))
        .orderBy("day")
    }),


    // CDC-style snapshot diff via the GENERIC Audit.snapshotDiff operator
    // (PK + null-safe multi-column compare — the reusable API behind the
    // inline corpus census curation_snapshot_diff, and the reconciliation
    // consumer of readVersion time travel, spec'd in CdcSpec): old = days
    // 1-5, new = days 2-6 with day-3 values restated ×2, so every status
    // materializes (day 1 removed, day 6 added, day 3 changed, days
    // 2/4/5 unchanged; value×2 is exact in binary floating point, so both
    // engines agree bit-for-bit). One PK-keyed full outer join + a
    // map-side-partial status count; the oracle restates the diff with
    // IS NOT DISTINCT FROM against the same parquet rows.
    "etl_snapshot_diff" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("day", dayofmonth(col("ts")))
      val old = ev.where(col("day").between(1, 5))
        .select(col("event_id"), col("event_type"), col("value"))
      val nu = ev.where(col("day").between(2, 6))
        .select(col("event_id"), col("event_type"),
          when(col("day") === 3, col("value") * 2)
            .otherwise(col("value")).as("value"))
      graft.etl.Audit.snapshotDiff(old, nu, Seq("event_id"))
        .orderBy("status")
    }),


    // ORC sink + scan round-trip — the third columnar/source format next to
    // CSV and JSON-lines: Spark's native ORC writer+reader (vectorized,
    // predicate-pushdown-capable like parquet), gated by an oracle that
    // aggregates the ORIGINAL rows, so type or timestamp infidelity across
    // the format boundary breaks the hash. The read-back filter runs on the
    // ORC scan itself, where ORC's min/max stripe stats can serve it.
    "etl_orc_roundtrip" -> ((s, d) => {
      val tmp = scratchDir("graft_orc_rt", d)
      t(s, d, "events").where(col("event_id") % 13 === 0)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .where(col("event_type") =!= "error")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
          date_format(max(col("ts")), "yyyyMMddHHmmss.SSSSSS").as("max_ts"))
        .orderBy("event_type")
    }),


    // JSON-lines sink + scan round-trip with an explicit schema — source-
    // format breadth next to the CSV round-trip; the oracle aggregates the
    // ORIGINAL rows, so any serialization infidelity (quoting, escapes in
    // the nested-JSON props string) breaks the hash.
    "etl_json_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val tmp = scratchDir("graft_json_rt", d)
      t(s, d, "events").where(col("event_id") % 11 === 0)
        .select(col("event_id"), col("event_type"), col("props"))
        .write.mode("overwrite").json(tmp)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("props", StringType)))
      s.read.schema(schema).json(tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("props")).as("min_props"),
          sum(col("event_id")).as("sum_id"))
        .orderBy("event_type")
    }),


    // JSONL SOURCE with explicit schema, NESTED field access, and a
    // corrupt-record QUARANTINE (Sources.jsonl): documents serialize to
    // one nested JSON object per line ({doc:{id,src}, text, meta:{chars,
    // tags[]}}), ONE malformed line is planted, and the scan must (a)
    // surface every good line with its nested fields intact and (b) turn
    // the malformed line into a quarantine row (all data columns null,
    // raw line in _corrupt_record) instead of failing — ANSI mode makes
    // "instead of failing" a live contract. The census groups by the
    // nested doc.src (the quarantine row groups as NULL src with
    // n_corrupt = 1); the oracle restates the good-row aggregates from
    // the original parquet plus the planted-line row verbatim.
    "etl_jsonl_scan" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val tmp = scratchDir("graft_jsonl", d)
      val docs = t(s, d, "documents").where(col("doc_id") % 5 === 2)
      val lines = docs.select(to_json(struct(
        struct(col("doc_id").as("id"), col("source").as("src")).as("doc"),
        col("text").as("text"),
        struct(col("n_chars").as("chars"),
          array(col("lang"), col("source")).as("tags")).as("meta"))).as("value"))
      val planted = s.range(1)
        .select(lit("{\"doc\":{\"id\":broken, not json at all").as("value"))
      lines.unionByName(planted).write.mode("overwrite").text(tmp)
      val schema = StructType(Seq(
        StructField("doc", StructType(Seq(
          StructField("id", LongType), StructField("src", StringType)))),
        StructField("text", StringType),
        StructField("meta", StructType(Seq(
          StructField("chars", LongType),
          StructField("tags", ArrayType(StringType)))))))
      graft.etl.Sources.jsonl(s, tmp, schema)
        .groupBy(col("doc.src").as("src"))
        .agg(count(lit(1)).as("n"),
          sum(col("doc.id")).as("sum_id"),
          sum(col("meta.chars")).as("sum_chars"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          min(element_at(col("meta.tags"), 1)).as("min_lang"),
          sum(length(col("text"))).as("sum_text_chars"))
        // the quarantine row's src is NULL: pin the null position in BOTH
        // engines (Spark defaults NULLS FIRST, DuckDB NULLS LAST — the
        // repo's explicit null-order-pinning convention)
        .orderBy(asc_nulls_first("src"))
    }),


    // WARC crawl-archive scan (E50): the Common Crawl container, closing
    // the loop on the crawl-curation surface — spec-valid segments
    // (warcinfo + request + HTTP response records; partitions alternate
    // plain/gzip so both decode paths run) are written per partition
    // through the Hadoop FileSystem, then read back via the
    // one-task-per-segment binaryFile walk with Content-Length framing.
    // The census keeps only 200-status responses; the oracle restates the
    // synthesis arithmetic (host id%7, 404s at id%13, body = text) — a
    // framing, gzip, header-parse, or status-split bug hash-fails.
    "etl_warc_scan" -> ((s, d) => {
      val tmp = scratchDir("graft_warc", d)
      val pages = t(s, d, "documents").where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text")).repartition(4, col("doc_id"))
      graft.etl.Warc.writeSegments(pages, "doc_id", "text", tmp)
      graft.etl.Warc.read(s, tmp)
        .where(col("warc_type") === "response" && col("http_status") === 200)
        .select(
          regexp_extract(col("target_uri"), "http://(host[0-9]+)\\.", 1).as("host"),
          length(col("body")).cast("long").as("chars"), col("target_uri"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"), sum(col("chars")).as("sum_chars"),
          min(col("target_uri")).as("min_uri"))
        .orderBy("host")
    }),


    // Common Crawl-shaped pipeline in ONE expression (E50b): WARC segments
    // whose response bodies are HTML pages → distributed segment scan →
    // markup strip → word-count quality gate → per-host fetch/keep census.
    // Every stage is the real operator (Warc.read, TextStats.stripMarkup);
    // the oracle restates the whole composition from the construction
    // (host id%7, 404 at id%13, stripped page = "p<id> " + text), so drift
    // in ANY stage — framing, gzip, strip, tokenization, gate — hash-fails.
    "curation_warc_e2e" -> ((s, d) => {
      val tmp = scratchDir("graft_warc_e2e", d)
      val pages = t(s, d, "documents").where(col("doc_id") % 4 === 1)
        .select(col("doc_id"), concat(
          lit("<html><body><h1>p"), col("doc_id"), lit("</h1><p>"),
          col("text"), lit("</p></body></html>")).as("html"))
        .repartition(4, col("doc_id"))
      graft.etl.Warc.writeSegments(pages, "doc_id", "html", tmp)
      val fetched = graft.etl.Warc.read(s, tmp)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "http://(host[0-9]+)\\.", 1).as("host"),
          col("http_status"),
          TextStats.stripMarkup(col("body")).as("clean"))
      val gated = fetched.withColumn("n_words",
        size(regexp_extract_all(lower(col("clean")), lit("[a-z]+"), lit(0)))
          .cast("long"))
      gated.groupBy("host")
        .agg(
          sum(when(col("http_status") === 200, 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("http_status") === 404, 1L).otherwise(0L)).as("n_404"),
          sum(when(col("http_status") === 200 && col("n_words") >= 20, 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("http_status") === 200 && col("n_words") >= 20,
            col("n_words")).otherwise(0L)).as("sum_words_kept"))
        .orderBy("host")
    }),


    // The crawl recipe with REAL boilerplate removal (E50c feeding E50b's
    // topology): WARC segments whose response pages carry planted chrome
    // (pure-link nav, 1-word heading, link-heavy copyright footer) around
    // the body paragraph → distributed streaming segment walk →
    // Extract.extractMain (block word/density rule) → word-count gate →
    // per-host census including the block ledger. By construction exactly
    // the body survives on every 200 page, so the oracle restates the
    // whole composition from the synthesis arithmetic — a framing, split,
    // density, or gate bug hash-fails (the 13-piece block count pins the
    // tag-split behavior itself).
    "curation_extract_e2e" -> ((s, d) => {
      val tmp = scratchDir("graft_extract_e2e", d)
      val pages = t(s, d, "documents").where(col("doc_id") % 4 === 2)
        .select(col("doc_id"), concat(
          lit("<html><body><div><a href=\"/\">Home</a> " +
            "<a href=\"/s\">Site map</a></div><h1>p"), col("doc_id"),
          lit("</h1><p>"), col("text"),
          lit("</p><div>Copyright 2017 " +
            "<a href=\"/t\">Terms of service</a> " +
            "<a href=\"/p\">Privacy policy</a></div></body></html>"))
          .as("html"))
        .repartition(4, col("doc_id"))
      graft.etl.Warc.writeSegments(pages, "doc_id", "html", tmp)
      val fetched = graft.etl.Warc.read(s, tmp)
        .where(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("target_uri").as("uri"), col("body").as("html"))
      Extract.extractMain(fetched, "uri", "html", minWords = 5)
        .select(
          regexp_extract(col("uri"), "http://(host[0-9]+)\\.", 1).as("host"),
          col("n_blocks_kept"), col("n_blocks_total"),
          size(regexp_extract_all(lower(col("main_text")), lit("[a-z]+"),
            lit(0))).cast("long").as("n_words"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          sum(col("n_blocks_kept").cast("long")).as("sum_kept"),
          sum(col("n_blocks_total").cast("long")).as("sum_blocks"),
          sum(when(col("n_words") >= 20, 1L).otherwise(0L)).as("n_gated"),
          sum(when(col("n_words") >= 20, col("n_words")).otherwise(0L))
            .as("sum_words_gated"))
        .orderBy("host")
    }),


    // Hive-style partitioned write + partition-pruned read-back: the scan
    // must touch only the purchase partition (PlanSpec asserts the
    // PartitionFilters); the oracle aggregates the original rows.
    "etl_partitioned_scan" -> ((s, d) => {
      val tmp = scratchDir("graft_part", d)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          dayofmonth(col("ts")).as("day"))
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      s.read.parquet(tmp)
        .where(col("event_type") === "purchase")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("day")
    }),


    // UNION ALL with provenance tag.
    "q_union_all" -> ((s, d) => {
      val ev = t(s, d, "events")
      def half(tag: String, pred: Column) = ev.where(pred)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .select(lit(tag).as("half"), col("event_type"), col("n"))
      half("h1", dayofmonth(col("ts")) <= 15)
        .unionByName(half("h2", dayofmonth(col("ts")) > 15))
        .orderBy("half", "event_type")
    }),


    // EXCEPT (distinct set difference).
    "q_except" -> ((s, d) => {
      val ev = t(s, d, "events")
      def minutes(typ: String) = ev.where(col("event_type") === typ)
        .select(date_format(date_trunc("minute", col("ts")), "yyyyMMddHHmm")
          .as("datetime_key"))
      minutes("view").except(minutes("purchase")).orderBy("datetime_key")
    }),


    // String-function surface: upper/lower/substr/replace/lpad/length/reverse.
    "q_string_funcs" -> ((s, d) => {
      t(s, d, "customer").where(col("c_custkey") % 37 === 0)
        .select(col("c_custkey"),
          upper(col("c_name")).as("up_name"),
          substring(col("c_name"), 1, 8).as("name_head"),
          regexp_replace(col("c_name"), "#", "-").as("dashed"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded_key"),
          length(col("c_name")).as("name_len"),
          reverse(col("c_name")).as("rev_name"))
        .orderBy("c_custkey")
    }),


    // Date-function surface: date_add / datediff / last_day / quarter.
    "q_date_funcs" -> ((s, d) => {
      t(s, d, "orders").where(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("od_plus30"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
            .as("days_since"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          quarter(col("o_orderdate")).as("qtr"))
        .orderBy("o_orderkey")
    }),


    // JSON scalar extraction from the events props column.
    "q_json_extract" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),


    // FULL OUTER join over partially-overlapping daily aggregates.
    "q_full_outer" -> ((s, d) => {
      val ev = t(s, d, "events")
      val views = ev.where(col("event_type") === "view" && dayofmonth(col("ts")) <= 20)
        .groupBy(dayofmonth(col("ts")).as("day")).agg(count(lit(1)).as("n_views"))
      val purch = ev.where(col("event_type") === "purchase" && dayofmonth(col("ts")) >= 10)
        .groupBy(dayofmonth(col("ts")).as("day")).agg(count(lit(1)).as("n_purchases"))
      views.join(purch, Seq("day"), "full_outer").orderBy("day")
    }),


    // Salted skew join — the salt must be semantically invisible: the oracle
    // is the PLAIN join, so any salting bug (dup/dropped rows) hash-fails.
    "q_salted_join" -> ((s, d) => {
      val big = t(s, d, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val small = t(s, d, "part")
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      SkewJoin.saltedEquiJoin(big, small, "partkey", saltFactor = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("p_brand")
    }),


    // Bloom-prefiltered join — like the salt, the bloom must be
    // semantically invisible: the oracle is the PLAIN selective join, so a
    // false NEGATIVE (dropped matching row) or a leaked false positive
    // hash-fails. The build side (p_size <= 3) matches ~6% of parts, so the
    // probe prefilter drops the bulk of lineitem before the join exchange —
    // the shape whose shuffle-byte cut PlanSpec measures directly.
    "q_bloom_join" -> ((s, d) => {
      val probe = t(s, d, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_quantity"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"))
      val build = t(s, d, "part").where(col("p_size") <= 3)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      BloomJoin.prefilteredEquiJoin(probe, build, "partkey",
          expectedBuildItems = 1L << 14)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy("p_brand")
    }),


    // Scalar-aggregate join (TPC-H Q17 shape): lineitems below 20% of their
    // part's mean quantity. Mean of integral doubles = exact sum / count.
    "q17_small_qty" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val thresh = li.groupBy(col("l_partkey"))
        .agg((lit(0.2) * (sum(col("l_quantity")) / count(lit(1)))).as("qty_thresh"))
      li.join(thresh, "l_partkey")
        .where(col("l_quantity") < col("qty_thresh"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_extprice"))
    }),


    // TIME-TO-CONVERT census: per user, the delay from first view to the
    // first purchase AFTER it (strictly later — a purchase before any
    // view is not a conversion of it), aggregated to one census row.
    // Deltas are exact integer seconds over epoch-µs (the q_range_frame
    // integral-ordering discipline); two tiny per-user aggregates join on
    // user_id, so the shape is two shuffles of user-cardinality frames.
    "q_time_to_convert" -> ((s, d) => {
      val ev = t(s, d, "events")
      val us = Queries.epochMicrosOf(ev, "ts") // NTZ-safe epoch-µs
      val firstView = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(us).as("v_us"))
      val conv = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), us.as("p_us"))
        .join(firstView, "user_id")
        .where(col("p_us") > col("v_us"))
        .groupBy("user_id", "v_us") // v_us is functionally dependent
        .agg(expr("(min(p_us) - v_us) div 1000000").as("delta_s"))
      firstView.agg(count(lit(1)).as("n_viewers"))
        .crossJoin(conv.agg(count(lit(1)).as("n_converted"),
          min("delta_s").as("min_s"), max("delta_s").as("max_s"),
          sum("delta_s").as("sum_s")))
    }),


    // Incremental MATERIALIZED-AGGREGATE maintenance (etl.Materialize):
    // a per-(day, event_type) summary of count/sum/min/max cents built by
    // folding three batch PARTIALS — days 1-2, days 3-4 plus day-5 evens,
    // then the day-5 odds as a LATE batch touching a key already in the
    // summary — never re-reading history. The oracle recomputes the same
    // summary from scratch over days 1-5, so any broken merge law (a sum
    // that double-counts, a min that resets) hash-fails.
    "etl_incremental_agg" -> ((s, d) => {
      import graft.etl.Materialize
      import graft.etl.Materialize.AggSpec
      val ev = t(s, d, "events")
        .withColumn("day", dayofmonth(col("ts")).cast("int"))
        .where(col("day") <= 5)
        .select(col("day"), col("event_type"), col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val keys = Seq("day", "event_type")
      val aggs = Seq(AggSpec("count", "cents", "n"),
        AggSpec("sum", "cents", "sum_cents"),
        AggSpec("min", "cents", "min_cents"),
        AggSpec("max", "cents", "max_cents"))
      val batches = Seq(
        ev.where(col("day") <= 2),
        ev.where(col("day").between(3, 4) ||
          (col("day") === 5 && col("event_id") % 2 === 0)),
        ev.where(col("day") === 5 && col("event_id") % 2 === 1))
      batches.tail
        .foldLeft(Materialize.partial(batches.head, keys, aggs)) { (sum0, b) =>
          Materialize.merge(sum0, Materialize.partial(b, keys, aggs), keys, aggs)
        }
        .orderBy("day", "event_type")
    }),


    // DELETION VECTORS (Layout.markDeleted / readWithDeletes /
    // compactDeletes): events days 1-6 land once; a GDPR-style user purge
    // (user_id % 7 = 0) and a corrective day-2 retraction mark OVERLAPPING
    // delete sets without rewriting a byte of data; the logical read
    // (broadcast anti-join against the vector) and the physical read
    // (after compaction clears the vector) are BOTH emitted and must agree
    // with the oracle's plain filter — a leaked deleted row, a
    // double-subtracted overlap, or a lossy compaction all hash-fail.
    "etl_delete_vectors" -> ((s, d) => {
      val tmp = scratchDir("graft_dv", d)
      val tmpC = scratchDir("graft_dv_compact", d)
      val ev = t(s, d, "events")
        .withColumn("day", dayofmonth(col("ts")).cast("int"))
        .where(col("day") <= 6)
        .select(col("event_id"), col("day"), col("user_id"), col("value"))
      ev.write.mode("overwrite").parquet(tmp)
      Layout.markDeleted(s, tmp,
        ev.where(col("user_id") % 7 === 0).select("event_id"))
      Layout.markDeleted(s, tmp,
        ev.where(col("day") === 2).select("event_id"))
      Layout.compactDeletes(s, tmp, tmpC, "event_id")
      def census(df: DataFrame, stage: String) = df
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
            .as("sum_cents"))
        .withColumn("stage", lit(stage))
      census(Layout.readWithDeletes(s, tmp, "event_id"), "logical")
        .unionByName(census(s.read.parquet(tmpC), "physical"))
        .orderBy("stage", "day")
    }),


    // k-ANONYMITY census (ext.Privacy): quasi-identifier = (event_type,
    // user_id % 25) — per-threshold counts of groups and rows below k,
    // plus the dataset's actual k-anonymity (min group size), all derived
    // from ONE group-size aggregation. The oracle restates the census from
    // the same QI grouping; Privacy.suppressToK (enforcement) is spec'd in
    // PrivacySpec against the census's own arithmetic.
    "q_k_anonymity" -> ((s, d) => {
      graft.ext.Privacy.kAnonymityCensus(
          t(s, d, "events")
            .select(col("event_type"), (col("user_id") % 25).as("ub")),
          Seq("event_type", "ub"), Seq(70, 80, 100))
        .orderBy("k")
    }),


    // Sketch-guided EXACT heavy hitters (Sketches.heavyHitters): users
    // with ≥ 70 events, found by a per-partition Misra–Gries candidate
    // pass (bounded state — the shape that survives 10^10 distinct keys
    // where a plain groupBy's partial-agg state cannot) + an exact verify
    // over only the candidates. The sketch PRUNES, the verify DECIDES, so
    // the result equals the oracle's plain HAVING-count query bit for bit
    // — which is precisely what this row gates.
    "q_heavy_hitters" -> ((s, d) => {
      // capacity 16384 keeps the soundness bound satisfied up to sf1
      // (10^6 rows / threshold 70); the candidate collect stays bounded
      // by capacity x partitions either way
      Sketches.heavyHitters(t(s, d, "events"), "user_id",
          threshold = 70L, capacity = 16384)
        .orderBy("user_id")
    }),


    // PSEUDONYMIZATION + MASKING (ext.Privacy): user_id becomes a stable
    // salted md5 surrogate — the same value tokenizes identically in
    // every table sharing the salt, so joins/group-bys survive the
    // de-identification (this row groups ON the token) — and a synthetic
    // email column is display-masked to its last 4 chars. Both transforms
    // are scalar (codegen'd at the scan, no shuffle); the oracle restates
    // token and mask with DuckDB's own md5/repeat/right, so any hashing
    // or redaction divergence hash-fails.
    "etl_pseudonymize" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("email",
          concat(col("user_id").cast("string"), lit("@example.com")))
      graft.ext.Privacy.pseudonymize(ev, Seq("user_id"), "graft-salt")
        .groupBy(col("user_id").as("user_tok"),
          graft.ext.Privacy.maskKeepLast(col("email"), 4).as("email_masked"))
        .agg(count(lit(1)).as("n"))
        .orderBy("user_tok")
    }),


    // Per-file BLOOM-INDEX file skipping (Layout.writeBloomIndex /
    // readPrunedPoint): events land UNCLUSTERED in 8 files — every file
    // spans the full event_id range, so min/max envelopes can never prune
    // — and four point lookups (three present keys, one absent) plan
    // their file lists from per-file Bloom filters instead of opening
    // everything. False positives cost a wasted open, never a wrong row:
    // the equality predicate always runs on the scan, and this row gates
    // the four lookups' union against the oracle's plain IN-list filter.
    "etl_files_pruned_point" -> ((s, d) => {
      val tmp = scratchDir("graft_bloom_pt", d)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("value_cents"))
        .repartition(8).write.mode("overwrite").parquet(tmp)
      Layout.writeBloomIndex(s, tmp, "event_id",
        expectedPerFile = 1L << 16, fpp = 0.01)
      Seq(123L, 4567L, 8888L, 10000000L)
        .map(k => Layout.readPrunedPoint(s, tmp, "event_id", k))
        .reduce(_.unionByName(_)).orderBy("event_id")
    }),


    // EARLY-ARRIVING FACTS / LATE-ARRIVING DIMENSION (Dims.upsertInferred
    // + Dims.enrich): day-1 facts reference title tokens the dim has
    // never seen — each becomes an INFERRED member (real SKEY, null name);
    // the dimension source then delivers names for tokens < 30, enriching
    // IN PLACE (SKEYs untouched); day-2 facts add more members AFTER the
    // delivery, so tokens < 30 arriving late stay inferred (the delta was
    // already consumed). The oracle restates SKEY assignment (day-1
    // members ranked by token, then day-2-only members offset past them)
    // and exactly which rows carry a name — a lost member, a re-keyed
    // SKEY, or an enrichment leaking onto late members all hash-fail.
    "etl_late_dim" -> ((s, d) => {
      import org.apache.spark.sql.types._
      import graft.etl.Dims
      val ev = t(s, d, "events")
        .withColumn("day", dayofmonth(col("ts")))
        .withColumn("tk", col("user_id") % 97)
      val dim0 = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("title_skey", LongType),
          StructField("tk", LongType),
          StructField("title_name", StringType),
          StructField("is_inferred", BooleanType))))
      val dim1 = Dims.upsertInferred(dim0, ev.where(col("day") === 1),
        "tk", "title_skey")
      val delta = ev.select(col("tk")).where(col("tk") < 30).distinct()
        .withColumn("title_name", concat(lit("T"), col("tk").cast("string")))
      val dim2 = Dims.enrich(dim1, delta, "tk", Seq("title_name"))
      Dims.upsertInferred(dim2, ev.where(col("day") === 2),
          "tk", "title_skey")
        .orderBy("tk")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hr, event_type,
        |  count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,


    // an event at t belongs to the windows starting at trunc(t,1h) and
    // trunc(t,1h)-1h — exactly Spark's sliding-window membership
    "q_sliding_window" ->
      """SELECT strftime(ws, '%Y%m%d%H') AS ws, event_type, count(*)::BIGINT AS n
        |FROM (SELECT event_type,
        |  unnest([date_trunc('hour', ts),
        |          date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
        |  FROM events)
        |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "q_asof_join" ->
      """SELECT l.event_id, r.value AS asof_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'view') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin,

    "q_range_join" ->
      """WITH iv AS (SELECT event_type AS band_type,
        |    (sum(value::DECIMAL(18,2)))::DOUBLE / count(*) AS avg_v
        |  FROM events GROUP BY 1)
        |SELECT band_type, count(*)::BIGINT AS n
        |FROM events p JOIN iv
        |ON p.value >= iv.avg_v * 0.5 AND p.value < iv.avg_v * 1.5
        |GROUP BY band_type ORDER BY band_type""".stripMargin,


    // Gaps-and-islands restatement of session_window: a session breaks when
    // the gap to the previous event is >= 10 minutes (Spark's session extends
    // while the next event is strictly inside last_ts + gap).
    "q_session_window" ->
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |x AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, strftime(min(ts), '%Y%m%d%H%M%S.%f') AS session_start,
        |  count(*)::BIGINT AS n
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q_interval_overlap" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id
        |FROM (SELECT event_id, value AS lo, value + 15.0 AS hi FROM events
        |      WHERE event_type = 'signup') a
        |JOIN (SELECT event_id, value AS lo2, value + 10.0 AS hi2 FROM events
        |      WHERE event_type = 'error') b
        |  ON a.lo < b.hi2 AND b.lo2 < a.hi
        |ORDER BY a_id, b_id""".stripMargin,

    "q_funnel_depth" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |    ELSE 1 END)::INT AS steps_completed,
        |  strftime(coalesce(t3, t2, t1), '%Y%m%d%H%M%S.%f') AS t_reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin,

    "q_funnel_counts" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT step, step_name, n_users FROM (
        |  SELECT 1::INT AS step, 'signup' AS step_name,
        |    (SELECT count(*) FROM s1)::BIGINT AS n_users
        |  UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |WHERE n_users > 0 ORDER BY step""".stripMargin,


    // mirrors etl_ledger_chain: ordered list + seeded left fold of md5
    "etl_ledger_chain" ->
      """WITH e AS (SELECT strftime(date_trunc('day', ts), '%Y%m%d') AS day,
        |    ts, event_id, md5(event_id::VARCHAR) AS rd FROM events),
        |l AS (SELECT day, count(*)::BIGINT AS n,
        |  list(rd ORDER BY ts, event_id) AS lst FROM e GROUP BY day)
        |SELECT day, n,
        |  list_reduce(list_prepend('seed', lst), (acc, x) -> md5(acc || x)) AS chain
        |FROM l ORDER BY day""".stripMargin,


    // mirrors q_benford_audit: same literal expectation table, same
    // string-length leading-digit extraction over cents
    "q_benford_audit" -> {
      val table = benfordP
        .map { case (dd, p) => s"($dd, ${p}::BIGINT)" }.mkString(", ")
      s"""WITH c AS (SELECT (value::DECIMAL(18,2) * 100)::BIGINT AS cents
         |  FROM events),
         |p AS (SELECT cents,
         |  (cents // (10 ** (length(cents::VARCHAR) - 1))::BIGINT)::INT AS digit
         |  FROM c WHERE cents > 0),
         |obs AS (SELECT digit, count(*)::BIGINT AS n_obs FROM p GROUP BY digit),
         |t(digit, p_fp) AS (VALUES $table),
         |tot AS (SELECT sum(n_obs)::BIGINT AS n_total FROM obs)
         |SELECT obs.digit, n_obs,
         |  ((n_obs * 1000000) // n_total)::BIGINT AS share_fp, p_fp
         |FROM obs JOIN t USING (digit), tot ORDER BY digit""".stripMargin
    },


    // mirrors etl_partition_skew_audit's rational skew ratio
    "etl_partition_skew_audit" ->
      """WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y%m%d') AS day,
        |    count(*)::BIGINT AS n FROM events GROUP BY 1),
        |a AS (SELECT count(*)::BIGINT AS n_days, sum(n)::BIGINT AS total_rows,
        |  max(n)::BIGINT AS max_day_rows FROM d)
        |SELECT n_days, total_rows, max_day_rows,
        |  ((max_day_rows * n_days * 1000000) // total_rows)::BIGINT AS skew_fp
        |FROM a""".stripMargin,


    // mirrors q_trend_slope's rational least-squares arithmetic
    "q_trend_slope" ->
      """WITH h AS (SELECT event_type,
        |    date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
        |      date_trunc('hour', ts))::BIGINT AS x,
        |    count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, count(*)::BIGINT AS cnt, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx
        |  FROM h GROUP BY event_type)
        |SELECT event_type, cnt AS n_hours,
        |  (CASE WHEN cnt * sxx - sx * sx = 0 THEN 0
        |   ELSE ((cnt * sxy - sx * sy) * 1000000) // (cnt * sxx - sx * sx)
        |   END)::BIGINT AS slope_fp
        |FROM a ORDER BY event_type""".stripMargin,


    // mirrors q_funnel_rates: the funnel CTEs + lag over the counts frame
    "q_funnel_rates" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |c AS (SELECT step, step_name, n_users FROM (
        |  SELECT 1::INT AS step, 'signup' AS step_name,
        |    (SELECT count(*) FROM s1)::BIGINT AS n_users
        |  UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |  WHERE n_users > 0),
        |t AS (SELECT count(DISTINCT user_id)::BIGINT AS n_total FROM events),
        |l AS (SELECT step, step_name, n_users,
        |  lag(n_users) OVER (ORDER BY step) AS prev FROM c)
        |SELECT step, step_name, n_users,
        |  ((n_users * 1000000) // coalesce(prev, n_total))::BIGINT AS rate_fp
        |FROM l, t ORDER BY step""".stripMargin,


    // mirrors text_ngram_novelty: distinct bigrams per doc, corpus df,
    // df=1 share in fixed point
    "text_ngram_novelty" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i+1]))) AS g
        |  FROM w),
        |df AS (SELECT g, count(*)::BIGINT AS df FROM g GROUP BY g)
        |SELECT doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
        |  ((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT
        |    AS novelty_fp
        |FROM g JOIN df USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_running_stats" ->
      """SELECT user_id, count(*)::BIGINT AS n,
        |  strftime(min(ts), '%Y%m%d%H%M%S.%f') AS first_ts,
        |  strftime(max(ts), '%Y%m%d%H%M%S.%f') AS last_ts
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "etl_csv_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n, min(props) AS min_props,
        |  count(DISTINCT props)::BIGINT AS n_props
        |FROM events WHERE event_id % 7 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "etl_orc_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  (sum(value::DECIMAL(18,2)))::DOUBLE AS sum_value,
        |  strftime(max(ts), '%Y%m%d%H%M%S.%f') AS max_ts
        |FROM events WHERE event_id % 13 = 0 AND event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "etl_json_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n, min(props) AS min_props,
        |  sum(event_id)::BIGINT AS sum_id
        |FROM events WHERE event_id % 11 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // good-row aggregates restated from the original parquet; the planted
    // malformed line is exactly one NULL-src quarantine row (all data
    // columns null ⇒ null sums, n_corrupt = 1). meta.tags[0] = lang by
    // construction, so min_lang restates min(lang).
    "etl_jsonl_scan" ->
      """SELECT source AS src, count(*)::BIGINT AS n,
        |  sum(doc_id)::BIGINT AS sum_id, sum(n_chars)::BIGINT AS sum_chars,
        |  0::BIGINT AS n_corrupt, min(lang) AS min_lang,
        |  sum(length(text))::BIGINT AS sum_text_chars
        |FROM documents WHERE doc_id % 5 = 2 GROUP BY source
        |UNION ALL
        |SELECT NULL AS src, 1::BIGINT AS n, NULL::BIGINT AS sum_id,
        |  NULL::BIGINT AS sum_chars, 1::BIGINT AS n_corrupt,
        |  NULL AS min_lang, NULL::BIGINT AS sum_text_chars
        |ORDER BY src NULLS FIRST""".stripMargin,

    // restates the whole WARC→strip→gate→census composition from the
    // construction: stripped page = "p<id> " + text (corpus is markup-free,
    // asserted before adoption), words = [a-z]+ runs of the lowercase
    "curation_warc_e2e" ->
      """WITH d AS (SELECT doc_id, 'host' || (doc_id % 7) AS host,
        |    (doc_id % 13 = 0) AS nf,
        |    1 + len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words
        |  FROM documents WHERE doc_id % 4 = 1)
        |SELECT host,
        |  sum(CASE WHEN NOT nf THEN 1 ELSE 0 END)::BIGINT AS n_ok,
        |  sum(CASE WHEN nf THEN 1 ELSE 0 END)::BIGINT AS n_404,
        |  sum(CASE WHEN NOT nf AND n_words >= 20 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_kept,
        |  sum(CASE WHEN NOT nf AND n_words >= 20 THEN n_words ELSE 0 END)::BIGINT
        |    AS sum_words_kept
        |FROM d GROUP BY 1 ORDER BY host""".stripMargin,


    // restates the E50c e2e composition from the synthesis arithmetic:
    // 200s only (404 at id % 13 excluded), exactly the body paragraph
    // survives extraction on every page (nav 3 words/link-density 1,
    // heading 1 word, footer killed by 3·30 > 46), the tag split yields
    // 13 pieces per page, and the gate counts the text's own words
    "curation_extract_e2e" ->
      """WITH d AS (SELECT doc_id, 'host' || (doc_id % 7) AS host,
        |    len(regexp_extract_all(lower(text), '[a-z]+'))::BIGINT AS n_words
        |  FROM documents WHERE doc_id % 4 = 2 AND doc_id % 13 <> 0)
        |SELECT host, count(*)::BIGINT AS n_pages,
        |  count(*)::BIGINT AS sum_kept,
        |  (13 * count(*))::BIGINT AS sum_blocks,
        |  sum(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END)::BIGINT AS n_gated,
        |  sum(CASE WHEN n_words >= 20 THEN n_words ELSE 0 END)::BIGINT
        |    AS sum_words_gated
        |FROM d GROUP BY 1 ORDER BY host""".stripMargin,

    // mirrors Warc.syntheticSegment: responses for doc_id % 3 = 0 pages,
    // status 404 at doc_id % 13 = 0 (excluded), host = 'host' || id % 7,
    // body = the page text verbatim
    "etl_warc_scan" ->
      """SELECT 'host' || (doc_id % 7) AS host, count(*)::BIGINT AS n_pages,
        |  sum(length(text))::BIGINT AS sum_chars,
        |  min('http://host' || (doc_id % 7) || '.example/p/' || doc_id)
        |    AS min_uri
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 13 <> 0
        |GROUP BY 1 ORDER BY host""".stripMargin,

    "etl_gap_fill" ->
      """WITH e AS (SELECT user_id, ts, value, event_id FROM events
        |  WHERE user_id < 20 AND day(ts) = 1),
        |obs AS (SELECT user_id, date_trunc('minute', ts) AS minute,
        |  arg_max(value, strftime(ts, '%Y%m%d%H%M%S.%f') || '-' ||
        |    lpad(event_id::VARCHAR, 12, '0')) AS obs
        |  FROM e GROUP BY 1, 2),
        |grid AS (SELECT user_id, unnest(generate_series(
        |    date_trunc('minute', min(ts)), date_trunc('minute', max(ts)),
        |    INTERVAL 1 MINUTE)) AS minute
        |  FROM e GROUP BY user_id)
        |SELECT g.user_id, strftime(g.minute, '%Y%m%d%H%M') AS minute_s,
        |  last_value(o.obs IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.minute
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  (o.obs IS NOT NULL) AS is_observed
        |FROM grid g LEFT JOIN obs o
        |  ON g.user_id = o.user_id AND g.minute = o.minute
        |ORDER BY g.user_id, minute_s""".stripMargin,

    "text_bm25_topk" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ts
        |  FROM documents),
        |dl AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
        |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
        |post AS (SELECT doc_id, unnest(ts) AS token FROM toks),
        |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
        |  FROM post GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |q(query_id, token) AS (VALUES (0::BIGINT, 'vector'),
        |  (0::BIGINT, 'stream'), (1::BIGINT, 'customer'),
        |  (1::BIGINT, 'query'), (2::BIGINT, 'scan'), (2::BIGINT, 'window')),
        |scored AS (SELECT q.query_id, tf.doc_id,
        |    sum(floor((((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |      * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (0.25 + 0.75
        |          * (dl.dl::DOUBLE / (stats.sdl::DOUBLE / stats.n::DOUBLE)))))
        |      ) * 1048576.0))::BIGINT AS score_fp
        |  FROM tf JOIN q USING (token) JOIN dfreq USING (token)
        |    JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, rank, score_fp FROM (
        |  SELECT query_id, doc_id, score_fp,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, doc_id)::INT AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,


    // the text_bm25_topk chain verbatim, with the words law swapped for
    // the script-aware tokenizer and the corpus for the cjk fixture
    "text_bm25_cjk" ->
      s"""WITH ${CatalogShared.CjkFixture.alphabetsCte},
         |fx AS (SELECT doc_id,
         |    ${CatalogShared.CjkFixture.textSql("doc_id", "epsilon")} AS text
         |  FROM documents, a WHERE doc_id < 30),
         |toks AS (SELECT doc_id,
         |    ${graft.ext.Tokenizer.ScriptAware.duckdbTokensSql("text")} AS ts
         |  FROM fx),
         |dl AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
         |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
         |post AS (SELECT doc_id, unnest(ts) AS token FROM toks),
         |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
         |  FROM post GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |q AS (SELECT 0::BIGINT AS query_id, substr(a.han, 1, 1) AS token FROM a
         |  UNION ALL SELECT 0::BIGINT, substr(a.han, 6, 1) FROM a
         |  UNION ALL SELECT 1::BIGINT, substr(a.han, 8, 1) FROM a
         |  UNION ALL SELECT 1::BIGINT, substr(a.han, 13, 1) FROM a
         |  UNION ALL SELECT 2::BIGINT, substr(a.kana, 11, 1) FROM a
         |  UNION ALL SELECT 2::BIGINT, substr(a.thai, 7, 1) FROM a),
         |scored AS (SELECT q.query_id, tf.doc_id,
         |    sum(floor((((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |      * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (0.25 + 0.75
         |          * (dl.dl::DOUBLE / (stats.sdl::DOUBLE / stats.n::DOUBLE)))))
         |      ) * 1048576.0))::BIGINT AS score_fp
         |  FROM tf JOIN q USING (token) JOIN dfreq USING (token)
         |    JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY 1, 2)
         |SELECT query_id, doc_id, rank, score_fp FROM (
         |  SELECT query_id, doc_id, score_fp,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_fp DESC, doc_id)::INT AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // mirrors rag_pipeline_e2e: the text_chunk CTE → chunk ids → the BM25
    // chain over chunks → provenance arithmetic
    "rag_pipeline_e2e" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |st AS (SELECT doc_id, words,
        |  unnest(generate_series(0, len(words) - 1, 24)) AS s FROM w),
        |ch AS (SELECT doc_id * 1000000 + (s // 24) AS chunk_id,
        |  array_to_string(words[s + 1 : s + 32], ' ') AS chunk_text
        |  FROM st WHERE s = 0 OR s + 8 < len(words)),
        |toks AS (SELECT chunk_id, string_split(lower(chunk_text), ' ') AS ts FROM ch),
        |dl AS (SELECT chunk_id, len(ts)::BIGINT AS dl FROM toks),
        |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
        |post AS (SELECT chunk_id, unnest(ts) AS token FROM toks),
        |tf AS (SELECT chunk_id, token, count(*)::BIGINT AS tf
        |  FROM post GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |q(query_id, token) AS (VALUES (0::BIGINT, 'vector'),
        |  (0::BIGINT, 'stream'), (1::BIGINT, 'customer'),
        |  (1::BIGINT, 'query'), (2::BIGINT, 'scan'), (2::BIGINT, 'window')),
        |scored AS (SELECT q.query_id, tf.chunk_id,
        |    sum(floor((((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |      * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (0.25 + 0.75
        |          * (dl.dl::DOUBLE / (stats.sdl::DOUBLE / stats.n::DOUBLE)))))
        |      ) * 1048576.0))::BIGINT AS score_fp
        |  FROM tf JOIN q USING (token) JOIN dfreq USING (token)
        |    JOIN dl USING (chunk_id) CROSS JOIN stats
        |  GROUP BY 1, 2)
        |SELECT query_id, rank, (chunk_id // 1000000)::BIGINT AS doc_id,
        |  (chunk_id % 1000000)::INT AS chunk_no, score_fp FROM (
        |  SELECT query_id, chunk_id, score_fp,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, chunk_id)::INT AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // mirrors rag_pipeline_para: the text_chunk_paragraphs recursive walk
    // builds the chunk corpus, then the same BM25 chain + provenance
    "rag_pipeline_para" ->
      """WITH RECURSIVE
        |pl AS (SELECT doc_id, string_split(text, ' a ') AS l FROM documents),
        |p0 AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS i,
        |  unnest(l) AS p FROM pl),
        |p1 AS (SELECT doc_id, i, p,
        |    len(list_filter(string_split(p, ' '), t -> t <> ''))::BIGINT AS n
        |  FROM p0
        |  WHERE len(list_filter(string_split(p, ' '), t -> t <> '')) > 0),
        |seq AS (SELECT doc_id, i, p, n,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k FROM p1),
        |walk(doc_id, k, chunk_no, cur) AS (
        |  SELECT doc_id, k, 0::BIGINT, n FROM seq WHERE k = 1
        |  UNION ALL
        |  SELECT s.doc_id, s.k,
        |    CASE WHEN w.cur + s.n > 25 THEN w.chunk_no + 1 ELSE w.chunk_no END,
        |    CASE WHEN w.cur + s.n > 25 THEN s.n ELSE w.cur + s.n END
        |  FROM walk w JOIN seq s ON s.doc_id = w.doc_id AND s.k = w.k + 1),
        |ch AS (SELECT w.doc_id * 1000000 + chunk_no AS chunk_id,
        |    string_agg(s.p, ' a ' ORDER BY s.k) AS chunk_text
        |  FROM walk w JOIN seq s ON s.doc_id = w.doc_id AND s.k = w.k
        |  GROUP BY w.doc_id, chunk_no),
        |toks AS (SELECT chunk_id, string_split(lower(chunk_text), ' ') AS ts FROM ch),
        |dl AS (SELECT chunk_id, len(ts)::BIGINT AS dl FROM toks),
        |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
        |post AS (SELECT chunk_id, unnest(ts) AS token FROM toks),
        |tf AS (SELECT chunk_id, token, count(*)::BIGINT AS tf
        |  FROM post GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |q(query_id, token) AS (VALUES (0::BIGINT, 'vector'),
        |  (0::BIGINT, 'stream'), (1::BIGINT, 'customer'),
        |  (1::BIGINT, 'query'), (2::BIGINT, 'scan'), (2::BIGINT, 'window')),
        |scored AS (SELECT q.query_id, tf.chunk_id,
        |    sum(floor((((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |      * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (0.25 + 0.75
        |          * (dl.dl::DOUBLE / (stats.sdl::DOUBLE / stats.n::DOUBLE)))))
        |      ) * 1048576.0))::BIGINT AS score_fp
        |  FROM tf JOIN q USING (token) JOIN dfreq USING (token)
        |    JOIN dl USING (chunk_id) CROSS JOIN stats
        |  GROUP BY 1, 2)
        |SELECT query_id, rank, (chunk_id // 1000000)::BIGINT AS doc_id,
        |  (chunk_id % 1000000)::INT AS chunk_no, score_fp FROM (
        |  SELECT query_id, chunk_id, score_fp,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, chunk_id)::INT AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_hybrid_topk" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ts
         |  FROM documents),
         |dl AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
         |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
         |post AS (SELECT doc_id, unnest(ts) AS token FROM toks),
         |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
         |  FROM post GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |q(query_id, token) AS (VALUES (0::BIGINT, 'vector'),
         |  (0::BIGINT, 'stream'), (1::BIGINT, 'customer'),
         |  (1::BIGINT, 'query'), (2::BIGINT, 'scan'), (2::BIGINT, 'window')),
         |bm25 AS (SELECT q.query_id, tf.doc_id,
         |    sum(floor((((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |      * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (0.25 + 0.75
         |          * (dl.dl::DOUBLE / (stats.sdl::DOUBLE / stats.n::DOUBLE)))))
         |      ) * 1048576.0))::BIGINT AS s
         |  FROM tf JOIN q USING (token) JOIN dfreq USING (token)
         |    JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY 1, 2),
         |text_top AS (SELECT query_id, id, rank FROM (
         |  SELECT query_id, doc_id AS id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY s DESC, doc_id)::INT AS rank
         |  FROM bm25) WHERE rank <= 20),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |nrm AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |dense AS (SELECT qv.vec_id AS query_id, c.vec_id AS id,
         |  ${Sql.dot("qv.v", "c.v")} / (qv.nm * c.nm) AS score
         |  FROM nrm qv JOIN nrm c ON qv.vec_id < 3 AND c.vec_id <> qv.vec_id),
         |dense_top AS (SELECT query_id, id, rank FROM (
         |  SELECT query_id, id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, id)::INT AS rank
         |  FROM dense) WHERE rank <= 20),
         |contrib AS (
         |  SELECT query_id, id, 1048576::BIGINT // (60 + rank)::BIGINT AS c
         |    FROM text_top
         |  UNION ALL
         |  SELECT query_id, id, 1048576::BIGINT // (60 + rank)::BIGINT AS c
         |    FROM dense_top),
         |fused AS (SELECT query_id, id, sum(c)::BIGINT AS score_fp
         |  FROM contrib GROUP BY 1, 2)
         |SELECT query_id, id, rank, score_fp FROM (
         |  SELECT query_id, id, score_fp, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_fp DESC, id)::INT AS rank
         |  FROM fused)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "etl_zorder_key" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  (${Sql.zorder(Seq("l_partkey", "l_suppkey"), 16)}) AS zkey
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "etl_compact" ->
      """SELECT lang, count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS sum_id,
        |  sum(length(text))::BIGINT AS sum_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_ohlc" ->
      """SELECT user_id, strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hr,
        |  first(value ORDER BY ts, event_id) AS open,
        |  max(value) AS high, min(value) AS low,
        |  last(value ORDER BY ts, event_id) AS close,
        |  count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2 ORDER BY user_id, hr""".stripMargin,

    "q_histogram" ->
      """SELECT (least(floor(value / 10.0), 19.0))::INT AS bucket,
        |  count(*)::BIGINT AS n,
        |  sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS mass_cents
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_range_frame" ->
      """SELECT event_id, user_id,
        |  (count(*) OVER w)::BIGINT AS n_1h,
        |  (sum((value::DECIMAL(18,2) * 100)::BIGINT) OVER w)::BIGINT
        |    AS sum_1h_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "etl_schema_evolution" ->
      """SELECT count(*)::BIGINT AS n,
        |  count(CASE WHEN event_id % 2 = 0 THEN user_id END)::BIGINT AS n_user,
        |  count(CASE WHEN event_id % 2 = 1 THEN value END)::BIGINT AS n_value,
        |  sum(CASE WHEN event_id % 2 = 0 THEN user_id END)::BIGINT AS sum_user,
        |  sum(CASE WHEN event_id % 2 = 1
        |    THEN (value::DECIMAL(18,2) * 100)::BIGINT END)::BIGINT
        |    AS sum_value_cents
        |FROM events""".stripMargin,

    "etl_partition_overwrite" ->
      """SELECT day(ts)::INT AS day, count(*)::BIGINT AS n,
        |  sum(((CASE WHEN day(ts) = 5 THEN value * 2 ELSE value
        |    END)::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_cents
        |FROM events WHERE day(ts) <= 10
        |GROUP BY 1 ORDER BY day""".stripMargin,


    // the pruned read must answer exactly like a plain filter over the
    // original rows — file skipping is transparent to semantics
    "etl_files_pruned" ->
      """SELECT day(ts)::INT AS day, count(*)::BIGINT AS n,
        |  sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_cents
        |FROM events WHERE day(ts) BETWEEN 4 AND 6
        |GROUP BY 1 ORDER BY day""".stripMargin,


    // the spliced two-generation manifest must answer exactly like a
    // plain filter over the original rows
    "etl_manifest_append" ->
      """SELECT day(ts)::INT AS day, count(*)::BIGINT AS n,
        |  sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_cents
        |FROM events WHERE day(ts) BETWEEN 4 AND 7
        |GROUP BY 1 ORDER BY day""".stripMargin,


    "etl_snapshot_diff" ->
      """WITH o AS (SELECT event_id, event_type, value FROM events
        |  WHERE day(ts) BETWEEN 1 AND 5),
        |n AS (SELECT event_id, event_type,
        |    CASE WHEN day(ts) = 3 THEN value * 2 ELSE value END AS value
        |  FROM events WHERE day(ts) BETWEEN 2 AND 6)
        |SELECT status, count(*)::BIGINT AS n_rows FROM (
        |  SELECT CASE WHEN o.event_id IS NULL THEN 'added'
        |              WHEN n.event_id IS NULL THEN 'removed'
        |              WHEN o.event_type IS NOT DISTINCT FROM n.event_type
        |               AND o.value IS NOT DISTINCT FROM n.value
        |                THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM o FULL OUTER JOIN n USING (event_id))
        |GROUP BY 1 ORDER BY status""".stripMargin,


    // mirrors etl_star_schema_evolution: v1 = days 1-3 with NO region
    // (the pre-evolution snapshot — its schema never had the column); v2
    // = days 1-5 with region present on exactly the day-4..5 rows (batch
    // 1's delta null-fills). Every event row survives clean().
    "etl_star_schema_evolution" ->
      """WITH e AS (SELECT day(ts) AS dd, 'r' || (user_id % 5)::VARCHAR AS reg
        |  FROM events)
        |SELECT 1::BIGINT AS version, count(*)::BIGINT AS n_fact,
        |  0::BIGINT AS n_region, 0::BIGINT AS n_distinct_region
        |FROM e WHERE dd BETWEEN 1 AND 3
        |UNION ALL
        |SELECT 2::BIGINT, count(*)::BIGINT,
        |  count(CASE WHEN dd BETWEEN 4 AND 5 THEN 1 END)::BIGINT,
        |  count(DISTINCT CASE WHEN dd BETWEEN 4 AND 5 THEN reg END)::BIGINT
        |FROM e WHERE dd BETWEEN 1 AND 5
        |ORDER BY version""".stripMargin,

    // per version: the cumulative day range's count and HITS sum (every
    // event row survives clean() by construction); the type name pins the
    // manifest upgrade INT → BIGINT
    "etl_star_type_widening" ->
      """WITH e AS (SELECT day(ts) AS dd, (user_id % 100) AS h FROM events)
        |SELECT 1::BIGINT AS version, count(*)::BIGINT AS n_fact,
        |  sum(h)::BIGINT AS sum_hits, 'INT' AS hits_type
        |FROM e WHERE dd BETWEEN 1 AND 3
        |UNION ALL
        |SELECT 2::BIGINT, count(*)::BIGINT, sum(h)::BIGINT, 'BIGINT'
        |FROM e WHERE dd BETWEEN 1 AND 5
        |ORDER BY version""".stripMargin,

    // mirrors etl_time_travel: version N ≡ the cumulative day range its
    // batches covered; every event row survives clean() by construction
    "etl_time_travel" ->
      """WITH e AS (SELECT date_trunc('minute', ts) AS m, user_id % 97 AS tk,
        |  day(ts) AS dd FROM events),
        |v(version, max_day) AS (VALUES (2, 5), (3, 6))
        |SELECT v.version::BIGINT AS version, count(*)::BIGINT AS n_fact,
        |  count(DISTINCT e.m)::BIGINT AS n_minutes,
        |  strftime(max(e.m), '%Y%m%d%H%M') AS max_minute,
        |  count(DISTINCT e.tk)::BIGINT AS n_titles
        |FROM v JOIN e ON e.dd <= v.max_day
        |GROUP BY v.version ORDER BY version""".stripMargin,

    "etl_scd2" ->
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
        |  strftime(vf, '%Y%m%d%H%M%S.%f') AS valid_from,
        |  strftime(lead(vf) OVER w, '%Y%m%d%H%M%S.%f') AS valid_to,
        |  (row_number() OVER w)::BIGINT AS version,
        |  (lead(vf) OVER w IS NULL) AS is_current
        |FROM cp
        |WINDOW w AS (PARTITION BY user_id ORDER BY vf, event_id)
        |ORDER BY user_id, version""".stripMargin,

    // mirrors q_streaming_neardup_portable: with 1-row bands a shared
    // bucket ⟺ ≥1 agreeing position, which n_agree >= 8 implies — so the
    // pair set is the all-pairs agreement filter over the md5-60bit
    // signature law (no bucket ever nears the caps at gate SF)

    // identical to etl_scd2's oracle ON PURPOSE: the incremental upsert's
    // contract is equality with the full rebuild
    "etl_scd2_upsert" ->
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
        |  strftime(vf, '%Y%m%d%H%M%S.%f') AS valid_from,
        |  strftime(lead(vf) OVER w, '%Y%m%d%H%M%S.%f') AS valid_to,
        |  (row_number() OVER w)::BIGINT AS version,
        |  (lead(vf) OVER w IS NULL) AS is_current
        |FROM cp
        |WINDOW w AS (PARTITION BY user_id ORDER BY vf, event_id)
        |ORDER BY user_id, version""".stripMargin,

    "etl_cdc_apply" ->
      """WITH base AS (SELECT c_custkey AS k, c_name AS name,
        |    c_acctbal::DECIMAL(18,2) AS bal FROM customer),
        |ch AS (SELECT o_custkey AS k, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 37 = 0 THEN 'D' ELSE 'U' END AS op,
        |    'upd_' || o_orderkey AS name, o_totalprice::DECIMAL(18,2) AS bal
        |  FROM orders),
        |latest AS (SELECT * FROM ch QUALIFY
        |  row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1)
        |SELECT k, name, (bal*100)::BIGINT AS bal_cents FROM base
        |  WHERE k NOT IN (SELECT k FROM latest)
        |UNION ALL
        |SELECT k, name, (bal*100)::BIGINT AS bal_cents FROM latest
        |  WHERE op <> 'D'
        |ORDER BY k""".stripMargin,

    "etl_scd2_resolve" ->
      """WITH obs AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w0 AS prev,
        |    row_number() OVER w0 AS rn
        |  FROM events
        |  WINDOW w0 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |cp AS (
        |  SELECT user_id, event_type, ts AS vf, event_id
        |  FROM obs WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |dim AS (
        |  SELECT user_id, event_type, vf,
        |    lead(vf) OVER w AS vt,
        |    (row_number() OVER w)::BIGINT AS version
        |  FROM cp
        |  WINDOW w AS (PARTITION BY user_id ORDER BY vf, event_id)),
        |facts AS (
        |  SELECT user_id, event_id, ts - INTERVAL 1 HOUR AS fts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id,
        |  strftime(f.fts, '%Y%m%d%H%M%S.%f') AS ts_s,
        |  d.event_type AS asof_event_type,
        |  strftime(d.vf, '%Y%m%d%H%M%S.%f') AS valid_from_s,
        |  d.version AS asof_version
        |FROM facts f
        |LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.fts >= d.vf
        |  AND (f.fts < d.vt OR d.vt IS NULL)
        |ORDER BY f.user_id, f.event_id""".stripMargin,

    "etl_partitioned_scan" ->
      """SELECT day(ts)::INT AS day, count(*)::BIGINT AS n,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q_union_all" ->
      """SELECT 'h1' AS half, event_type, count(*)::BIGINT AS n FROM events
        |WHERE day(ts) <= 15 GROUP BY event_type
        |UNION ALL
        |SELECT 'h2' AS half, event_type, count(*)::BIGINT AS n FROM events
        |WHERE day(ts) > 15 GROUP BY event_type
        |ORDER BY half, event_type""".stripMargin,

    "q_except" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y%m%d%H%M') AS datetime_key
        |FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT strftime(date_trunc('minute', ts), '%Y%m%d%H%M') AS datetime_key
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY datetime_key""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS up_name,
        |  substr(c_name, 1, 8) AS name_head,
        |  replace(c_name, '#', '-') AS dashed,
        |  lpad(c_custkey::VARCHAR, 10, '0') AS padded_key,
        |  length(c_name)::INT AS name_len,
        |  reverse(c_name) AS rev_name
        |FROM customer WHERE c_custkey % 37 = 0 ORDER BY c_custkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS od,
        |  strftime(o_orderdate::DATE + 30, '%Y-%m-%d') AS od_plus30,
        |  date_diff('day', DATE '1995-01-01', o_orderdate::DATE)::INT AS days_since,
        |  strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end,
        |  quarter(o_orderdate)::INT AS qtr
        |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum((props->>'$.k')::BIGINT)::BIGINT AS sum_k,
        |  max((props->>'$.k')::BIGINT)::BIGINT AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_full_outer" ->
      """SELECT day, n_views, n_purchases FROM
        |  (SELECT day(ts)::INT AS day, count(*)::BIGINT AS n_views FROM events
        |   WHERE event_type = 'view' AND day(ts) <= 20 GROUP BY 1) v
        |FULL JOIN
        |  (SELECT day(ts)::INT AS day, count(*)::BIGINT AS n_purchases FROM events
        |   WHERE event_type = 'purchase' AND day(ts) >= 10 GROUP BY 1) p
        |USING (day) ORDER BY day""".stripMargin,

    "q_salted_join" ->
      """SELECT p_brand, count(*)::BIGINT AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_bloom_join" ->
      """SELECT p_brand, count(*)::BIGINT AS n, sum(l_quantity) AS sum_qty,
        |  (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 3
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q17_small_qty" ->
      """SELECT count(*)::BIGINT AS n,
        |  (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sum_extprice
        |FROM lineitem l JOIN (
        |  SELECT l_partkey, 0.2 * (sum(l_quantity) / count(*)) AS qty_thresh
        |  FROM lineitem GROUP BY l_partkey) p
        |ON l.l_partkey = p.l_partkey
        |WHERE l.l_quantity < p.qty_thresh""".stripMargin,


    "q_time_to_convert" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS v_us FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id,
        |    (min(epoch_us(e.ts)) - v.v_us) // 1000000 AS delta_s
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.v_us
        |  GROUP BY e.user_id, v.v_us)
        |SELECT (SELECT count(*) FROM v)::BIGINT AS n_viewers,
        |  count(*)::BIGINT AS n_converted,
        |  min(delta_s)::BIGINT AS min_s, max(delta_s)::BIGINT AS max_s,
        |  sum(delta_s)::BIGINT AS sum_s
        |FROM c""".stripMargin,


    // full recompute over days 1-5 — the incremental fold must equal it
    "etl_incremental_agg" ->
      """SELECT day(ts)::INT AS day, event_type, count(*)::BIGINT AS n,
        |  sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_cents,
        |  min((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS min_cents,
        |  max((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS max_cents
        |FROM events WHERE day(ts) <= 5
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,


    // logical (vector-applied) and physical (compacted) reads must BOTH
    // equal the plain filter: deletes are the union of the two marks
    "etl_delete_vectors" ->
      """WITH live AS (
        |  SELECT day(ts)::INT AS day, value FROM events
        |  WHERE day(ts) <= 6
        |    AND NOT (user_id % 7 = 0 OR day(ts) = 2)),
        |c AS (SELECT day, count(*)::BIGINT AS n,
        |    sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_cents
        |  FROM live GROUP BY day)
        |SELECT day, n, sum_cents, 'logical' AS stage FROM c
        |UNION ALL
        |SELECT day, n, sum_cents, 'physical' AS stage FROM c
        |ORDER BY stage, day""".stripMargin,


    "q_k_anonymity" ->
      """WITH g AS (SELECT event_type, user_id % 25 AS ub,
        |    count(*)::BIGINT AS gsz
        |  FROM events GROUP BY 1, 2),
        |k(k) AS (VALUES (70), (80), (100))
        |SELECT k.k::INT AS k,
        |  sum(CASE WHEN g.gsz < k.k THEN 1 ELSE 0 END)::BIGINT
        |    AS n_groups_below,
        |  sum(CASE WHEN g.gsz < k.k THEN g.gsz ELSE 0 END)::BIGINT
        |    AS n_rows_below,
        |  min(g.gsz)::BIGINT AS min_group_size,
        |  count(*)::BIGINT AS n_groups
        |FROM k CROSS JOIN g
        |GROUP BY k.k ORDER BY k""".stripMargin,


    // the sketch prunes, the verify decides: exact HAVING-count semantics
    "q_heavy_hitters" ->
      """SELECT user_id, count(*)::BIGINT AS n FROM events
        |GROUP BY 1 HAVING count(*) >= 70 ORDER BY user_id""".stripMargin,


    "etl_pseudonymize" ->
      """WITH e AS (SELECT md5('graft-salt' || user_id::VARCHAR) AS user_tok,
        |    user_id::VARCHAR || '@example.com' AS email
        |  FROM events)
        |SELECT user_tok,
        |  repeat('*', length(email) - 4) || right(email, 4) AS email_masked,
        |  count(*)::BIGINT AS n
        |FROM e GROUP BY 1, 2 ORDER BY user_tok""".stripMargin,


    // bloom skipping must answer exactly like a plain IN-list filter
    "etl_files_pruned_point" ->
      """SELECT event_id, user_id,
        |  (value::DECIMAL(18,2) * 100)::BIGINT AS value_cents
        |FROM events WHERE event_id IN (123, 4567, 8888, 10000000)
        |ORDER BY event_id""".stripMargin,


    // gen 1 = day-1 members (ranked by token), gen 2 = day-2-only members
    // (offset past gen 1); only gen-1 tokens < 30 were enriched — day-2
    // members missed the delivery and stay inferred
    "etl_late_dim" ->
      """WITH f1 AS (SELECT DISTINCT user_id % 97 AS tk FROM events
        |  WHERE day(ts) = 1),
        |f2o AS (SELECT DISTINCT user_id % 97 AS tk FROM events
        |  WHERE day(ts) = 2 AND user_id % 97 NOT IN (SELECT tk FROM f1)),
        |d AS (
        |  SELECT tk, row_number() OVER (ORDER BY tk) AS skey, 1 AS gen
        |  FROM f1
        |  UNION ALL
        |  SELECT tk,
        |    (SELECT count(*) FROM f1) + row_number() OVER (ORDER BY tk),
        |    2 AS gen
        |  FROM f2o)
        |SELECT skey::BIGINT AS title_skey, tk::BIGINT AS tk,
        |  CASE WHEN gen = 1 AND tk < 30 THEN 'T' || tk::VARCHAR END
        |    AS title_name,
        |  (gen <> 1 OR tk >= 30) AS is_inferred
        |FROM d ORDER BY tk""".stripMargin
  )
}
