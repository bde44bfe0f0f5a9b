package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The driver-checked operator catalog: every entry is one SURVEY §2 operator
  * (or §2.8 extension) expressed over the driver testdata tables, with a
  * DuckDB oracle in [[Queries.oracle]].
  *
  * Cross-engine determinism rules (the driver hash-compares values):
  *  - every computed column aliased identically in Spark and SQL;
  *  - timestamps formatted to strings (TZ-naive vs TZ-aware parquet types
  *    would otherwise diverge);
  *  - money sums go through decimal(18,2) (exact, order-independent) and
  *    back to double; integer-valued double sums are exact as-is;
  *  - averages computed as cast(sum as double)/count, never engine avg();
  *  - explicit ORDER BY on a unique key in both engines.
  */
object Queries {

  private[graft] def table(spark: SparkSession, dir: String, name: String): DataFrame =
    t(spark, dir, name)

  /** Canonical column types per driver table (timestamps deliberately
    * EXCLUDED — they have their own adaptive handling below). The driver
    * regenerates the testdata between rounds, and round 8 proved one
    * physical-type flip voids a round; normalizing every non-timestamp
    * column to these types is a no-op while the fixtures match (same-type
    * casts are optimized away) and silently absorbs an int32↔int64-class
    * width drift when they don't. */
  private[graft] val canonicalCols: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string"),
    "events" -> Seq("event_id" -> "bigint", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    // `embedding` is deliberately NOT normalized: every consumer widens via
    // Similarity.asDouble (lossless from float), and pinning array<float>
    // would silently NARROW a future double[] fixture while DuckDB oracles
    // read the same file at full double precision — the one canonical cast
    // that would create drift instead of absorbing it.
    "embeddings" -> Seq("vec_id" -> "bigint", "label" -> "int"))

  private def normalize(df: DataFrame, name: String): DataFrame =
    canonicalCols.getOrElse(name, Seq.empty).foldLeft(df) {
      case (d, (c, typ)) =>
        if (d.columns.contains(c) &&
            d.schema(c).dataType.simpleString != typ)
          d.withColumn(c, col(c).cast(typ))
        else d
    }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // The driver regenerates events.parquet between rounds and its physical
      // `ts` type has flipped between TIMESTAMP(NANOS) and TIMESTAMP(MICROS).
      // Be schema-adaptive: enable nanosAsLong (a no-op on micros files),
      // then only apply the nanos→micros rewrite when `ts` actually read back
      // as a long (i.e. the file really is NANOS). Integer `div` keeps full
      // precision — ns-since-epoch exceeds 2^53, so double math would corrupt.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      normalize(df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => df
      }, name)
    } else normalize(spark.read.parquet(s"$dir/$name.parquet"), name)

  /** Epoch-microseconds of an events `ts` column, portable across the
    * driver testdata's physical-type drift: on TIMESTAMP (LTZ — the old
    * NANOS fixture after the div-1000 rewrite) `unix_micros` applies
    * directly; on TIMESTAMP_NTZ (the current MICROS fixture) the value is
    * pure wall-clock microseconds since the NTZ epoch via `timestampdiff`
    * over two NTZ operands — no implicit NTZ→LTZ cast, so the result is
    * identical under ANY session time zone (an earlier
    * `to_utc_timestamp(ntz, "UTC")` form was only correct because callers
    * pinned the session to UTC) — exactly DuckDB's `epoch_us` of the same
    * naive column. */
  private[graft] def epochMicrosOf(df: DataFrame, name: String): org.apache.spark.sql.Column =
    df.schema(name).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        expr(s"timestampdiff(MICROSECOND, " +
          s"TIMESTAMP_NTZ '1970-01-01 00:00:00', `$name`)")
      case _ => unix_micros(col(name))
    }

  /** Exact money arithmetic: the column's doubles are 2-decimal values, so
    * the decimal(18,2) cast is exact and identical across engines (no double
    * can sit exactly on a .005 tie), and decimal sums are order-independent.
    * `round(double)` is NOT portable (HALF_UP vs engine-specific). */
  private def money(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Spark-side queries. Each mirrors [[oracle]] column-for-column. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ───────────────────────── ETL parity (SURVEY §2) ─────────────────────
    // row 11: exact element membership in a delimited list — the canonical
    // VideoStart filter re-expressed over documents.text word tokens.
    "etl_token_filter" -> ((s, d) => {
      t(s, d, "documents")
        .where(array_contains(split(col("text"), " "), "join"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // row 12: the substring (LIKE) variant — documented divergence.
    "etl_like_filter" -> ((s, d) => {
      t(s, d, "documents")
        .where(col("text").like("%join%"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // row 13: malformed-row filter on token count.
    "etl_token_count_filter" -> ((s, d) => {
      t(s, d, "documents")
        .where(size(split(col("text"), " ")) > 60)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // rows 15-18: minute truncation + date-part extraction + dim-date key.
    "etl_minute_dim" -> ((s, d) => {
      val minutes = t(s, d, "events")
        .where(col("event_type") === "purchase")
        .select(date_trunc("minute", col("ts")).as("m"))
        .distinct()
      minutes.select(
        date_format(col("m"), "yyyyMMddHHmm").as("datetime_key"),
        year(col("m")).as("yr"), month(col("m")).as("mo"),
        dayofmonth(col("m")).as("dy"), hour(col("m")).as("hr"),
        minute(col("m")).as("mi"))
        .orderBy("datetime_key")
    }),

    // row 20: pipe/delimiter head and tail extraction.
    "etl_head_tail" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        element_at(split(col("text"), " "), 1).as("head_tok"),
        element_at(split(col("text"), " "), -1).as("tail_tok"))
        .orderBy("doc_id")
    }),

    // row 21: chained-contains classifier (like_platform shape).
    "etl_classifier" -> ((s, d) => {
      val cls = when(col("text").contains("window"), "windowed")
        .when(col("text").contains("stream"), "streaming")
        .when(col("text").contains("hash"), "hashed")
        .otherwise("plain")
      t(s, d, "documents")
        .groupBy(cls.as("class")).agg(count(lit(1)).as("n"))
        .orderBy("class")
    }),

    // row 23: Snowflake regex-CASE classifier variant (rlike over
    // lower/trim, 'unknow' fallback — the documented looser semantics).
    "etl_sf_classifier" -> ((s, d) => {
      val piece = lower(trim(element_at(split(col("text"), " "), 1)))
      val cls = when(piece.rlike("join|merge|hash|scan"), piece)
        .when(piece.rlike("window"), "Desktop")
        .otherwise("unknow")
      t(s, d, "documents")
        .groupBy(cls.as("class")).agg(count(lit(1)).as("n"))
        .orderBy("class")
    }),

    // row 22: token-overlap → NULL classifier (like_site shape).
    "etl_overlap_classifier" -> ((s, d) => {
      val stop = array(lit("join"), lit("merge"), lit("hash"))
      val site = when(arrays_overlap(split(col("text"), " "), stop), lit(null))
        .otherwise(col("lang"))
      t(s, d, "documents")
        .groupBy(site.as("site")).agg(count(lit(1)).as("n"))
        .orderBy("site")
    }),

    // rows 25+31: distinct dim extraction + deterministic surrogate keys.
    "etl_dim_user" -> ((s, d) => {
      t(s, d, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
        .select((row_number().over(Window.orderBy("user_id"))).cast("long").as("user_skey"),
                col("user_id"))
        .orderBy("user_skey")
    }),

    // row 26: count audit.
    "etl_count_audit" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_records"))
        .orderBy("event_type")
    }),

    // row 27: one-job per-column max-length audit.
    "etl_maxlen_audit" -> ((s, d) => {
      t(s, d, "documents").agg(
        count(lit(1)).as("n_records"),
        max(length(col("text"))).as("maxlen_text"),
        max(length(col("lang"))).as("maxlen_lang"),
        max(length(col("source"))).as("maxlen_source"))
    }),

    // row 28: anti-join "insert-if-absent" — delta minute-keys not yet in the
    // dim (view-minutes with no purchase-minute), the dim-upsert shape.
    "etl_antijoin" -> ((s, d) => {
      val ev = t(s, d, "events")
      def minutes(typ: String) = ev.where(col("event_type") === typ)
        .select(date_format(date_trunc("minute", col("ts")), "yyyyMMddHHmm")
          .as("datetime_key")).distinct()
      minutes("view").join(minutes("purchase"), Seq("datetime_key"), "left_anti")
        .orderBy("datetime_key")
    }),

    // row 29: multi-way broadcast left join SKEY resolution (fact assembly).
    "etl_fact_resolve" -> ((s, d) => {
      val purchases = t(s, d, "events")
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          date_format(date_trunc("minute", col("ts")), "yyyyMMddHHmm").as("datetime_key"))
      val dimUser = purchases.select("user_id").distinct()
        .select(row_number().over(Window.orderBy("user_id")).cast("long").as("user_skey"),
                col("user_id"))
      val dimMinute = purchases.select("datetime_key").distinct()
        .select(row_number().over(Window.orderBy("datetime_key")).cast("long").as("datetime_skey"),
                col("datetime_key"))
      purchases
        .join(broadcast(dimUser), Seq("user_id"), "left")
        .join(broadcast(dimMinute), Seq("datetime_key"), "left")
        .select(col("event_id"), col("datetime_skey"), col("user_skey"))
        .orderBy("event_id")
    }),

    // row 30: insert-only MERGE on a composite natural key — first event id
    // per (user, minute, type), i.e. dedup-on-merge.
    "etl_merge_dedup" -> ((s, d) => {
      t(s, d, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          date_format(date_trunc("minute", col("ts")), "yyyyMMddHHmm").as("datetime_key"))
        .agg(min(col("event_id")).as("first_event_id"))
        .orderBy("user_id", "datetime_key")
    }),

    // rows 11-13 capture side: quarantine counts per reject reason, over a
    // raw frame derived deterministically from events (some rows fail each
    // gate). Pins Transform.rejectReason's gate ORDER (first failing gate
    // wins) under the oracle, not just the clean/quarantine partition law
    // the sbt spec asserts.
    "etl_quarantine" -> ((s, d) => {
      val raw = t(s, d, "events").select(
        col("event_id"),
        when(col("event_id") % 13 === 0, lit("not-a-date"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
          .as("DateTime"),
        when(col("event_id") % 5 === 0, concat(lit("Web News|"), col("event_type")))
          .otherwise(lit("plain title no pipe")).as("VideoTitle"),
        when(col("event_id") % 3 === 0, lit("100,206"))
          .otherwise(lit("100,101")).as("events"))
      graft.etl.Transform.quarantine(raw)
        .groupBy(col("reject_reason"))
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"))
        .orderBy("reject_reason")
    }),

    // ─────────────────────── analytics (bench headliners) ─────────────────
    // TPC-H Q1 shape: wide aggregate over the big table.
    "q1_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(money(col("l_extendedprice"))).cast("double")).as("sum_base_price"),
          sum(money(col("l_extendedprice")) *
            (lit(java.math.BigDecimal.ONE).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // join + aggregate: revenue per market segment.
    "q3_segment_revenue" -> ((s, d) => {
      t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // 5-way star join: revenue per region (dims broadcast). Lineitem revenue
    // is pre-aggregated per orderkey BELOW the join — each order joins 1:1
    // with customer/nation/region, and decimal addition is associative, so
    // the two-level sum is bit-identical to the flat one while the join
    // shuffle carries one row per order instead of one per lineitem (a
    // reduction Catalyst does not derive on its own).
    // MEASURED (local[32], median of 3 after warmup):
    // sf0.1 pre-agg 0.71 s vs flat 0.96 s; at a 10× replicated scale-up
    // 1.77 s vs 1.72 s (within run spread). The pre-agg wins locally and
    // ties at 10×, while its join shuffle stays O(orders) instead of
    // O(lineitems) — the shape that matters at 100 TB — so it stays. (The
    // r05 bench's 1.84 s median for this query did not reproduce: the full
    // bench on the same code measures 0.78 s median — run-environment
    // variance, not the rewrite.)
    "q5_region_revenue" -> ((s, d) => {
      val ordRev = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(money(col("l_extendedprice")) *
            (lit(java.math.BigDecimal.ONE).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)")))
          .as("ord_rev"))
      ordRev
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(col("ord_rev")).cast("double").as("revenue"))
        .orderBy("r_name")
    }),

    // top-k per group: 3 priciest orders per market segment. The oracle
    // restates it as the classic rank window; the Spark side runs the
    // bounded-heap TopK aggregator (tie-identical to row_number over
    // (price desc, key asc) — ExtSpec-asserted), whose map-side partials
    // cap the shuffle at k rows per (partition, segment) instead of moving
    // EVERY order of a segment through one window partition — the same
    // run-scale-path-against-window-oracle pattern as sample_cap_source.
    "q_topk_window" -> ((s, d) => {
      val scored = t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_totalprice"), col("o_orderkey"))
      graft.ext.TopK.topKPerKey(scored, "c_mktsegment", "o_totalprice",
          "o_orderkey", k = 3)
        .select(col("c_mktsegment"), col("id").as("o_orderkey"),
          col("score").as("o_totalprice"), col("rank").as("rk"))
        .orderBy("c_mktsegment", "rk")
    }),

    // semi join: customers having orders, counted per nation.
    "q_semijoin" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
        .orderBy("n_name")
    }),

    // exact distinct aggregation.
    "q_distinct_users" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // grouping sets / rollup.
    "q_rollup" -> ((s, d) => {
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // full cube next to the rollup: all four grouping-set combinations.
    "q_cube" -> ((s, d) => {
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // EXACT per-group median as an ACTUAL row value — rank-selected, no
    // interpolation arithmetic, so the emitted double is a raw input value
    // both engines read identically (the portable exact-quantile shape;
    // percentile_approx / q_sketch_quantiles is the at-scale path — this
    // one pays a per-group sort and is verification-class by design).
    // Lower median at even n: rn == (n+1) div 2 under a total order.
    "q_exact_median" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      t(s, d, "events")
        .select(col("event_type"), col("value"), col("event_id"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy(col("event_type"))).as("n"))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("value").as("median_value"), col("n"))
        .orderBy("event_type")
    }),

    // true pivot API (q_conditional_agg is the CASE-sum shape): daily event
    // counts, one column per type. The explicit value list skips pivot's
    // distinct-values pre-job; na.fill(0) aligns absent combinations with
    // SQL's count-over-CASE (0, not NULL).
    "q_pivot" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(dayofmonth(col("ts")).cast("int").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day")
    }),

    // unpivot (melt) — the inverse of q_pivot: wide metric columns to
    // (key, metric, value) rows. Both engines emit the source column NAME
    // as the discriminator, so the contract is checked end-to-end.
    "q_unpivot" -> ((s, d) => {
      t(s, d, "part")
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").cast("double").as("retail"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retail")),
          "metric", "value")
        .orderBy("p_partkey", "metric")
    }),

    // explicit GROUPING SETS (rollup/cube are the degenerate cases): the
    // two one-dimension margins plus the grand total, with grouping()
    // indicators so an aggregated-away NULL is distinguishable from a
    // data NULL — the portable way to label grouping-set output.
    "q_grouping_sets" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_gsets")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping(o_orderstatus) AS INT) AS g_status,
          CAST(grouping(o_orderpriority) AS INT) AS g_priority,
          count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders_gsets
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority,
          o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),

    // rank-function breadth: rank/dense_rank/cume_dist over the VALUE order
    // (deterministic under ties — they depend only on the ordering values)
    // and ntile over a fully tie-broken order (ntile depends on row
    // position, so a total order is what makes it engine-portable).
    // cume_dist is restated as its integer evidence — n_le (the RANGE-frame
    // count up to and including all peers, i.e. the cume_dist numerator) and
    // n_part (the partition size, the denominator) — because a raw
    // window-produced DOUBLE is the one value class whose engine formatting
    // can differ even when the data is identical; cume_dist = n_le / n_part.
    // The balance itself is emitted integer-exact as cents (DECIMAL(18,2)
    // × 100 → BIGINT): every hashed column is INT/BIGINT/STRING, the
    // catalog's portable-value discipline — no raw DECIMAL/DOUBLE surface.
    "q_rank_funcs" -> ((s, d) => {
      val wv = Window.partitionBy(col("c_mktsegment"))
        .orderBy(money(col("c_acctbal")).desc)
      val wt = Window.partitionBy(col("c_mktsegment"))
        .orderBy(money(col("c_acctbal")).desc, col("c_custkey"))
      t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          (money(col("c_acctbal")) * 100).cast("long").as("bal_cents"),
          rank().over(wv).as("rnk"),
          dense_rank().over(wv).as("drnk"),
          count(lit(1)).over(wv.rangeBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("int").as("n_le"),
          count(lit(1)).over(Window.partitionBy(col("c_mktsegment")))
            .cast("int").as("n_part"),
          ntile(4).over(wt).as("quartile"))
        .orderBy("c_mktsegment", "rnk", "c_custkey")
    }),

    // conditional aggregation (pivot shape).
    "q_conditional_agg" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          sum(when(col("o_orderpriority").startsWith("1"), 1L).otherwise(0L)).as("n_urgent"),
          sum(when(col("o_orderpriority").startsWith("5"), 1L).otherwise(0L)).as("n_low"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // set operation: purchasers active in both week 1 and week 4.
    "q_intersect" -> ((s, d) => {
      val ev = t(s, d, "events").where(col("event_type") === "purchase")
      ev.where(dayofmonth(col("ts")) <= 7).select("user_id")
        .intersect(ev.where(dayofmonth(col("ts")) > 21).select("user_id"))
        .orderBy("user_id")
    })
  )

  /** DuckDB oracles — column names and order semantics mirror [[all]]. */
  val oracle: Map[String, String] = Map(
    "etl_token_filter" ->
      """SELECT doc_id, lang FROM documents
        |WHERE list_contains(string_split(text, ' '), 'join')
        |ORDER BY doc_id""".stripMargin,

    "etl_like_filter" ->
      """SELECT lang, count(*)::BIGINT AS n FROM documents
        |WHERE text LIKE '%join%' GROUP BY lang ORDER BY lang""".stripMargin,

    "etl_token_count_filter" ->
      """SELECT doc_id, len(string_split(text, ' '))::INT AS n_tokens
        |FROM documents WHERE len(string_split(text, ' ')) > 60
        |ORDER BY doc_id""".stripMargin,

    "etl_minute_dim" ->
      """SELECT strftime(m, '%Y%m%d%H%M') AS datetime_key,
        |  year(m)::INT AS yr, month(m)::INT AS mo, day(m)::INT AS dy,
        |  hour(m)::INT AS hr, minute(m)::INT AS mi
        |FROM (SELECT DISTINCT date_trunc('minute', ts) AS m FROM events
        |      WHERE event_type = 'purchase')
        |ORDER BY datetime_key""".stripMargin,

    "etl_head_tail" ->
      """SELECT doc_id, string_split(text, ' ')[1] AS head_tok,
        |  string_split(text, ' ')[-1] AS tail_tok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "etl_classifier" ->
      """SELECT CASE WHEN contains(text, 'window') THEN 'windowed'
        |  WHEN contains(text, 'stream') THEN 'streaming'
        |  WHEN contains(text, 'hash') THEN 'hashed'
        |  ELSE 'plain' END AS class, count(*)::BIGINT AS n
        |FROM documents GROUP BY 1 ORDER BY class""".stripMargin,

    "etl_sf_classifier" ->
      """SELECT CASE
        |    WHEN regexp_matches(lower(trim(string_split(text, ' ')[1])),
        |         'join|merge|hash|scan') THEN lower(trim(string_split(text, ' ')[1]))
        |    WHEN regexp_matches(lower(trim(string_split(text, ' ')[1])), 'window')
        |      THEN 'Desktop'
        |    ELSE 'unknow' END AS class, count(*)::BIGINT AS n
        |FROM documents GROUP BY 1 ORDER BY class""".stripMargin,

    "etl_overlap_classifier" ->
      """SELECT CASE WHEN list_has_any(string_split(text, ' '),
        |    ['join','merge','hash']) THEN NULL ELSE lang END AS site,
        |  count(*)::BIGINT AS n
        |FROM documents GROUP BY 1 ORDER BY site""".stripMargin,

    "etl_dim_user" ->
      """SELECT row_number() OVER (ORDER BY user_id)::BIGINT AS user_skey, user_id
        |FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY user_skey""".stripMargin,

    "etl_count_audit" ->
      """SELECT event_type, count(*)::BIGINT AS n_records FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "etl_maxlen_audit" ->
      """SELECT count(*)::BIGINT AS n_records,
        |  max(length(text))::INT AS maxlen_text,
        |  max(length(lang))::INT AS maxlen_lang,
        |  max(length(source))::INT AS maxlen_source
        |FROM documents""".stripMargin,

    "etl_antijoin" ->
      """SELECT datetime_key FROM (
        |  SELECT DISTINCT strftime(date_trunc('minute', ts), '%Y%m%d%H%M')
        |    AS datetime_key FROM events WHERE event_type = 'view') v
        |WHERE NOT EXISTS (SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase'
        |  AND strftime(date_trunc('minute', p.ts), '%Y%m%d%H%M') = v.datetime_key)
        |ORDER BY datetime_key""".stripMargin,

    "etl_fact_resolve" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id,
        |    strftime(date_trunc('minute', ts), '%Y%m%d%H%M') AS datetime_key
        |  FROM events WHERE event_type = 'purchase'),
        |dim_user AS (
        |  SELECT row_number() OVER (ORDER BY user_id)::BIGINT AS user_skey, user_id
        |  FROM (SELECT DISTINCT user_id FROM purchases)),
        |dim_minute AS (
        |  SELECT row_number() OVER (ORDER BY datetime_key)::BIGINT AS datetime_skey,
        |    datetime_key
        |  FROM (SELECT DISTINCT datetime_key FROM purchases))
        |SELECT p.event_id, m.datetime_skey, u.user_skey
        |FROM purchases p
        |LEFT JOIN dim_user u USING (user_id)
        |LEFT JOIN dim_minute m USING (datetime_key)
        |ORDER BY event_id""".stripMargin,

    "etl_merge_dedup" ->
      """SELECT user_id,
        |  strftime(date_trunc('minute', ts), '%Y%m%d%H%M') AS datetime_key,
        |  min(event_id)::BIGINT AS first_event_id
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY user_id, datetime_key""".stripMargin,

    // mirrors the Spark-side raw-frame derivation: events-list gate first,
    // then title gate, then timestamp gate (event_id % 13 rows got an
    // unparseable DateTime; all other DateTimes parse by construction)
    "etl_quarantine" ->
      """WITH raw AS (SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN '100,206' ELSE '100,101' END AS ev,
        |  CASE WHEN event_id % 5 = 0 THEN 'Web News|' || event_type
        |       ELSE 'plain title no pipe' END AS vt,
        |  (event_id % 13 = 0) AS bad_ts
        |  FROM events)
        |SELECT reject_reason, count(*)::BIGINT AS n, min(event_id)::BIGINT AS min_id
        |FROM (SELECT event_id,
        |  CASE WHEN NOT list_contains(string_split(ev, ','), '206') THEN 'not_videostart'
        |       WHEN len(string_split(vt, '|')) <= 1 THEN 'malformed_title'
        |       WHEN bad_ts THEN 'bad_timestamp'
        |       ELSE NULL END AS reject_reason
        |  FROM raw)
        |WHERE reject_reason IS NOT NULL
        |GROUP BY reject_reason ORDER BY reject_reason""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sum_base_price,
        |  (sum(l_extendedprice::DECIMAL(18,2) *
        |       (1::DECIMAL(8,4) - l_discount::DECIMAL(8,4))))::DOUBLE
        |    AS sum_disc_price,
        |  sum(l_quantity)::DOUBLE / count(*) AS avg_qty,
        |  count(*)::BIGINT AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_segment_revenue" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |  (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name,
        |  (sum(l_extendedprice::DECIMAL(18,2) *
        |       (1::DECIMAL(8,4) - l_discount::DECIMAL(8,4))))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_topk_window" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey ASC)::INT AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin,

    "q_semijoin" ->
      """SELECT n_name, count(*)::BIGINT AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_exact_median" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, value AS median_value, n::BIGINT AS n
        |FROM ranked WHERE rn = (n + 1) // 2
        |ORDER BY event_type""".stripMargin,

    "q_pivot" ->
      """SELECT day(ts)::INT AS day,
        |  count(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END)::BIGINT AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END)::BIGINT AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "q_unpivot" ->
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, p_size::DOUBLE AS size,
        |    p_retailprice::DOUBLE AS retail FROM part)
        |UNPIVOT (value FOR metric IN (size, retail))
        |ORDER BY p_partkey, metric""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  grouping(o_orderstatus)::INT AS g_status,
        |  grouping(o_orderpriority)::INT AS g_priority,
        |  count(*)::BIGINT AS n,
        |  (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_priority,
        |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_rank_funcs" ->
      """SELECT c_custkey, c_mktsegment,
        |  (c_acctbal::DECIMAL(18,2) * 100)::BIGINT AS bal_cents,
        |  (rank() OVER wv)::INT AS rnk,
        |  (dense_rank() OVER wv)::INT AS drnk,
        |  (count(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal::DECIMAL(18,2) DESC
        |     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::INT AS n_le,
        |  (count(*) OVER (PARTITION BY c_mktsegment))::INT AS n_part,
        |  (ntile(4) OVER wt)::INT AS quartile
        |FROM customer
        |WINDOW
        |  wv AS (PARTITION BY c_mktsegment ORDER BY c_acctbal::DECIMAL(18,2) DESC),
        |  wt AS (PARTITION BY c_mktsegment ORDER BY c_acctbal::DECIMAL(18,2) DESC, c_custkey)
        |ORDER BY c_mktsegment, rnk, c_custkey""".stripMargin,

    "q_conditional_agg" ->
      """SELECT o_orderstatus,
        |  sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END)::BIGINT AS n_urgent,
        |  sum(CASE WHEN o_orderpriority LIKE '5%' THEN 1 ELSE 0 END)::BIGINT AS n_low,
        |  count(*)::BIGINT AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND day(ts) <= 7
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase' AND day(ts) > 21
        |ORDER BY user_id""".stripMargin
  )

  /** Bench headliners: the queries whose throughput matters at scale.
    * Quadratic-within-block verification ops (dedup_ngram, dedup_editdist,
    * dedup_embedding)
    * are deliberately absent — their scale path is the LSH variants below. */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_segment_revenue", "q5_region_revenue",
    "q_topk_window", "q_semijoin", "q_distinct_users", "q_rollup",
    "etl_fact_resolve", "etl_merge_dedup", "etl_minute_dim",
    "dedup_exact", "dedup_minhash_fast", "dedup_simhash", "dedup_embedding_lsh",
    "sim_topk", "sim_topk_lsh", "text_tokens", "text_fingerprint",
    "q_asof_join", "q_session_window", "q_sketch_distinct",
    "dedup_incremental", "text_lm_score", "etl_scd2",
    "etl_scd2_resolve", "q_stream_stream_join",
    "q_bloom_join", "q_funnel_depth", "sim_topk_ivf_filtered",
    "text_bm25_topk", "sim_hybrid_topk", "text_lm_bigram", "dedup_semantic",
    "text_url_parse", "curation_host_rank", "text_lm_trigram", "dedup_url",
    "text_quality_classifier", "sample_epochs", "text_lm_kn", "sim_kmeans",
    "q_hll_portable", "q_quantile_portable", "q_cms_portable",
    "graph_triangles", "q_cohort_retention",
    "etl_incremental_agg", "etl_delete_vectors", "q_k_anonymity",
    "q_heavy_hitters",
    "dedup_substring_sa", "sim_topk_hnsw", "etl_time_travel",
    "curation_warc_e2e", "sim_kcenter", "mm_decode_jpeg_pixels",
    // curation_pipeline_extracted is deliberately absent: its RAW variant
    // runs the chrome-welded near-dup flood uncapped on purpose (the
    // contrast the row demonstrates) — a hazard demo, not a throughput row
    "etl_jsonl_scan", "sim_topk_graph_filtered", "mm_image_neardup",
    "mm_audio_neardup", "dedup_near_incremental",
    // the design-point probe: served banded store, append-maintained —
    // its cost should track the BATCH, not the store
    "dedup_near_banded_append",
    // r16 video/composed-multimodal families: aligned clip pairing and
    // the full decode→hash→pair→cluster→survive recipe
    "mm_video_neardup", "mm_image_dedup_pipeline",
    // r16: margin-based bitext mining (brute lists at bench SF; the
    // mining layer itself is candidates-bounded) and the
    // in-context-pretraining greedy-chain layout + its packed recipe
    "sim_bitext_mine", "sample_icp_order", "sample_icp_pack",
    // r16: the WebDataset shard walk (real USTAR parse per shard)
    "etl_tar_scan",
    // r17: the streamed member-level export + checksummed census, the
    // sidecar-driven served-store probe, the composed LAION loop (walk →
    // decode → probe → survive → re-export), and dictionary segmentation
    "etl_webdataset_census", "dedup_store_probe_meta",
    "mm_webdataset_dedup_e2e", "text_tokens_thai",
    // r17: cross-table record linkage (fuzzy join)
    "dedup_fuzzy_link",
    // r18: the rare-token recall channel (two-channel candidates), the
    // served-store top-1 reconciliation form, the schema-evolved star
    // publish with the null-filling reconciled read, and the
    // frozen-vocabulary served weighted probe (the family's deployment
    // shape)
    "dedup_fuzzy_weighted_rare", "dedup_fuzzy_best_store",
    "etl_star_schema_evolution", "dedup_fuzzy_weighted_served")
}
