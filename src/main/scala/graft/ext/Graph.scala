package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import FixedPoint.DivOps

/** Link-graph analytics for corpus curation.
  *
  * Web-scale training-data pipelines rank crawl hosts/pages by link-graph
  * centrality before sampling (the Common-Crawl host ranking each crawl
  * publishes is exactly this); a page's rank then feeds the quality gate
  * next to the text-level signals in [[TextStats]]. The reference's own
  * surface has no graph operator — this extends §2.8 the same way the
  * dedup/ANN families do.
  *
  * Everything here is expressed as keyed joins + aggregations so the
  * shuffle key is always a node id: per iteration, rank rows move once
  * (keyed on the edge source) and contributions move once (keyed on the
  * destination) — the canonical distributed PageRank shape, no driver-side
  * adjacency, no cartesian anywhere. Edge and node frames are persisted
  * once and self-release after the first consuming action ([[CacheScope]]
  * for multi-consumption callers, the repo-wide cache discipline).
  */
object Graph {

  /** PageRank in EXACT integer fixed-point — deterministic and
    * engine-portable, unlike float PageRank whose per-partition reduction
    * order perturbs low bits.
    *
    * Ranks are maintained as BIGINTs scaled by `scale` (rank 1.0 ≡
    * `scale`); each update is integer-only and truncating, identical in
    * Spark (`div`) and ANSI SQL (`//`):
    *
    * {{{
    *   contrib(u)    = rank_i(u) div outdeg(u)            // per out-edge
    *   rank_{i+1}(v) = (scale·(dampDen−dampNum)) div dampDen
    *                 + (dampNum · Σ_{u→v} contrib(u)) div dampDen
    * }}}
    *
    * so a fixed-iteration run is restatable verbatim as unrolled SQL CTEs
    * — the catalog row `graph_pagerank` does exactly that. Dangling nodes
    * (no out-edges) keep receiving mass but emit none — their share is
    * dropped, the deterministic choice; total mass is then not conserved,
    * which ranking consumers never need. Truncation loses < 1/scale per
    * edge per iteration: with the default micro-unit scale (10⁶) the
    * fixed-point error is orders below any ranking decision.
    *
    * Scale shape: `edges` is deduplicated and joined once to its own
    * out-degree aggregation (both keyed on `src`), persisted, and reused
    * every iteration; each iteration is one rank⋈edge join keyed on the
    * source and one sum keyed on the destination. Iterations are composed
    * lazily — rank_i feeds exactly one downstream join, so lineage stays
    * linear in `iters` and nothing doubles.
    *
    * @param iters  fixed iteration count (small, e.g. 3–10: host-ranking
    *               runs converge in tens of iterations; fixed count keeps
    *               the artifact deterministic and SQL-restatable)
    * @return (node, rank: BIGINT) — rank scaled by `scale` */
  def pageRankExact(edges: DataFrame, srcCol: String, dstCol: String,
                    iters: Int, dampNum: Long = 85L, dampDen: Long = 100L,
                    scale: Long = 1000000L,
                    scope: CacheScope = null): DataFrame = {
    require(iters >= 0, s"iters must be non-negative: $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= num <= den: $dampNum/$dampDen")
    require(scale > 0, s"scale must be positive: $scale")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ewd = e.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = lit(scale * (dampDen - dampNum)) .divLong (lit(dampDen))
    var rank = nodes.select(col("node"), lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      val inSum = ewd
        .join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          col("rank").divLong(col("outdeg")).as("contrib"))
        .groupBy(col("node")).agg(sum(col("contrib")).as("in_sum"))
      rank = nodes.join(inSum, Seq("node"), "left")
        .select(col("node"),
          (base + (lit(dampNum) * coalesce(col("in_sum"), lit(0L)))
            .divLong(lit(dampDen))).as("rank"))
    }
    CacheScope.handOver(scope, rank, ewd, nodes)
  }

  /** EXACT triangle count via the degree-ordered wedge join (the MapReduce-
    * classic: Suri & Vassilvitskii 2011) — link-graph clustering structure
    * (community density, spam-farm detection) next to [[pageRankExact]]'s
    * centrality. Every edge is oriented low→high by (degree, id), so each
    * triangle is counted exactly once AND the wedge join's fan-out is
    * bounded by the max ORIENTED out-degree — O(√m) on any graph, which is
    * the whole scale story: a celebrity node with 10⁶ neighbors produces
    * no 10¹²-wedge explosion because its edges all point INTO it. Joins
    * are keyed on node ids throughout; nothing driver-side.
    *
    * Returns one row: (n_nodes, n_edges, n_wedges, n_triangles). */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val wd = und
      .join(deg.toDF("a", "da"), "a")
      .join(deg.toDF("b", "db"), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = wd.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.toDF("u", "v")
      .join(oriented.toDF("v", "w"), "v")
      .select(col("u"), col("v"), col("w"))
    // wedge census and triangle closure in ONE pass over the wedge join:
    // oriented is distinct on its (u, v) pair, so the closure probe on
    // (u, w) matches at most one edge row — a LEFT join preserves wedge
    // multiplicity exactly and the match marker counts triangles, where
    // separate count(wedges) + count(wedges ⋈ edges) aggregates would
    // compute the wedge join (the operator's dominant cost) twice
    val closed = wedges.join(
      oriented.toDF("u", "w").withColumn("_hit", lit(1)), Seq("u", "w"),
      "left")
    val out = deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_wedges"),
        count(col("_hit")).as("n_triangles")))
    CacheScope.handOver(null, out, und, oriented)
  }

}
