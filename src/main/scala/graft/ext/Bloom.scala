package graft.ext

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared Bloom-filter primitive behind [[Dedup.newAgainstHistory]] and
  * [[BloomJoin.prefilteredEquiJoin]]: fold one frame's key column into a
  * Spark `BloomFilterAggregate` bitset, ship the blob as a torrent
  * broadcast, and probe it with the codegen'd
  * [[expressions.BloomProbeExpr]] — the runtime-join-filter machinery Spark
  * injects for its own adaptive join pruning, driven explicitly so its
  * sizing and lifecycle are the caller's to control.
  *
  * Why explicit control matters at scale: Spark's own injected bloom
  * runtime filter is CEILINGED by
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
  * (4M items / 8 MB by default) and gated on planner heuristics
  * (creation-side size thresholds, selective-filter detection). A
  * 100M-key build side silently gets a saturated filter — fpp drifts
  * toward 1 and the "filter" passes everything. The builder here sizes the
  * filter to the caller's stated cardinality, raising the ceilings on a
  * CLONED session (shared SparkContext, isolated SQL conf) when they are
  * exceeded, so concurrent queries on the caller's session never see
  * loosened runtime-filter confs and concurrent builds cannot race a
  * save/set/restore on shared state.
  */
object Bloom {

  /** Number of filter bits for `expectedItems` keys at false-positive rate
    * `fpp` (≈ -n·ln(fpp)/ln²2 — 1.2 GB at 10⁹ keys / 1 %, broadcastable). */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long =
    org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)

  /** Fold `src`'s `keyCol` (xxhash64-hashed) into a Bloom filter sized for
    * `expectedItems`/`fpp` and return the serialized bitset as a torrent
    * broadcast — `None` when `src` is empty (no keys, nothing to probe).
    *
    * Eager and driver-blocking: the aggregation runs NOW (partial filters
    * OR-merge map-side; only fixed-size blobs cross the wire) and the blob
    * ships once per executor. A plan-literal embedding of the same bytes is
    * re-serialized into EVERY task binary of every consuming stage — fatal
    * for iterative consumers already at MB filters (measured driver-fatal at
    * 5 MB), impossible at the GB design point; hence the broadcast.
    *
    * Undersizing `expectedItems` only raises the false-positive share the
    * consumer must tolerate (both consumers in this repo eliminate FPs with
    * an exact join) — it never produces false negatives.
    *
    * LIFECYCLE IS THE CALLER'S: destroy the broadcast after the last
    * consuming action ([[CacheScope.handOverBroadcast]], which destroys it
    * after the first action scope-less or at `close()` with a scope) —
    * a leaked blob stays executor-resident for the session lifetime. */
  def buildKeyFilter(src: DataFrame, keyCol: String,
                     expectedItems: Long = 1L << 22,
                     fpp: Double = 0.01): Option[Broadcast[Array[Byte]]] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column, expression, inSession}
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"bad filter sizing: items=$expectedItems fpp=$fpp")
    val numBits = optimalNumBits(expectedItems, fpp)
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // the clone (and its fresh SessionState, ~0.1 s) is only needed when the
    // sizing actually exceeds the session's current ceilings — a filter that
    // fits plans identically on the caller's session with no conf touched
    val sessionConf = src.sparkSession.conf
    val buildSession =
      if (expectedItems <= sessionConf.get(itemsKey).toLong &&
          numBits <= sessionConf.get(bitsKey).toLong) src.sparkSession
      else {
        val cloned = src.sparkSession.newSession()
        cloned.conf.set(itemsKey,
          math.max(cloned.conf.get(itemsKey).toLong, expectedItems).toString)
        cloned.conf.set(bitsKey,
          math.max(cloned.conf.get(bitsKey).toLong, numBits).toString)
        cloned
      }
    val blob = inSession(buildSession, src)
      .select(column(new BloomFilterAggregate(
          expression(xxhash64(col(keyCol))),
          CatLit(expectedItems), CatLit(numBits))
        .toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    Option(blob).map(src.sparkSession.sparkContext.broadcast(_))
  }

  /** Probe column: true iff the filter MIGHT contain `key` (xxhash64 of the
    * value — same hashing as [[buildKeyFilter]]). No false negatives; false
    * positives at the built fpp. Codegen'd, so a `.where` on it rides inside
    * whole-stage codegen next to the scan it prunes. */
  def mightContain(bc: Broadcast[Array[Byte]], key: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column, expression}
    column(expressions.BloomProbeExpr(bc, expression(xxhash64(key))))
  }
}
