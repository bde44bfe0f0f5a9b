package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-prefiltered equi-join — the runtime-filter join capability made
  * explicit, for the build-side size class where neither a broadcast join
  * nor Spark's own injected filter helps.
  *
  * The regime: the build side is too big to broadcast as ROWS (tens of
  * millions of keys and up — a sort-merge/shuffle-hash join is forced, so
  * the probe side pays a full shuffle), but its BLOOM FILTER is small
  * enough to ship (120 MB at 10⁸ keys / 1 % fpp). Probing the filter BEFORE
  * the probe side's exchange drops the never-matching fraction at scan
  * time — on a selective join over 100 TB that is the difference between
  * shuffling the matching sliver and shuffling the corpus. Spark's own
  * adaptive bloom runtime filter exists for exactly this, but it is
  * heuristic-gated and CEILINGED at 4M items / 8 MB
  * (`spark.sql.optimizer.runtime.bloomFilter.*` defaults) — beyond that it
  * silently saturates; [[Bloom.buildKeyFilter]] sizes to the caller's
  * stated cardinality instead (raising ceilings on a cloned session).
  *
  * Exactness is free: the bloom has NO false negatives, and every false
  * positive it lets through is eliminated by the exact equi-join that
  * follows. The result is row-identical to the plain join for every
  * supported join type.
  */
object BloomJoin {

  /** `probe ⋈ build` on `key`, with the probe side bloom-prefiltered.
    *
    * Join types (probe-side-filtering-safe only):
    *  - `inner` / `left_semi`: bloom-negative probe rows provably have no
    *    match and are dropped before the exchange; survivors join exactly.
    *  - `left_anti`: the complement shape — bloom-NEGATIVE rows are
    *    provably unmatched and BYPASS the join entirely (straight into the
    *    result, zero shuffle); only bloom-positive rows (true matches + the
    *    fpp share) cross the exchange for the exact anti-join. On a
    *    mostly-new probe this shrinks the anti-join to the duplicate
    *    sliver — the [[Dedup.newAgainstHistory]] idea as a general join.
    *  - left/right/full OUTER are rejected: outer semantics keep unmatched
    *    rows WITH the other side's columns nulled, so dropping or bypassing
    *    probe rows changes the output shape, not just the route.
    *
    * `expectedBuildItems`/`fpp` size the filter from the BUILD side's key
    * cardinality (see [[Bloom.buildKeyFilter]] — undersizing only raises
    * the pass-through share, never breaks exactness). An empty build side
    * degrades to the plain join (which is then trivially cheap).
    *
    * Broadcast lifecycle matches [[Dedup.newAgainstHistory]]: scope-less,
    * the filter blob is destroyed after the FIRST action consuming the
    * result (single-consumption frame — persist it or pass a [[CacheScope]]
    * to consume more than once).
    *
    * When NOT to use: a build side under the broadcast threshold — the
    * planner's broadcast join already avoids the probe shuffle entirely,
    * and a bloom adds pure overhead. This operator is for the
    * bigger-than-broadcast, smaller-than-probe middle. */
  def prefilteredEquiJoin(probe: DataFrame, build: DataFrame, key: String,
                          joinType: String = "inner",
                          expectedBuildItems: Long = 1L << 22,
                          fpp: Double = 0.01,
                          scope: CacheScope = null): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "leftsemi", "leftanti").contains(jt),
      s"bloom prefilter preserves only inner/left_semi/left_anti, not $joinType")
    Bloom.buildKeyFilter(build, key, expectedBuildItems, fpp) match {
      case None => probe.join(build, Seq(key), joinType)
      case Some(blobBc) =>
        val might = Bloom.mightContain(blobBc, col(key))
        val result = jt match {
          case "leftanti" =>
            // NOT-might is a provable non-match; `might` is null only for a
            // null key, which an equi-anti-join also always keeps
            probe.where(not(coalesce(might, lit(false))))
              .unionByName(probe.where(coalesce(might, lit(false)))
                .join(build, Seq(key), "left_anti"))
          case _ =>
            probe.where(might).join(build, Seq(key), joinType)
        }
        CacheScope.handOverBroadcast(scope, result, blobBc)
    }
  }
}
