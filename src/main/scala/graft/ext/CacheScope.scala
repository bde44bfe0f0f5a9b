package graft.ext

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}

/** Tracks frames, checkpoint RDDs and broadcasts persisted inside a
  * multi-stage operator so the caller can release them once the consuming
  * actions have completed. Long-lived sessions that run curation repeatedly
  * would otherwise accumulate MEMORY_AND_DISK blocks indefinitely —
  * persisted intermediates are invisible to the caller and Spark never
  * evicts them on its own.
  *
  * Usage: pass a scope into a persisting operator (the `scope` parameter of
  * [[Dedup.nearDuplicates]], [[Dedup.duplicateClusters]], [[Curation.curate]]
  * and the rest), run every action that consumes the result, then
  * `scope.close()`. Closing is safe once the consumer no longer needs the
  * cached data — persisted frames recompute from lineage if re-read;
  * checkpointed RDDs and destroyed broadcasts do not, so results they back
  * must not be read after close.
  *
  * The lifetime rule — one owner for every cache, applied by the companion:
  * an operator hands each cache it persists over exactly once, against the
  * frame its public entry point returns, through [[CacheScope.handOver]],
  * [[CacheScope.handOverRdds]] or [[CacheScope.handOverBroadcast]]. With a
  * scope the scope owns it until `close()`, across any number of actions.
  * Without one it is released when the first action that reads the
  * returned frame completes (success or failure). The trigger is always
  * the returned frame, never an intermediate an internal eager job (a
  * sizing count, a checkpoint) reads first: the listener bus is
  * asynchronous, and such a job's completion event could arrive after the
  * listener registers and release the cache before the caller's action.
  *
  * The one exception: the final checkpoint of the star connected-components
  * rounds ([[Dedup.connectedComponentsStar]], and [[Dedup.duplicateClusters]]
  * past its driver budget) stays persisted for the session when there is no
  * scope ([[CacheScope.handOverCheckpoint]]). The labels read it lazily and
  * it has no lineage, so releasing it after the first action would make a
  * second action over the labels fail.
  */
final class CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
  private val bcs = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]

  /** Register an already-persisted frame for later release. */
  def own[T <: Dataset[_]](df: T): T = synchronized { frames += df; df }

  /** Register persisted RDDs (e.g. a localCheckpoint's backing RDD). */
  def ownRdds(rs: Seq[RDD[_]]): Unit = synchronized { rdds ++= rs }

  /** Register an explicit broadcast (e.g. the bloom blob of
    * [[Dedup.newAgainstHistory]]) for destruction at close. Unlike frames,
    * a DESTROYED broadcast cannot be re-read — close only after the last
    * action that consumes the owning operator's result. */
  def ownBroadcast[T](bc: Broadcast[T]): Broadcast[T] =
    synchronized { bcs += bc; bc }

  /** Unpersist every owned frame and RDD, destroy every owned broadcast
    * (idempotent). */
  def close(blocking: Boolean = false): Unit = synchronized {
    frames.foreach(_.unpersist(blocking))
    frames.clear()
    rdds.foreach(_.unpersist(blocking))
    rdds.clear()
    bcs.foreach(_.destroy())
    bcs.clear()
  }
}

/** The one place that decides when an operator's caches are released (see
  * the rule on [[CacheScope]]). Each call takes the caller's scope (null
  * for none), the frame the operator returns, and what it persisted; null
  * entries (a cache persisted only on some paths) are skipped. Each returns
  * `result`, so an operator can end with the call. */
object CacheScope {

  /** Hand persisted frames over to `scope`, or release them after the first
    * action that reads `result`. */
  def handOver(scope: CacheScope, result: DataFrame,
               frames: Dataset[_]*): DataFrame = {
    val live = frames.filter(_ != null)
    if (scope != null) live.foreach(scope.own(_))
    else if (live.nonEmpty) onFirstAction(result)(live.foreach(_.unpersist(false)))
    result
  }

  /** [[handOver]] for persisted RDDs (e.g. the InternalRow checkpoints of
    * the iterative operators, which `Dataset.unpersist` cannot reach). */
  def handOverRdds(scope: CacheScope, result: DataFrame,
                   rdds: RDD[_]*): DataFrame = {
    val live = rdds.filter(_ != null)
    if (scope != null) scope.ownRdds(live)
    else if (live.nonEmpty) onFirstAction(result)(live.foreach(_.unpersist(false)))
    result
  }

  /** [[handOver]] for a broadcast: destroyed at `scope.close()`, or after
    * the first action that reads `result`. A destroyed broadcast does not
    * recompute, so a scope-less result is single-consumption — a second
    * action racing the release at worst fails loudly, never silently
    * wrong. */
  def handOverBroadcast(scope: CacheScope, result: DataFrame,
                        bc: Broadcast[_]): DataFrame = {
    if (scope != null) scope.ownBroadcast(bc)
    else onFirstAction(result)(bc.destroy())
    result
  }

  /** The documented exception to the rule: a lineage-less final checkpoint
    * that the returned labels read lazily. A scope owns it; without one it
    * stays persisted for the session. */
  def handOverCheckpoint(scope: CacheScope, rdd: RDD[_]): Unit =
    if (scope != null) scope.ownRdds(Seq(rdd))

  /** Run `release` exactly once, when the first Dataset action containing
    * `trigger`'s plan completes (success or failure), then unregister. A
    * result that is built but never acted on keeps its listener and its
    * caches for the session — callers that may abandon results should
    * pass a scope, whose `close()` releases unconditionally. */
  private def onFirstAction(trigger: DataFrame)(release: => Unit): Unit = {
    import org.apache.spark.sql.execution.QueryExecution
    val spark = trigger.sparkSession
    val target = trigger.queryExecution.analyzed
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      // `analyzed` is pre-cache-substitution, so the trigger frame's plan
      // appears verbatim as a subtree of any consuming query.
      private def maybeRelease(qe: QueryExecution): Unit =
        if (qe.analyzed.exists(_.sameResult(target)) &&
            released.compareAndSet(false, true)) {
          release
          spark.listenerManager.unregister(this)
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = maybeRelease(qe)
    })
  }
}
