package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Tracks frames (and checkpoint RDDs) persisted inside a multi-stage
  * operator so the caller can release them once the consuming action has
  * completed. Long-lived sessions that run curation repeatedly would
  * otherwise accumulate MEMORY_AND_DISK blocks indefinitely — persisted
  * intermediates are invisible to the caller and Spark never evicts them on
  * its own.
  *
  * Usage: pass a scope into [[Dedup.nearDuplicates]] /
  * [[Dedup.duplicateClusters]] / [[Curation.curate]] (the `scope` parameter),
  * run the action that consumes the result, then `scope.close()`. Closing is
  * safe once the consumer no longer needs the cached data — persisted frames
  * recompute from lineage if re-read; a checkpointed edge RDD of the star
  * connected-components rounds has no lineage, so labels it backs must not
  * be read after close.
  */
final class CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
  private val bcs =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]

  /** Register an already-persisted frame for later release. */
  def own[T <: Dataset[_]](df: T): T = synchronized { frames += df; df }

  /** Register persisted RDDs (e.g. a localCheckpoint's backing RDD). */
  def ownRdds(rs: Seq[RDD[_]]): Unit = synchronized { rdds ++= rs }

  /** Register an explicit broadcast (e.g. the bloom blob of
    * [[Dedup.newAgainstHistory]]) for destruction at close. Unlike frames,
    * a DESTROYED broadcast cannot be re-read — close only after the last
    * action that consumes the owning operator's result. */
  def ownBroadcast[T](bc: org.apache.spark.broadcast.Broadcast[T])
      : org.apache.spark.broadcast.Broadcast[T] = synchronized { bcs += bc; bc }

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
