package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Spark-job budgets for hot paths on fixture-sized inputs. Wall time moves
  * with the host; the job count of a path does not, so a rise past a budget
  * is a regression a spec can catch. Each budget is the count measured when
  * it was set, and may only go down. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs `body` submits, counted under a fresh job group. The status
    * store is filled from the listener bus, so the bus is drained first:
    * a job whose start event is still queued would go uncounted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.sql.graftbridge.ListenerBus.drain(spark)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private lazy val chain = (1L until 40L).map(i => (i, i + 1)).toDF("a_id", "b_id")

  test("duplicateClusters on a 40-node chain: driver union-find, at most 3 jobs") {
    assert(jobsOf(Dedup.duplicateClusters(chain).collect()) <= 3)
  }

  test("connectedComponentsStar on a 40-node chain: at most 92 jobs") {
    assert(jobsOf(Dedup.connectedComponentsStar(chain).collect()) <= 92)
  }

  private def rawBatch(minute: Int) = Seq(
    (f"2017-01-11T00:$minute%02d:53.000Z", "news| Shark attacks spearfisherman", "127,206"),
    (f"2017-01-11T00:$minute%02d:59.000Z", "iPhone|Clips|Some Video", "206"),
    (f"2017-01-11T00:${minute + 1}%02d:02.000Z", "9news|Local|V3", "101,206"),
    (f"2017-01-11T00:${minute + 1}%02d:05.000Z", "JustOnePiece", "206")
  ).toDF("DateTime", "VideoTitle", "events")

  test("warm StarStore.runBatch: a second batch into a one-batch store, at most 38 jobs") {
    val store = graft.etl.StarStore(spark, tmpDir("job-budget-star"))
    assert(store.runBatch(rawBatch(0), "b1") === 3)
    assert(jobsOf(assert(store.runBatch(rawBatch(10), "b2") === 3)) <= 38)
  }

  test("StarStore.compact of a 3-delta store: at most 4 jobs") {
    val store = graft.etl.StarStore(spark, tmpDir("job-budget-star-compact"),
      autoCompactAfter = Int.MaxValue)
    for ((b, minute) <- Seq("b1" -> 0, "b2" -> 10, "b3" -> 20))
      assert(store.runBatch(rawBatch(minute), b) === 3)
    assert(jobsOf(assert(store.compact() === 3L)) <= 4)
  }

  /** A banded store written from 10 docs plus two 10-doc appends, each
    * from one partition: three part files. */
  private def threeFileServedStore(name: String): String = {
    val docs = (1L to 30L).map(i => (i, s"served store doc $i with words w${i % 7} and x$i"))
      .toDF("doc_id", "text")
    val dir = tmpDir(name)
    Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") <= 10).coalesce(1),
      "doc_id", "text", dir, numHashes = 8, cap = 2)
    for (lo <- Seq(11L, 21L))
      Dedup.minhashStoreBandedAppendAt(spark, dir,
        docs.where(col("doc_id") >= lo && col("doc_id") < lo + 10).coalesce(1),
        "doc_id", "text")
    assert(spark.read.parquet(dir).inputFiles.length === 3)
    dir
  }

  test("StoreMeta.compact of a 3-file served store: at most 3 jobs") {
    val dir = threeFileServedStore("job-budget-served")
    assert(jobsOf(assert(StoreMeta.compact(spark, dir) === 3L)) <= 3)
  }

  test("StoreMeta.delete of one id from a 3-file served store: at most 7 jobs") {
    val dir = threeFileServedStore("job-budget-served-delete")
    val rows = spark.read.parquet(dir).where(col("store_id") === 5L).count()
    assert(rows > 0)
    assert(jobsOf(assert(StoreMeta.delete(spark, dir, Seq(5L).toDF("id"),
      "store_id") === rows)) <= 7)
  }
}
