package graft.ext

import graft.SparkSpec

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
}
