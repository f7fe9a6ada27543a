package graft

import graft.vlm.SparkSpec
import org.apache.spark.sql.graft.shims

/** The driver's status store stays inside [[GraftSession.statusStoreCaps]]
  * however many queries a session runs, and still reports live jobs.
  */
class StatusStoreCapSpec extends SparkSpec {

  test("after more queries than the cap, the status store holds at most the cap; live jobs stay visible") {
    val cap = GraftSession.statusStoreCaps("spark.sql.ui.retainedExecutions").toLong
    val sc = spark.sparkContext
    // a job that stays running until released, on one of the session's cores
    val running = new Thread(() => {
      sc.parallelize(Seq(1), 1).foreach(_ => StatusStoreCapSpec.release.await())
    })
    running.start()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getActiveJobIds.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    val liveJob = sc.statusTracker.getActiveJobIds.toSeq
    assert(liveJob.size == 1)
    try {
      (1 to (3 * cap).toInt).foreach(i => spark.range(i).selectExpr("sum(id)").collect())
      shims.waitListenerBus(spark)
      // eviction runs on the store's own thread once a count passes its cap
      while (shims.statusStoreExecutions(spark) > cap && System.nanoTime() < deadline) Thread.sleep(20)
      assert(shims.statusStoreExecutions(spark) <= cap)
      assert(sc.statusTracker.getActiveJobIds.toSeq == liveJob)
      assert(sc.statusTracker.getJobInfo(liveJob.head).isDefined)
    } finally {
      StatusStoreCapSpec.release.countDown()
      running.join()
    }
    shims.waitListenerBus(spark)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
  }
}

object StatusStoreCapSpec {
  val release = new java.util.concurrent.CountDownLatch(1)
}
