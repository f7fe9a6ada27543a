package graft

import graft.vlm.SparkSpec
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The ledger's record is scoped to the measured query's job group, its
  * phases partition the wall, and its stage figures are not vacuous.
  */
class QueryLedgerSpec extends SparkSpec {

  // the sf0.01 fixture beside the session's corpus, for the reason
  // ShuffleAuditSpec gives: no suite releases its shared caches mid-run
  private val sf = new java.io.File(new java.io.File(SparkSpec.SessionDir).getParentFile, "sf0.01").getPath

  test("a shuffle job in another job group, run concurrently, stays out of the record") {
    val group = "ledger-negative-control"
    val marker = "graft.ledgerSpec.measured"
    val controlStages = ConcurrentHashMap.newKeySet[Int]()
    val (go, done, armed) = (new CountDownLatch(1), new CountDownLatch(1), new AtomicBoolean(true))
    val held = new AtomicBoolean(false)
    // On the measured query's first job, hold the listener bus until one
    // control job has run end to end: its events then reach the ledger's
    // listener while it is attached, so only the group filter keeps them out.
    val spy = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (j.properties != null) {
        if (group == j.properties.getProperty("spark.jobGroup.id")) j.stageIds.foreach(controlStages.add(_))
        else if (j.properties.getProperty(marker) != null && armed.compareAndSet(true, false)) {
          go.countDown()
          held.set(done.await(5, TimeUnit.SECONDS))
        }
      }
    }
    val control = new Thread(() => {
      spark.sparkContext.setJobGroup(group, "ledger negative control", interruptOnCancel = false)
      go.await()
      spark.sparkContext.parallelize(1 to 2000, 2).map(i => (i % 101, i)).reduceByKey(_ + _).collect()
      done.countDown()
    })
    control.setDaemon(true)
    control.start()
    spark.sparkContext.addSparkListener(spy)
    val rec =
      try {
        spark.sparkContext.setLocalProperty(marker, "1")
        QueryLedger.measure(spark, sf, "f2_range_filter")
      } finally {
        spark.sparkContext.setLocalProperty(marker, null)
        spark.sparkContext.removeSparkListener(spy)
        go.countDown() // never leave the control thread waiting
      }
    assert(held.get && !controlStages.isEmpty, "the control job did not run inside the window")
    assert(rec.bytes.shuffleWrite == 0 && rec.bytes.shuffleRead == 0,
      s"the map-only query's record holds another group's shuffle: ${rec.bytes}")
    val leaked = rec.stages.map(_.id).filter(controlStages.contains)
    assert(leaked.isEmpty, s"control stages in the record: ${leaked.mkString(", ")}")
  }

  test("phases are disjoint and, with the unattributed residual, sum to the wall") {
    val w0 = System.currentTimeMillis()
    val r = QueryLedger.measure(spark, sf, "j7_left_coalesce")
    val outer = System.currentTimeMillis() - w0
    val p = r.phases
    val parts = Seq(p.construct, p.optimize, p.plan, p.execute, p.unattributed)
    // the residual is the wall minus the other four, so it is negative
    // exactly when two phase intervals overlap
    assert(parts.forall(_ >= 0), s"negative phase: $p")
    assert(parts.sum == r.wallMs, s"$p does not sum to ${r.wallMs} ms")
    assert(r.wallMs <= outer, s"wall ${r.wallMs} ms exceeds the caller's $outer ms")
    // read from the write that ran: not vacuous
    assert(p.optimize + p.plan > 0 && p.execute > 0, s"$p")
    assert(r.planNodes > 1, s"${r.planNodes} plan nodes")
  }

  test("the driver gap lies within the execute phase") {
    for (n <- Seq("q1_agg", "m8_key_skew_profile")) {
      val r = QueryLedger.measure(spark, sf, n)
      assert(r.driverGapMs >= 0 && r.driverGapMs <= r.phases.execute,
        s"$n: gap ${r.driverGapMs} ms, execute ${r.phases.execute} ms")
    }
  }

  test("t11_span_dedup records a stage that ran tasks and wrote shuffle bytes") {
    val r = QueryLedger.measure(spark, sf, "t11_span_dedup")
    assert(r.jobs > 0)
    assert(r.stages.exists(s => s.tasks > 0 && s.bytes.shuffleWrite > 0), r.lines.mkString("\n"))
  }

  test("a query measured again compiles no class, and both records print their compiles") {
    val Seq(first, second) = Seq.fill(2)(QueryLedger.measure(spark, sf, "q1_agg"))
    assert(second.compiles == 0 && second.compileMs == 0, second.lines.head)
    for (r <- Seq(first, second))
      assert(r.json.contains(s""""compiles":${r.compiles},"compile_ms":${r.compileMs}""") &&
        r.lines.head.contains(s"${r.compiles} compiles"), r.json)
  }

  test("covered counts the union of intervals inside the window once") {
    val intervals = Seq((0L, 12L), (11L, 15L), (18L, 30L), (25L, 40L), (0L, 5L), (22L, 21L))
    assert(QueryLedger.covered((10L, 20L), intervals) == 7) // [10, 15] and [18, 20]
    assert(QueryLedger.covered((10L, 20L), Nil) == 0)
  }
}
