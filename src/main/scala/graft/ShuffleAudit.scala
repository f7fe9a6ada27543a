package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Runtime shuffle/spill ledger over the query catalog — the measured
  * counterpart to [[PlanContracts]]' static plan-shape audit.
  *
  * PlanContracts proves a query's plan LOOKS scale-safe (no cartesian
  * products, broadcasts where intended, pushed filters); this audit proves
  * what the plan actually DOES at runtime: bytes shuffled, bytes spilled,
  * bytes read, per query, summed from every task's TaskMetrics. The two
  * catch different regressions — a plan can keep its shape while a changed
  * upstream projection quietly doubles the shuffled payload width, and
  * only the byte ledger notices.
  *
  * Why this is the 100 TB question: on a 1000-executor cluster the
  * scarce resources are the shuffle fabric and executor memory. A query
  * whose shuffle-to-input ratio is 0.01 at sf0.1 stays cheap at any scale
  * (both sides grow linearly); a ratio near 1.0 means the job re-networks
  * the corpus — survivable for a one-off, a design bug in a daily
  * pipeline. And ANY disk spill at sf0.1 on a 24 GiB heap means the
  * per-partition working set is outgrowing the task slot — the config
  * (partition counts, AQE advisory sizes) is mis-fit and would OOM-thrash
  * long before 100 TB. The artifact records both per query; the
  * contracts (ShuffleAuditSpec) pin the invariants:
  *
  *   - the MAP-ONLY set (per-row scans/filters/screens — the operators
  *     deliberately built to touch no shuffle: broadcast-side screens
  *     d17/v13, per-doc text scans, pure filters) shuffles ZERO bytes;
  *   - nothing in the catalog spills, in memory or to disk;
  *   - the banded-join family (which MUST shuffle — its signature
  *     self-joins are the point) actually registers shuffle bytes, so a
  *     silent metrics regression can't fake the first two contracts.
  *
  * Attribution convention: SharedCaches materializes a registered lineage
  * during the FIRST consumer's construction (same convention as Bench
  * timings), so that consumer's row absorbs the cache build's bytes. All
  * registered builds are map-only by design (scan → project → cache), so
  * this does not perturb the zero-shuffle contract — and if a cache build
  * ever grew a shuffle, showing up in its first consumer's ledger row is
  * exactly the visibility we want.
  *
  * Usage: runMain graft.ShuffleAudit [sfDir] [queryName...]
  * (defaults: SPARK_GRAFT_SF_DIR or sf0.1, full catalog). Artifact:
  * shuffle_audit_last.json (override SPARK_GRAFT_SHUFFLE_OUT).
  */
object ShuffleAudit {

  /** Byte totals for one measured query. All sums over completed tasks;
    * peakExecMem is the MAX single-task execution-memory peak — the
    * number that must fit a task slot on a real executor.
    */
  final case class QueryBytes(
      shuffleWrite: Long,
      shuffleRead: Long,
      diskSpill: Long,
      memSpill: Long,
      input: Long,
      peakExecMem: Long) {
    def ratio: Double = if (input > 0) shuffleWrite.toDouble / input else 0.0
  }

  /** Task-metrics accumulator, scoped to ONE job group. Thread-safe: the
    * listener bus delivers events on its own thread while the query's
    * action blocks the caller. The job-group scoping is what makes the
    * measurement correct under concurrent Spark activity (sbt runs test
    * suites in parallel inside one JVM — an unscoped listener counts
    * whatever another suite happens to shuffle into this query's window):
    * only tasks of stages belonging to jobs tagged with `tag` are
    * counted. Broadcast-exchange and shared-cache-build jobs submitted
    * during the measured query inherit the caller's thread-local job
    * group, so they stay inside the window by construction.
    */
  private final class MetricsListener(tag: String) extends SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val sw = new java.util.concurrent.atomic.LongAdder
    private val sr = new java.util.concurrent.atomic.LongAdder
    private val ds = new java.util.concurrent.atomic.LongAdder
    private val ms = new java.util.concurrent.atomic.LongAdder
    private val in = new java.util.concurrent.atomic.LongAdder
    private val pk = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (j.properties != null && tag == j.properties.getProperty("spark.jobGroup.id"))
        j.stageIds.foreach(id => stages.add(id))
    // SPARK_GRAFT_AUDIT_DEBUG=1: per-stage attribution for chasing where
    // a query's bytes come from (stage name ≈ the callsite that ran it)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      if (sys.env.get("SPARK_GRAFT_AUDIT_DEBUG").contains("1")
          && stages.contains(sc.stageInfo.stageId)) {
        val m = sc.stageInfo.taskMetrics
        if (m != null && m.shuffleWriteMetrics.bytesWritten > 0)
          println(s"[audit-debug] $tag stage ${sc.stageInfo.stageId} " +
            s"sw=${m.shuffleWriteMetrics.bytesWritten} ${sc.stageInfo.name.takeWhile(_ != '\n').take(120)}")
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null && stages.contains(t.stageId)) {
        sw.add(m.shuffleWriteMetrics.bytesWritten)
        sr.add(m.shuffleReadMetrics.totalBytesRead)
        ds.add(m.diskBytesSpilled)
        ms.add(m.memoryBytesSpilled)
        in.add(m.inputMetrics.bytesRead)
        pk.accumulateAndGet(m.peakExecutionMemory, Math.max(_: Long, _: Long))
      }
    }
    def snapshot: QueryBytes =
      QueryBytes(sw.sum, sr.sum, ds.sum, ms.sum, in.sum, pk.get)
  }

  /** Run one catalog query under a fresh listener and return its byte
    * totals. The listener bus is drained before detaching so late
    * TaskEnd events can't leak into the next query's window.
    */
  def measure(spark: SparkSession, sfDir: String, name: String): QueryBytes = {
    val tag = s"shuffle-audit-$name-${System.nanoTime()}"
    val l = new MetricsListener(tag)
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(tag, s"shuffle-audit $name", interruptOnCancel = false)
    try {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graft.shims.waitListenerBus(spark)
      l.snapshot
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(GraftSession.defaultSfDir)
    val names =
      if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // sized for the audited dir, which may differ from the env's (the ×10
    // leg passes a synthesized corpus as args(0))
    val spark = GraftSession.getOrCreate(sfDir)
    def mb(v: Long) = math.rint(v / 1048576.0 * 100) / 100
    val rows = names.map { n => n -> measure(spark, sfDir, n) }
    val zero = rows.collect { case (n, b) if b.shuffleWrite == 0 => n }
    val spilled = rows.collect { case (n, b) if b.diskSpill + b.memSpill > 0 => n }
    val qjson = rows.map { case (n, b) =>
      s"""${Artifacts.jsonStr(n)}:{"sw_mb":${mb(b.shuffleWrite)},"in_mb":${mb(b.input)},"ratio":${math.rint(b.ratio * 1e4) / 1e4},"spill_mb":${mb(b.diskSpill + b.memSpill)},"peak_task_mb":${mb(b.peakExecMem)}}"""
    }.mkString("{", ",", "}")
    // preset+sf adjacent at the tail: the pair is the upsert identity, so
    // one artifact can carry sf0.1 AND capacity-×10 legs per preset
    val marker =
      s""""preset":${Artifacts.jsonStr(sys.env.getOrElse("GRAFT_PRESET", "demo"))},"sf":${Artifacts.jsonStr(sfDir)}"""
    val line =
      s"""{"metric":"shuffle_audit","n":${rows.size},"zero_shuffle":${zero.size},"spilled":${spilled.size},"spilled_queries":${spilled.map(Artifacts.jsonStr).mkString("[", ",", "]")},"total_shuffle_mb":${mb(rows.map(_._2.shuffleWrite).sum)},"total_input_mb":${mb(rows.map(_._2.input).sum)},"queries":$qjson,$marker}"""
    Artifacts.upsertLine(
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_OUT", "shuffle_audit_last.json"), marker, line)
    // compact stdout line (scrape-window discipline, see Bench.renderLines)
    println(s"""{"metric":"shuffle_audit","n":${rows.size},"zero_shuffle":${zero.size},"spilled":${spilled.size},"total_shuffle_mb":${mb(rows.map(_._2.shuffleWrite).sum)},"total_input_mb":${mb(rows.map(_._2.input).sum)},"sf":${Artifacts.jsonStr(sfDir)}}""")
    spark.stop()
  }
}
