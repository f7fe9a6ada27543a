package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** The per-query ledger behind Profile and ShuffleAudit: one catalog query,
  * built and run through the noop sink, as one [[QueryLedger.Record]] of
  * phases, jobs and stages, bytes, driver gap, plan size and the classes
  * compiled for it.
  *
  * Optimize and plan are read off the end event of the write that ran;
  * forcing `optimizedPlan`/`executedPlan` first would time a second
  * planning pass. Spark opens the execution window before it plans, so
  * phases are split by their intervals, never by subtracting totals.
  *
  * Only jobs of the measurement's job group count, so a concurrent job of
  * another group stays out. Broadcast and cache-build jobs submitted during
  * the query inherit the caller's group, so they stay inside.
  *
  * Compiles are the exception: Spark counts generated-class compiles per
  * JVM, not per job, so `compiles` and `compileMs` are the JVM-wide
  * deltas over the measurement and include any other query's compiles
  * that overlap it. A warm query that keeps its generated code in Spark's
  * codegen cache (`spark.sql.codegen.cache.maxEntries`) compiles nothing.
  *
  * Attribution convention: SharedCaches materializes a registered lineage
  * during its FIRST consumer's construction (as Bench times it), so that
  * consumer's record absorbs the cache build's jobs, stages and bytes, in
  * the construct phase. Builds are map-only by design (scan → project →
  * cache); one that grew a shuffle would show up right there.
  */
object QueryLedger {

  /** Sums over tasks, but `peakExecMem` is the largest single-task peak:
    * the number that must fit a real executor's task slot. */
  final case class Bytes(shuffleWrite: Long, shuffleRead: Long, diskSpill: Long, memSpill: Long,
      input: Long, peakExecMem: Long) {
    def ratio: Double = if (input > 0) shuffleWrite.toDouble / input else 0.0
    def spill: Long = diskSpill + memSpill
    def +(o: Bytes): Bytes = Bytes(shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
      diskSpill + o.diskSpill, memSpill + o.memSpill, input + o.input, math.max(peakExecMem, o.peakExecMem))
  }
  private val NoBytes = Bytes(0, 0, 0, 0, 0, 0)

  /** A completed stage; `skew` is its slowest task's run time over the median's (1 ms floor). */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int, executorMs: Long, skew: Double, bytes: Bytes)

  /** Disjoint phase intervals in ms; they sum to the record's wall. */
  final case class Phases(construct: Long, optimize: Long, plan: Long, execute: Long, unattributed: Long)

  /** `compiles` and `compileMs` are JVM-wide (see the object's doc). */
  final case class Record(name: String, wallMs: Long, phases: Phases, jobs: Int, stages: Seq[Stage],
      bytes: Bytes, driverGapMs: Long, planNodes: Int, compiles: Long, compileMs: Long) {

    /** The phase line, then one line per stage. */
    def lines: Seq[String] = {
      val p = phases
      (s"[ledger] $name: wall ${sec(wallMs)} s = construct ${sec(p.construct)} + optimize ${sec(p.optimize)}" +
        s" + plan ${sec(p.plan)} + execute ${sec(p.execute)} + unattributed ${sec(p.unattributed)};" +
        s" driver gap ${sec(driverGapMs)} s; $jobs jobs, ${stages.size} stages, $planNodes plan nodes;" +
        s" $compiles compiles in ${sec(compileMs)} s") +:
        stages.map(x => s"[ledger]   stage ${x.id}: wall ${sec(x.wallMs)} s, ${x.tasks} tasks, executor " +
          s"${sec(x.executorMs)} s, skew ${r2(x.skew)}, shuffle write ${mb(x.bytes.shuffleWrite)} MB  ${x.name}")
    }

    /** One JSON object; times in seconds, bytes in MB. */
    def json: String = obj(
      "wall" -> sec(wallMs),
      "phases" -> obj("construct" -> sec(phases.construct), "optimize" -> sec(phases.optimize),
        "plan" -> sec(phases.plan), "execute" -> sec(phases.execute), "unattributed" -> sec(phases.unattributed)),
      "driver_gap" -> sec(driverGapMs), "plan_nodes" -> planNodes, "jobs" -> jobs,
      "compiles" -> compiles, "compile_ms" -> compileMs,
      "bytes" -> obj("sw_mb" -> mb(bytes.shuffleWrite), "sr_mb" -> mb(bytes.shuffleRead),
        "spill_mb" -> mb(bytes.spill), "in_mb" -> mb(bytes.input), "peak_task_mb" -> mb(bytes.peakExecMem)),
      "stages" -> stages.map(x => obj("id" -> x.id, "wall" -> sec(x.wallMs), "tasks" -> x.tasks,
        "exec" -> sec(x.executorMs), "skew" -> r2(x.skew), "sw_mb" -> mb(x.bytes.shuffleWrite),
        "spill_mb" -> mb(x.bytes.spill))).mkString("[", ",", "]"))
  }

  private def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  private def fmt(pattern: String, v: Double) = String.format(java.util.Locale.ROOT, pattern, Double.box(v))
  private def sec(ms: Long): String = fmt("%.3f", ms / 1e3)
  private def r2(v: Double): String = fmt("%.2f", v)
  private def mb(v: Long): String = fmt("%.2f", v / 1048576.0)

  /** Build catalog query `name` on `sfDir`, run it through the noop sink
    * (which evaluates every output column) and return its record. The bus
    * is drained before the listener detaches: no late task event leaks.
    */
  def measure(spark: SparkSession, sfDir: String, name: String): Record = {
    val build = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val l = new Listener(s"ledger-$name-${System.nanoTime()}")
    sc.addSparkListener(l)
    sc.setJobGroup(l.tag, s"ledger $name", interruptOnCancel = false)
    try {
      val (n0, ns0) = compiled
      val t0 = System.currentTimeMillis() // the clock Spark's events use
      val df = build(spark, sfDir)
      val t1 = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.currentTimeMillis()
      val (n1, ns1) = compiled
      org.apache.spark.sql.graft.shims.waitListenerBus(spark)
      l.record(name, t0, t1, t2, n1 - n0, (ns1 - ns0) / 1000000L)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** Generated classes compiled in this JVM so far, and their total
    * compile time in ns. Cache hits count in neither. */
  private def compiled: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private final class StageAcc {
    var info: Option[StageInfo] = None // set on completion
    val runMs = mutable.ArrayBuffer.empty[Long]
    var bytes = NoBytes
  }

  /** A root SQL execution of the group: its window, and from its end event
    * the optimize and plan intervals and optimized-plan size. */
  private final class Execution(val startMs: Long) {
    var endMs = 0L
    var optimize, plan = (0L, 0L)
    var nodes = 0
  }

  private final class Listener(val tag: String) extends SparkListener {
    private val jobs = mutable.Set.empty[Int]
    private val stages = mutable.LinkedHashMap.empty[Int, StageAcc]
    private val executions = mutable.LinkedHashMap.empty[Long, Execution]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      if (j.properties != null && tag == j.properties.getProperty("spark.jobGroup.id")) {
        jobs += j.jobId
        j.stageIds.foreach(stages.getOrElseUpdate(_, new StageAcc))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.info = Some(e.stageInfo))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) stages.get(t.stageId).foreach { a =>
        a.runMs += m.executorRunTime
        a.bytes += Bytes(m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.memoryBytesSpilled, m.inputMetrics.bytesRead, m.peakExecutionMemory)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case x: SparkListenerSQLExecutionStart
            if x.jobGroupId.contains(tag) && x.rootExecutionId.forall(_ == x.executionId) =>
          executions(x.executionId) = new Execution(x.time)
        case x: SparkListenerSQLExecutionEnd => executions.get(x.executionId).foreach { ex =>
          ex.endMs = x.time
          org.apache.spark.sql.graft.shims.executedQuery(x).foreach { qe =>
            val ph = qe.tracker.phases
            def span(k: String) = ph.get(k).fold((0L, 0L))(p => (p.startTimeMs, p.endTimeMs))
            ex.optimize = span("optimization")
            ex.plan = span("planning")
            // read a finished optimization only; never trigger one here
            if (ph.contains("optimization")) qe.optimizedPlan.foreach(_ => ex.nodes += 1)
          }
        }
        case _ =>
      }
    }

    /** The record of a query built over [t0, t1] whose write ran over
      * [t1, t2], compiling `compiles` classes in `compileMs`. The write is
      * the group's last root execution; earlier ones are cache builds
      * inside the construct phase.
      */
    def record(name: String, t0: Long, t1: Long, t2: Long,
        compiles: Long, compileMs: Long): Record = synchronized {
      val write = executions.values.filter(_.startMs >= t1).lastOption
      // each phase starts where the previous one ended, clipped to the wall
      var at = t1
      def take(iv: (Long, Long)): (Long, Long) = {
        val a = math.min(math.max(iv._1, at), t2)
        at = math.min(math.max(iv._2, a), t2)
        (a, at)
      }
      val Seq(opt, pln, exe) = write.fold(Seq((t1, t1), (t1, t1), (t1, t2)))(w =>
        Seq(w.optimize, w.plan, (w.startMs, w.endMs))).map(take)
      def len(iv: (Long, Long)) = iv._2 - iv._1
      val done = stages.toSeq.flatMap { case (id, a) =>
        a.info.map { i =>
          val (start, r) = (i.submissionTime.getOrElse(0L), a.runMs.sorted)
          val skew = if (r.isEmpty) 1.0 else r.last.toDouble / math.max(r(r.size / 2), 1L)
          (start, Stage(id, i.name.takeWhile(_ != '\n').take(90), i.completionTime.getOrElse(start) - start,
            i.numTasks, a.runMs.sum, skew, a.bytes))
        }
      }
      Record(name, t2 - t0,
        Phases(t1 - t0, len(opt), len(pln), len(exe), (t2 - t1) - len(opt) - len(pln) - len(exe)),
        jobs.size, done.map(_._2), stages.values.map(_.bytes).fold(NoBytes)(_ + _),
        len(exe) - covered(exe, done.map { case (start, st) => (start, start + st.wallMs) }),
        write.fold(0)(_.nodes), compiles, compileMs)
    }
  }

  /** Length of `window` covered by the union of `intervals`. */
  private[graft] def covered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = window._1
    intervals.map { case (a, b) => (math.max(a, window._1), math.min(b, window._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
