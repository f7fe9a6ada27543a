package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer. `kind` says which layer the call belongs
  * to (scan, build, plan, execute, write); grouping spans carry "group" and
  * each measured iteration has one "iteration" root.
  */
final case class Span(id: Int, name: String, kind: String, parent: Int, iter: Int,
    startNs: Long, var endNs: Long = 0L)

/** Records spans in memory. Every job a span's body submits carries the
  * span id as a local property, so [[Probe]] can attribute its stages.
  * With tracing off only the iteration roots are recorded: the untraced
  * run times exactly the calls the program makes.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0
  private var iter = -1

  private def open[A](name: String, kind: String)(body: => A): (A, Span) = {
    val s = Span(spans.size + 1, name, kind, current, iter, System.nanoTime())
    spans += s
    val parent = current
    current = s.id
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      current = parent
      sc.setLocalProperty(Tracer.Prop, if (parent == 0) null else parent.toString)
    }
  }

  /** The root span of measured iteration `i`; recorded in both modes. */
  def iteration[A](i: Int, name: String)(body: => A): (A, Span) = {
    iter = i
    try open(name, "iteration")(body) finally iter = -1
  }

  def span[A](name: String, kind: String)(body: => A): A =
    if (enabled) open(name, kind)(body)._1 else body

  /** Work that exists only to place spans (a noop scan, forced plans). */
  def tracedOnly(body: => Unit): Unit = if (enabled) body
}

object Tracer { val Prop = "perfbench.span" }

/** Per-stage raw counts, attributed to the span whose job submitted it. */
final class StageRec(val span: Int) {
  var startMs = 0L
  var endMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
}

/** The benchmark's own listener: jobs and stages per span, and each task's
  * executor run time, shuffle, spill and output bytes. Derived figures
  * (self time, core use, skew) are computed from this raw record by the
  * benchmark's Python side.
  */
final class Probe extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[Int] // span id per job
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += spanOf(e.properties)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stages.getOrElseUpdate(key, new StageRec(spanOf(e.properties)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { r =>
      r.startMs = e.stageInfo.submissionTime.getOrElse(0L)
      r.endMs = e.stageInfo.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec(0))
    val m = e.taskMetrics
    if (m != null) {
      r.taskMs += m.executorRunTime
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Total executor run time so far, in ms. */
  def runMs: Long = synchronized(stages.valuesIterator.map(_.taskMs.sum).sum)

  def settle(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Minimal JSON rendering for the raw record (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
