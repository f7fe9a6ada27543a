package perfbench

import graft.GraftSession
import graft.vlm.Ingest
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run inside one JVM: set up several times, run one
  * unmeasured warm-up pass on an input of `--warm-size` (JIT and
  * generated-code caches fill there; a cold pass varies by about 10% from
  * run to run), then measure passes, the first one always and
  * more while the next fits in `--seconds`, and write the raw record
  * (setup times, pass walls, spans, per-stage counts, outputs) as JSON.
  * Every derived figure is computed from that record by `perfbench/run.py`.
  * A traced run alternates untraced and traced passes, so the two are
  * compared at the same warmth and their difference is the tracing
  * overhead.
  *
  * Usage: perfbench.Main --workload <qa_frames|curate_docs> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --data <dir> --size <n>
  *   --warm-size <n> --out <file>
  */
object Main {
  val SetupReps = 5

  private def secs(ns: Long): Double = ns / 1e9

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Live heap in MB: the least occupancy after three full collections
    * 200 ms apart. Spark's context cleaner releases broadcast and shuffle
    * blocks asynchronously after a collection finds them unreachable, so
    * one collection sometimes left about 35 MB more behind.
    */
  private def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      Thread.sleep(200)
      used / (1024.0 * 1024.0)
    }.min

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val budgetS = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val size = opt("size").toInt
    val warmSize = opt("warm-size").toInt
    require(Set("qa_frames", "curate_docs")(workload), s"unknown workload $workload")

    // set-up: session start plus input staging, several times; the last
    // session is the one measured
    var spark: SparkSession = null
    val setup = (0 until SetupReps).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.getOrCreate()
      val t1 = System.nanoTime()
      workload match {
        case "qa_frames" =>
          val s = spark
          import s.implicits._
          Ingest.writeFrames(Frames.generate(size, seed).toDF(), s"$work/corpus_$r")
        case _ => // land the input table where the funnel reads it
          graft.Tables.documents(spark, opt("data")).write.mode("overwrite")
            .parquet(s"$work/documents.parquet")
      }
      val t2 = System.nanoTime()
      Map("session_s" -> secs(t1 - t0), "stage_s" -> secs(t2 - t1))
    }
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    val tracer = new Tracer(sc, trace)
    val corpus = s"$work/corpus_${SetupReps - 1}"

    def once(traced: Boolean, warm: Boolean = false): Outcome = {
      tracer.enabled = traced
      workload match {
        case "qa_frames" =>
          Workloads.qaFrames(spark, tracer, if (warm) s"$work/corpus_warm" else corpus, s"$work/qa_out")
        case _ => Workloads.curateDocs(spark, tracer, work, if (warm) warmSize else size,
          seed, s"$work/export")
      }
    }

    if (workload == "qa_frames") {
      val s = spark
      import s.implicits._
      Ingest.writeFrames(Frames.generate(warmSize, seed).toDF(), s"$work/corpus_warm")
    }
    val w0 = System.nanoTime()
    once(traced = false, warm = true).release()
    val warmupS = secs(System.nanoTime() - w0)

    val iterations = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var last: Outcome = null
    val start = System.nanoTime()
    var lastWall = 0.0
    def more = iterations.size < (if (trace) 2 else 1) ||
      secs(System.nanoTime() - start) + lastWall <= budgetS
    while (more) {
      val traced = trace && iterations.size % 2 == 1
      probe.settle(sc)
      val (run0, gc0) = (probe.runMs, gcMs)
      val (outcome, root) = tracer.iteration(iterations.size, workload)(once(traced))
      probe.settle(sc)
      lastWall = secs(root.endNs - root.startNs)
      iterations += Map("root" -> root.id, "traced" -> traced, "wall_s" -> lastWall,
        "executor_s" -> (probe.runMs - run0) / 1000.0, "gc_s" -> (gcMs - gc0) / 1000.0,
        "heap_mb" -> liveHeapMb())
      outcome.release()
      last = outcome
    }

    val stages = probe.synchronized(probe.stages.values.map(r => Map(
      "span" -> r.span, "start_ms" -> r.startMs, "end_ms" -> r.endMs, "task_ms" -> r.taskMs.toSeq,
      "shuffle_read" -> r.shuffleRead, "shuffle_write" -> r.shuffleWrite, "spill" -> r.spill,
      "out_bytes" -> r.outBytes)).toSeq)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "size" -> size,
      "cores" -> sc.defaultParallelism, "setup" -> setup, "warmup_s" -> warmupS,
      "iterations" -> iterations.toSeq,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
        "parent" -> s.parent, "iter" -> s.iter, "start_s" -> secs(s.startNs - start),
        "end_s" -> secs(s.endNs - start))).toSeq,
      "stages" -> stages,
      "job_spans" -> probe.synchronized(probe.jobs.toSeq),
      "outputs" -> last.outputs)
    val tmp = java.nio.file.Paths.get(opt("out") + ".tmp")
    java.nio.file.Files.writeString(tmp, Json(record))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(opt("out")),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }
}
