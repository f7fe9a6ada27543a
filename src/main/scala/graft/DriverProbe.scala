package graft

/** Dev probe: split a query's warm wall time into driver-side phases —
  * DataFrame construction+analysis, cache substitution + optimization,
  * physical planning, and execution — to attribute "no jobs running" gaps
  * (Profile showed v6 at ×10 spending ~4.5 s of a 4.9 s warm run outside
  * any Spark job).
  *
  *   runMain graft.DriverProbe <sfDir> <query>...
  */
object DriverProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = GraftSession.getOrCreate()
    // A/B knobs for attributing in-execution driver overhead
    sys.env.get("SPARK_GRAFT_PROBE_NOAQE").foreach(_ =>
      spark.conf.set("spark.sql.adaptive.enabled", "false"))
    sys.env.get("SPARK_GRAFT_PROBE_NOCODEGEN").foreach(_ =>
      spark.conf.set("spark.sql.codegen.wholeStage", "false"))
    sys.env.get("SPARK_GRAFT_PROBE_PLANLEN").foreach(v =>
      spark.conf.set("spark.sql.maxPlanStringLength", v))
    // NOTE: spark.shuffle.sort.bypassMergeThreshold is a STATIC conf — the
    // probe cannot change it on a running session; A/B it by editing
    // GraftSession.conf.
    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"[probe]   $label: ${(System.nanoTime - t0) / 1e9}%.2f s"); r
    }
    // per-stage attribution (SPARK_GRAFT_PROBE_STAGES=1): wall per stage,
    // task count, summed executor run time — the breakdown that separates
    // "few huge tasks" (parallelism collapse) from driver-side gaps
    if (sys.env.get("SPARK_GRAFT_PROBE_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val s = e.stageInfo
          val wall = (for (a <- s.completionTime; b <- s.submissionTime) yield (a - b) / 1e3)
            .getOrElse(-1.0)
          val run = s.taskMetrics.executorRunTime / 1e3
          println(f"[probe]     stage ${s.stageId}: wall $wall%.2f s run $run%.2f s " +
            f"${s.numTasks}t  ${s.name.take(90)}")
        }
      })
    names.foreach { name =>
      println(s"[probe] $name")
      // first full run warms caches/codegen so the second run isolates
      // steady-state driver overheads
      t("warm run (build+exec)") {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      (1 to 2).foreach { i =>
        println(s"[probe]  pass $i")
        val df = t("build (construct+analyze)")(SparkEntry.queries(name)(spark, sfDir))
        def nodes(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
          1 + p.children.map(c => nodes(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).sum
        println(s"[probe]   analyzed nodes: ${nodes(df.queryExecution.analyzed)}")
        t("withCachedData+optimize")(df.queryExecution.optimizedPlan)
        println(s"[probe]   optimized nodes: ${nodes(df.queryExecution.optimizedPlan)}")
        t("physical plan")(df.queryExecution.executedPlan)
        t("one explainString(formatted)") {
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).length
        }
        // sample every live thread during the execute to localize driver
        // time that no Spark job accounts for
        val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
        val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        val sampler = new Thread(() => {
          while (!done.get()) {
            Thread.getAllStackTraces.forEach { (th, st) =>
              if (st.nonEmpty && th.getState == Thread.State.RUNNABLE) {
                val frame = st.iterator.map(_.toString)
                  .find(f => f.contains("spark") || f.contains("catalyst"))
                  .getOrElse(st.head.toString)
                hist.merge(frame, 1, (a, b) => a + b)
              }
            }
            Thread.sleep(20)
          }
        })
        sampler.setDaemon(true); sampler.start()
        t("execute (noop)")(df.write.format("noop").mode("overwrite").save())
        done.set(true)
        import scala.jdk.CollectionConverters._
        hist.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (f, n) =>
          println(s"[probe]     $n  $f")
        }
      }
    }
    spark.stop()
  }
}
