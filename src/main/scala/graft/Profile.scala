package graft

/** Dev profiler: times individual queries (or all) at a given SF dir, cold
  * then warm, and records the WARM seconds to `profile_last.json`. The
  * cold sf0.1 bench is codegen-compile/JIT-order dominated (±4 s swings on
  * unchanged plans across rounds); the warm run2 numbers are the honest
  * per-query costs, so they are the artifact a regression argument should
  * cite. Run 2 is measured through [[QueryLedger]]: its record is printed
  * (phases, driver gap, classes compiled, one line per stage) and written
  * under `"ledger"`.
  *
  * Usage: runMain graft.Profile <sfDir> <queryName>...
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = SparkEntry.queryNames(args.drop(1).toSeq)
    val spark = GraftSession.getOrCreate()
    // warm the JVM/codegen once
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    // host-speed yardstick for cross-round comparison (see Artifacts.calibrate)
    val calib = Artifacts.calibrate(spark)
    println(f"[profile] calibration: $calib%.2f s")
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val records = names.map { n =>
      val t0 = System.nanoTime
      // noop sink evaluates every output column (count() would prune)
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[profile] $n (run1): ${(System.nanoTime - t0) / 1e9}%.2f s")
      val r = QueryLedger.measure(spark, sfDir, n)
      r.lines.foreach(println)
      r
    }
    val warm = records.map(r => r.name -> r.wallMs / 1e3)
    val qs = warm.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val ledger = records.map(r => Artifacts.jsonStr(r.name) + ":" + r.json).mkString("{", ",", "}")
    Artifacts.writeLine(Artifacts.outPath("profile_last.json"),
      s"""{"metric":"warm_total","value":${fmt(warm.map(_._2).sum)},"unit":"sec","calib":${fmt(calib)},"queries":$qs,"sf":"$sfDir","ledger":$ledger}""")
    spark.stop()
  }
}
