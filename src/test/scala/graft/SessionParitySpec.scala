package graft

import graft.vlm.SparkSpec

/** One session factory: the test session runs the product session's confs,
  * and no main builds a session of its own. One listener: every measuring
  * tool reads QueryLedger instead of attaching its own. Four env knobs:
  * everything else is a conf, a preset field or a command-line argument.
  * One bounds sampler: every range-bucket step samples in RangeBuckets.
  */
class SessionParitySpec extends SparkSpec {

  test("the test session holds every conf of GraftSession.conf") {
    val static = spark.sparkContext.getConf
    val diffs = GraftSession.conf(4, SparkSpec.SessionDir).toSeq.sorted.flatMap { case (k, want) =>
      val got = if (spark.conf.isModifiable(k)) spark.conf.getOption(k) else static.getOption(k)
      if (got.contains(want)) None else Some(s"$k: want $want, got ${got.getOrElse("<unset>")}")
    }
    assert(diffs.isEmpty, diffs.mkString("; "))
  }

  test("SparkSession.builder and SparkListener each have one home in src/main") {
    val sources = SourceScan.sources(new java.io.File("src/main/scala"))
    for ((pattern, home) <- Seq(
        """SparkSession\s*\.\s*builder""" -> "GraftSession.scala",
        """extends\s+[\w.]*SparkListener\b|new\s+[\w.]*SparkListener\s*\{|addSparkListener""" -> "QueryLedger.scala")) {
      val callers = sources.collect { case (name, src) if pattern.r.findFirstIn(src).isDefined => name }
      assert(callers == Seq(home), s"$pattern: ${callers.mkString(", ")}")
    }
  }

  test("range bounds are sampled in one place in src/main: RangeBuckets") {
    // Spark's own range exchange (Layout's repartitionByRange) is not a
    // second sampler written here, and is not matched
    val sampler = """\bRangePartitioner\b|\bdef\s+\w*[sS]ampleBounds\b|\.sketch\s*\(""".r
    val homes = SourceScan.sources(new java.io.File("src/main/scala"))
      .collect { case (name, src) if sampler.findFirstIn(src).isDefined => name }
    assert(homes == Seq("RangeBuckets.scala"), homes.mkString(", "))
  }

  test("src/main reads four env variables, each in README's knob table, and the artifact dir only in Artifacts") {
    val read = SourceScan.reads(SourceScan.sources(new java.io.File("src/main/scala")))
    assert(read.keySet == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "GRAFT_PRESET", "SPARK_GRAFT_OUT_DIR"),
      read.toSeq.sortBy(_._1).mkString("; "))
    assert(read("SPARK_GRAFT_OUT_DIR") == Set("Artifacts.scala"))
    val table = SourceScan.knobTable(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8"))
    assert(table == read.keySet, s"README knob table: ${table.toSeq.sorted.mkString(", ")}")
  }
}

/** The `.scala` files of a source tree, and which environment variables they read. */
object SourceScan {
  def sources(root: java.io.File): Seq[(String, String)] = {
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f).filter(_.getName.endsWith(".scala"))
    files(root).map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  /** Every name passed to `sys.env`/`System.getenv`, and every string
    * literal shaped like a graft knob (a name handed to a helper), mapped
    * to the files it appears in.
    */
  def reads(sources: Seq[(String, String)]): Map[String, Set[String]] = {
    val env = """(?:sys\.env|System\.getenv)\s*(?:\.\s*\w+\s*)?\(\s*"(\w+)"""".r
    val knob = """"((?:SPARK_)?GRAFT_\w+)"""".r
    sources.flatMap { case (file, src) =>
      (env.findAllMatchIn(src) ++ knob.findAllMatchIn(src)).map(_.group(1) -> file)
    }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
  }

  /** The variable names in the first column of README's knob table. */
  def knobTable(readme: String): Set[String] =
    """(?m)^\| `((?:SPARK_)?GRAFT_\w+)` \|""".r.findAllMatchIn(readme).map(_.group(1)).toSet
}
