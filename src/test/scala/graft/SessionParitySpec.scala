package graft

import graft.vlm.SparkSpec

/** One session factory: the test session runs the product session's confs,
  * and no main builds a session of its own. One listener: every measuring
  * tool reads QueryLedger instead of attaching its own.
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
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f).filter(_.getName.endsWith(".scala"))
    val sources = files(root).map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    for ((pattern, home) <- Seq(
        """SparkSession\s*\.\s*builder""" -> "GraftSession.scala",
        """extends\s+[\w.]*SparkListener\b|new\s+[\w.]*SparkListener\s*\{|addSparkListener""" -> "QueryLedger.scala")) {
      val callers = sources.collect { case (name, src) if pattern.r.findFirstIn(src).isDefined => name }
      assert(callers == Seq(home), s"$pattern: ${callers.mkString(", ")}")
    }
  }

  test("boolean env knobs take exactly true or false, and name the variable otherwise") {
    assert(!GraftSession.envFlag("SPARK_GRAFT_PREFER_SMJ", None))
    assert(GraftSession.envFlag("SPARK_GRAFT_PREFER_SMJ", Some("true")))
    assert(!GraftSession.envFlag("SPARK_GRAFT_PREFER_SMJ", Some("false")))
    for (bad <- Seq("1", "0", "TRUE", "yes", "")) {
      val e = intercept[RuntimeException](GraftSession.envFlag("SPARK_GRAFT_PREFER_SMJ", Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_PREFER_SMJ") && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
