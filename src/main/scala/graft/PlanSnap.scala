package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write the FULL `explain("formatted")` output of the named
  * catalog queries to `<outDir>/<name>_<tag>.txt` — one file per query, the
  * before/after plan evidence an optimization round commits alongside its
  * claims (unlike [[PlanDump]], which keeps only the tree of a fixed
  * flagship list).
  *
  *   runMain graft.PlanSnap <sfDir> <outDir> <tag> <queryName>...
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanSnap <sfDir> <outDir> <tag> <query>...")
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = args.drop(3).toSeq
    val spark = GraftSession.getOrCreate()
    // plan-only inspection by default: skip the shared-cache
    // materialization jobs. SPARK_GRAFT_PLANSNAP_EXEC=1 keeps them on so
    // the dump shows the EXECUTING-JVM shape — needed for queries whose
    // registered caches are lineage-truncated (SharedCaches.getTruncated):
    // plan-only mode registers the raw lineage instead and would print a
    // tree no executing session ever runs.
    if (!sys.env.get("SPARK_GRAFT_PLANSNAP_EXEC").contains("1"))
      graft.queries.SharedCaches.eagerMaterialize = false
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plansnap] $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
