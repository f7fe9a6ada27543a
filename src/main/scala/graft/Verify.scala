package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The queries a dump covers: the optional comma-separated `filter`
    * (for iterating on a few queries), else the whole catalog. An
    * unknown name fails before anything runs — dropping it would dump
    * nothing and leave an empty oracle_sql.json that checks green.
    */
  private[graft] def selection(filter: Option[String]): Set[String] =
    SparkEntry.queryNames(filter.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)).toSet

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names = selection(args.lift(2))
    // the product session, so the oracle checks the plans that ship
    val spark = GraftSession.getOrCreate(sfDir)
    new java.io.File(outDir).mkdirs()
    // A failed query must surface as a RED row in the driver's compare, not
    // as a silently-missing key (round 7 lost 28 queries to absence): write
    // a sentinel single-row result whose schema can never match any oracle,
    // and collect the messages into errors.json for humans.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => names(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        // The sentinel write itself can throw on session-fatal failures
        // (stopped context, OOM, full disk); it must not abort the rest of
        // the catalog dump — errors.json still records the query.
        try {
          import spark.implicits._
          Seq(s"QUERY BUILD FAILED: $msg").toDF("graft_query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write also failed: " +
            Option(e2.getMessage).getOrElse(e2.getClass.getName))
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    try Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    catch { case e: Throwable =>
      System.err.println(s"[verify] errors.json write failed: ${e.getMessage}")
    }
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
