package graft

/** Single-line JSON artifacts for the drivers (bench / demo throughput).
  * The harness previously scraped these numbers from a ~2000-char stderr
  * tail, which decapitated long lines and left bench records unparsed;
  * writing the line to a stable file makes each round's numbers a durable,
  * regression-diffable artifact.
  */
object Artifacts {
  /** Where a main's record named `name` goes: under `SPARK_GRAFT_OUT_DIR`,
    * else the working directory. The one setting for every main, so
    * records of two presets or corpora are kept apart by running each in
    * its own directory, not by one variable per file.
    */
  def outPath(name: String): String = outPath(name, sys.env.get("SPARK_GRAFT_OUT_DIR"))

  private[graft] def outPath(name: String, dir: Option[String]): String =
    dir.filter(_.nonEmpty).fold(name)(d => java.nio.file.Paths.get(d, name).toString)

  /** `path`, its directory created if missing. */
  private def prepared(path: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    p
  }

  /** Write `line` (one JSON object) to `path`, overwriting. Failures warn
    * and never kill the run — the artifact is a recording, not a gate.
    */
  def writeLine(path: String, line: String): Unit =
    try java.nio.file.Files.write(prepared(path), (line + "\n").getBytes("UTF-8"))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[artifact] write $path failed: ${e.getMessage}")
    }

  /** Upsert one JSON line into a multi-line artifact: drop any existing
    * line containing `marker` (e.g. the preset key), then append `line`.
    * Re-runs thus REPLACE their own prior record instead of accumulating
    * stale lines a consumer would pick between nondeterministically —
    * the file stays canonical: at most one line per marker.
    */
  def upsertLine(path: String, marker: String, line: String): Unit =
    upsertWhere(path, _.contains(marker), line)

  /** As [[upsertLine]], for a record whose identity is not one substring:
    * drop every existing line `same` accepts, then append `line`.
    */
  def upsertWhere(path: String, same: String => Boolean, line: String): Unit =
    try {
      val p = prepared(path)
      val kept =
        if (java.nio.file.Files.exists(p))
          scala.jdk.CollectionConverters.ListHasAsScala(java.nio.file.Files.readAllLines(p))
            .asScala.filterNot(l => same(l) || l.trim.isEmpty).toSeq
        else Seq.empty
      java.nio.file.Files.write(p, ((kept :+ line).mkString("\n") + "\n").getBytes("UTF-8"))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[artifact] upsert $path failed: ${e.getMessage}")
    }

  /** JSON string literal (quotes included): interpolating a path or env
    * value raw into an artifact line produces invalid JSON the moment the
    * value contains a quote or backslash.
    */
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Host-speed calibration: a fixed pure-CPU job (2B xxhash64 reduced by bit_xor, no
    * I/O, no shuffle beyond the one partial-agg exchange) timed on its
    * second run (the first absorbs its own codegen/JIT). Cross-round
    * per-query comparisons divide by this — round-over-round swings on
    * unchanged plans have measured up to ±30% from host contention alone,
    * indistinguishable from a real regression without a yardstick.
    */
  def calibrate(spark: org.apache.spark.sql.SparkSession): Double = {
    val slices = spark.sparkContext.defaultParallelism
    // bit_xor, not sum: 2B hash sums overflow BIGINT under ANSI mode
    def run(): Unit = spark.range(0, 2000000000L, 1, slices)
      .selectExpr("xxhash64(id) AS h").selectExpr("bit_xor(h)").collect()
    run()
    val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
  }
}
