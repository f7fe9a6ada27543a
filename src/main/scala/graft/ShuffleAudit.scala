package graft

/** Runtime shuffle/spill ledger over the query catalog — the measured
  * counterpart to [[PlanContracts]]' static plan-shape audit.
  *
  * PlanContracts proves a query's plan LOOKS scale-safe (no cartesian
  * products, broadcasts where intended, pushed filters); this audit proves
  * what the plan actually DOES at runtime: bytes shuffled, bytes spilled,
  * bytes read, per query, summed from every task's TaskMetrics. The two
  * catch different regressions — a plan can keep its shape while a changed
  * upstream projection quietly doubles the shuffled payload width, and
  * only the byte ledger notices.
  *
  * Why this is the 100 TB question: on a 1000-executor cluster the
  * scarce resources are the shuffle fabric and executor memory. A query
  * whose shuffle-to-input ratio is 0.01 at sf0.1 stays cheap at any scale
  * (both sides grow linearly); a ratio near 1.0 means the job re-networks
  * the corpus — survivable for a one-off, a design bug in a daily
  * pipeline. And ANY disk spill at sf0.1 on a 24 GiB heap means the
  * per-partition working set is outgrowing the task slot — the config
  * (partition counts, AQE advisory sizes) is mis-fit and would OOM-thrash
  * long before 100 TB. The artifact records both per query; the
  * contracts (ShuffleAuditSpec) pin the invariants:
  *
  *   - the MAP-ONLY set (per-row scans/filters/screens — the operators
  *     deliberately built to touch no shuffle: broadcast-side screens
  *     d17/v13, per-doc text scans, pure filters) shuffles ZERO bytes;
  *   - nothing in the catalog spills, in memory or to disk;
  *   - the banded-join family (which MUST shuffle — its signature
  *     self-joins are the point) actually registers shuffle bytes, so a
  *     silent metrics regression can't fake the first two contracts.
  *
  * The bytes come from [[QueryLedger]], one record per query, under its
  * attribution convention (a query that first consumes a shared cache
  * absorbs the cache build). To see which stages a query's bytes come
  * from, run `graft.Profile <sfDir> <query>`: it prints the same record
  * stage by stage.
  *
  * Usage: runMain graft.ShuffleAudit [sfDir] [queryName...]
  * (defaults: SPARK_GRAFT_SF_DIR or sf0.1, full catalog). Artifact:
  * shuffle_audit_last.json.
  */
object ShuffleAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(GraftSession.defaultSfDir)
    val names = SparkEntry.queryNames(args.drop(1).toSeq)
    // sized for the audited dir, which may differ from the env's (the ×10
    // leg passes a synthesized corpus as args(0))
    val spark = GraftSession.getOrCreate(sfDir)
    def mb(v: Long) = math.rint(v / 1048576.0 * 100) / 100
    val rows = names.map { n => n -> QueryLedger.measure(spark, sfDir, n).bytes }
    val zero = rows.collect { case (n, b) if b.shuffleWrite == 0 => n }
    val spilled = rows.collect { case (n, b) if b.spill > 0 => n }
    val qjson = rows.map { case (n, b) =>
      s"""${Artifacts.jsonStr(n)}:{"sw_mb":${mb(b.shuffleWrite)},"in_mb":${mb(b.input)},"ratio":${math.rint(b.ratio * 1e4) / 1e4},"spill_mb":${mb(b.spill)},"peak_task_mb":${mb(b.peakExecMem)}}"""
    }.mkString("{", ",", "}")
    // preset+sf adjacent at the tail: the pair is the upsert identity, so
    // one artifact can carry sf0.1 AND capacity-×10 legs per preset
    val marker =
      s""""preset":${Artifacts.jsonStr(GraftConfig.activeName)},"sf":${Artifacts.jsonStr(sfDir)}"""
    val line =
      s"""{"metric":"shuffle_audit","n":${rows.size},"zero_shuffle":${zero.size},"spilled":${spilled.size},"spilled_queries":${spilled.map(Artifacts.jsonStr).mkString("[", ",", "]")},"total_shuffle_mb":${mb(rows.map(_._2.shuffleWrite).sum)},"total_input_mb":${mb(rows.map(_._2.input).sum)},"queries":$qjson,$marker}"""
    Artifacts.upsertLine(Artifacts.outPath("shuffle_audit_last.json"), marker, line)
    // compact stdout line (scrape-window discipline, see Bench.renderLines)
    println(s"""{"metric":"shuffle_audit","n":${rows.size},"zero_shuffle":${zero.size},"spilled":${spilled.size},"total_shuffle_mb":${mb(rows.map(_._2.shuffleWrite).sum)},"total_input_mb":${mb(rows.map(_._2.input).sum)},"sf":${Artifacts.jsonStr(sfDir)}}""")
    spark.stop()
  }
}
