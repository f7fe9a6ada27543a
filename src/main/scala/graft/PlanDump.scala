package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump the formatted physical plans of the flagship queries to a
  * markdown artifact (PLANS.md), so the scale-shape claims (broadcasts,
  * pushdown, no cartesian, single exchanges) are auditable without running
  * Spark. Regenerate after plan-affecting changes:
  *
  *   runMain graft.PlanDump /root/testdata/sf0.001 PLANS.md
  *   runMain graft.PlanDump <sfDir> <outDir> <tag> <query>...  (each query's
  *     FULL plan to `<outDir>/<name>_<tag>.txt`: before/after plan evidence)
  *
  * Both print the executing-JVM shape, shared caches materialized.
  */
object PlanDump {
  /** The queries whose plan shape carries the scale argument. */
  private val flagship = Seq(
    "q1_agg", "s1_scan_prune", "j1_broadcast_dim", "j_asof_recent_purchase",
    "d3_lsh_near_dup_pairs", "d8_scalable_dedup", "d10_hash_decontaminate",
    "t6_salient_terms", "t11_span_dedup", "t8_token_packing",
    "v1_knn_bruteforce", "v6_ivf_ann", "v10_ivfpq_ann", "v7_semdedup",
    "m7_domain_mix", "m8_key_skew_profile",
    "j_range_rewrite", "j_salted_skew_join", "t14_unigram_surprisal",
    "d12_edit_distance_verify",
    "t13_bpe_merge_candidates", "t16a_bpe_encode", "g22_ap_sweep",
    "g24_add_sym",
    "d16_contamination_fraction", "w8_user_rate_cap", "v12_cluster_balanced_sample",
    // round 12 — the incremental/MVCC shapes and the index-health rollup
    "u6_snapshot_delta", "u7_mvcc_read", "v20_centroid_drift")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val snapshot = args.length > 2
    require(!snapshot || args.length > 3, "usage: PlanDump <sfDir> <outDir> <tag> <query>...")
    val names = SparkEntry.queryNames(if (snapshot) args.drop(3).toSeq else flagship)
    val spark = GraftSession.getOrCreate()
    def formatted(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
    if (snapshot) {
      val dir = Files.createDirectories(Paths.get(args(1)))
      names.foreach { name =>
        val out = dir.resolve(s"${name}_${args(2)}.txt")
        Files.writeString(out, formatted(name))
        println(s"[plandump] $out")
      }
    } else markdown(sfDir, names.map(n => n -> formatted(n)), args.lift(1).getOrElse("PLANS.md"))
    spark.stop()
  }

  private def markdown(sfDir: String, plans: Seq[(String, String)], out: String): Unit = {
    val sb = new StringBuilder
    sb.append("# Flagship query plans (generated by `graft.PlanDump` — do not edit)\n\n")
    sb.append(s"Formatted physical plans at `$sfDir`, optimizer-initial (AQE re-plans at\n")
    sb.append("runtime only to improve these shapes: broadcast promotion, skew splits).\n\n")
    sb.append("Reading note: an `InMemoryTableScan` → `InMemoryRelation` block is a\n")
    sb.append("SharedCaches-registered table (dedup pipeline stages, the IVF codebook and\n")
    sb.append("corpus→cell assignment). Dedup caches print their ONE-TIME build lineage\n")
    sb.append("under the relation — per query only the cache read above it executes.\n")
    sb.append("Embedding caches are lineage-TRUNCATED (SharedCaches.getTruncated, r18):\n")
    sb.append("the relation wraps a `Scan ExistingRDD` leaf (an eager localCheckpoint of\n")
    sb.append("the one-time build), so their build lineage does not print at all — and,\n")
    sb.append("more to the point, is no longer re-walked by every AQE plan-update render.\n")
    plans.foreach { case (name, plan) =>
      // keep the tree (the shape); drop the per-node detail section
      val tree = plan.split("\n\n\\(1\\) ").head
      sb.append(s"\n## $name\n\n```\n").append(tree).append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb)
    println(s"[plandump] wrote ${plans.size} plans to $out")
  }
}
