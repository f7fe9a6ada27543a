package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator inventory from SURVEY.md §2, re-expressed over the
  * driver's TPC-H-ish tables (frames ↔ fact table, bboxes ↔ child rows).
  * Each query keeps the *shape* of the reference operator it validates
  * (citations in each doc string) while staying fully Catalyst-optimizable:
  * filters and projections push to the parquet scan, small dimensions are
  * broadcast, aggregations are partial (map-side combine), and every window
  * is partitioned by a high-cardinality key so no stage is single-threaded
  * at 100 TB.
  */
object RelationalQueries extends QueryModule {

  /** Exact, order-independent aggregation of 2-decimal doubles. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Per-row exact scaled integer: round to `scale` decimals (decimal cast,
    * HALF_UP on both engines), shift the point, emit BIGINT. Summing these
    * longs is exact and order-independent — same guarantee as a decimal sum,
    * cheaper at shuffle time — and, critically, NO DECIMAL ever reaches a
    * checked output schema. Two rounds of driver evidence (r1: 12, r2: 14
    * hash-only failures — every one decimal-typed, including outputs pinned
    * to DECIMAL(38,s) on both engines — while all 54 bigint/double/string
    * outputs stayed green) show the driver's hash canonicalizes DECIMAL in a
    * way neither engine reproduces. Oracle mirror:
    * CAST(CAST(x AS DECIMAL(18,s)) * 10^scale AS BIGINT). */
  private def cents(c: Column, scale: Int = 2): Column = {
    // multiplier precision must hold 10^scale: decimal(5,0) caps at 99999,
    // so scale >= 5 would silently NULL the whole column in legacy mode
    require(scale <= 9, s"cents scale $scale overflows the decimal(10,0) multiplier")
    (c.cast(s"decimal(18,$scale)") * lit(math.pow(10, scale).toLong).cast("decimal(10,0)"))
      .cast("long")
  }

  /** The simulated append-only versioned log shared by the MVCC trio
    * (u7 current-snapshot read, u8 SCD2 history): deterministic from the
    * one-snapshot catalog corpus — every doc contributes v1, doc_id % 7
    * == 0 an edited v2, doc_id % 131 == 0 a v3 tombstone. Mirrored
    * exactly by [[versionedLogSql]]; versions are unique per doc_id, so
    * every per-key order/argmax over the log is total.
    */
  private def versionedLog(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs
      .select(col("doc_id"), lit(1L).as("version"), col("text"),
        lit(false).as("tombstone"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("version"),
          concat(col("text"), lit(" v2")).as("text"), lit(false).as("tombstone")))
      .unionByName(docs.filter(col("doc_id") % 131 === 0)
        .select(col("doc_id"), lit(3L).as("version"),
          lit(null).cast("string").as("text"), lit(true).as("tombstone")))
  }

  private val versionedLogSql: String =
    """SELECT doc_id, CAST(1 AS BIGINT) AS version, text, false AS tombstone FROM documents
      |  UNION ALL
      |  SELECT doc_id, 2, text || ' v2', false FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, 3, NULL, true FROM documents WHERE doc_id % 131 = 0""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- scans
    QueryDef(
      "q1_agg",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp_ntz"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(cents(col("l_quantity"))).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_base_price"),
            sum(cents(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))), 4)).as("sum_disc_price"),
            count(lit(1)).as("count_order")
          )
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price,
             |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_price,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin),
      "Flagship pricing-summary agg (TPC-H Q1 shape; SURVEY A1/A3 hash-agg spine). Sums are exact ×100/×10000 scaled BIGINTs (see cents)."
    ),
    QueryDef(
      "s1_scan_prune",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") < lit("1995-01-01").cast("timestamp_ntz") && col("l_quantity") < 5)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_shipdate < TIMESTAMP '1995-01-01' AND l_quantity < 5""".stripMargin),
      "Scan with predicate pushdown + column pruning (SURVEY S1; data_loader.py:18-53)."
    ),
    // -------------------------------------------------------------- filters
    QueryDef(
      "f2_range_filter",
      (s, d) =>
        Tables.events(s, d)
          .filter(col("value").between(0.5, 5.0) && col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("value")),
      Some("""SELECT event_id, user_id, value FROM events
             |WHERE value BETWEEN 0.5 AND 5.0 AND event_type = 'click'""".stripMargin),
      "Distance-range predicate shape (SURVEY F2; obj_obj_distance_qa.py:63-65)."
    ),
    QueryDef(
      "f4_having",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("spend"))
          .filter(col("n_orders") >= 15),
      Some("""SELECT o_custkey, count(*) AS n_orders,
             |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS spend
             |FROM orders GROUP BY o_custkey HAVING count(*) >= 15""".stripMargin),
      "Count-threshold HAVING (SURVEY F4; object_count_qa.py:57-63)."
    ),
    QueryDef(
      "f12_sample_mod",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") % 10 === 0)
          .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("qty")),
      Some("""SELECT count(*) AS n, CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem WHERE l_orderkey % 10 = 0""".stripMargin),
      "Deterministic every-Nth sampling (SURVEY F12; objectron_processor.py:126-128)."
    ),
    QueryDef(
      "f14_prefix_regex",
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_type").startsWith("STANDARD"))
          .select(
            col("p_partkey"),
            regexp_extract(col("p_brand"), "([0-9]+)$", 1).as("brand_num"),
            split(col("p_type"), " ").getItem(0).as("type_head")
          ),
      Some("""SELECT p_partkey, regexp_extract(p_brand, '([0-9]+)$', 1) AS brand_num,
             |  string_split(p_type, ' ')[1] AS type_head
             |FROM part WHERE p_type LIKE 'STANDARD%'""".stripMargin),
      "Prefix predicate + regex/split extraction (SURVEY F14/M1; class_mapping.py:87-103)."
    ),
    // ---------------------------------------------------------------- joins
    QueryDef(
      "j1_broadcast_dim",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_cust"), sum(cents(col("c_acctbal"))).as("bal"))
      },
      Some("""SELECT r_name, count(*) AS n_cust,
             |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS bal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name""".stripMargin),
      "Broadcast dim-join chain (SURVEY J1/J3; matterport_processor.py:190-211)."
    ),
    QueryDef(
      "j4_fact_chain",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val n = Tables.nation(s, d)
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            sum(cents(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))), 4)).as("revenue"),
            count(lit(1)).as("n_items")
          )
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin),
      "Fact-to-fact equi-join chain with broadcast dim (SURVEY J4; coco_processor.py:281-335)."
    ),
    QueryDef(
      "j5_semi_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
             |GROUP BY c_mktsegment""".stripMargin),
      "Left-semi set membership (SURVEY J5/U4; hypersim_processor.py:276-278)."
    ),
    QueryDef(
      "j_anti_join",
      (s, d) => {
        val p = Tables.part(s, d)
        val li = Tables.lineitem(s, d)
        p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("never_ordered"))
      },
      Some("""SELECT p_brand, count(*) AS never_ordered FROM part
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
             |GROUP BY p_brand""".stripMargin),
      "Anti-join: unlabeled = bboxes ∉ codebook (SURVEY §2.4 'absent' analog, U5)."
    ),
    QueryDef(
      "j7_left_coalesce",
      (s, d) => {
        val o = Tables.orders(s, d)
        val liAgg = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(cents(col("l_extendedprice"))).as("item_total"))
        o.join(liAgg, o("o_orderkey") === liAgg("l_orderkey"), "left")
          .groupBy(col("o_orderpriority"))
          .agg(
            sum(coalesce(col("item_total"), lit(0L))).as("total"),
            sum(when(col("item_total").isNull, 1).otherwise(0)).as("empty_orders")
          )
      },
      Some("""SELECT o_orderpriority,
             |  CAST(sum(COALESCE(item_total, 0)) AS BIGINT) AS total,
             |  CAST(sum(CASE WHEN item_total IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS empty_orders
             |FROM orders LEFT JOIN (
             |  SELECT l_orderkey, CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS item_total
             |  FROM lineitem GROUP BY l_orderkey) li ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority""".stripMargin),
      "Left join + coalesce default (SURVEY J1 left variant, J7; create_labeled_dataset.py:105-141)."
    ),
    QueryDef(
      "j8_selfjoin_pairs",
      (s, d) => {
        // All-pairs |price gap| statistics WITHOUT materializing the O(n²)
        // pairs: over a group sorted ascending x₁..xₙ, Σ_{i<j}(xⱼ−xᵢ) =
        // Σᵢ(2i−n−1)·xᵢ, the min pair gap is the min ADJACENT gap, the max
        // pair gap is xₙ−x₁, and the pair count is Σᵢ(i−1). One shuffle on
        // l_orderkey + per-group sort: O(n log n) where the pair join is
        // O(n²) per group — the plan that survives skewed groups at 100 TB.
        // (The raw i<j join shape itself stays oracle-validated by
        // j8b_pair_rows below; the domain pair tasks form their pairs
        // inside each frame row, QaTasks.boxPairs.)
        val w = Window.partitionBy(col("l_orderkey")).orderBy(col("p").asc, col("l_linenumber").asc)
        val grp = Window.partitionBy(col("l_orderkey"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_extendedprice")).as("p"))
          .withColumn("i", row_number().over(w))
          .withColumn("n", count(lit(1)).over(grp))
          .withColumn("adj", col("p") - lag(col("p"), 1).over(w))
          .withColumn("span", col("p") - first(col("p")).over(w))
          .agg(
            coalesce(sum(col("i") - 1), lit(0L)).cast("long").as("n_pairs"),
            sum((col("i").cast("long") * 2 - col("n") - 1) * col("p")).as("gap_sum"),
            min(col("adj")).as("gap_min"),
            max(col("span")).as("gap_max")
          )
          // degenerate-input parity with the oracle's literal pair join:
          // no pairs (all-singleton groups, or an empty table) means the
          // join produces zero rows there — count 0, NULL aggregates —
          // while the closed form's singletons would contribute 0s
          .select(
            col("n_pairs"),
            when(col("n_pairs") > 0, col("gap_sum")).as("gap_sum"),
            col("gap_min"),
            when(col("n_pairs") > 0, col("gap_max")).as("gap_max"))
      },
      Some("""WITH li AS (SELECT l_orderkey,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
             |    row_number() OVER (PARTITION BY l_orderkey
             |      ORDER BY l_extendedprice, l_linenumber) AS rn
             |  FROM lineitem)
             |SELECT count(*) AS n_pairs,
             |  CAST(sum(gap) AS BIGINT) AS gap_sum, min(gap) AS gap_min, max(gap) AS gap_max
             |FROM (SELECT abs(a.p - b.p) AS gap
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.rn < b.rn)""".stripMargin),
      "All-unordered-pair statistics per group via the sorted closed form (SURVEY J8; obj_obj_distance_qa.py:36-47) — oracle checks it against the literal O(n²) pair join over per-group row numbers."
    ),
    QueryDef(
      "j8b_pair_rows",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 2000)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        val a = li.alias("a")
        val b = li.alias("b")
        a.join(b, col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_linenumber") < col("b.l_linenumber"))
          .select(
            col("a.l_orderkey").as("okey"),
            col("a.l_linenumber").as("ln_a"),
            col("b.l_linenumber").as("ln_b"),
            abs(cents(col("a.l_extendedprice")) - cents(col("b.l_extendedprice"))).as("price_gap")
          )
      },
      Some("""SELECT a.l_orderkey AS okey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
             |  abs(CAST(CAST(a.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) - CAST(CAST(b.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS price_gap
             |FROM lineitem a JOIN lineitem b
             |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
             |WHERE a.l_orderkey <= 2000""".stripMargin),
      "Materialized i<j pair self-join rows (SURVEY J8 join shape: equi key + theta residual, partition-local after one shuffle on l_orderkey; bounded key range keeps the oracle output small)."
    ),
    QueryDef(
      "j6_argmax_per_group",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        c.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("c_name"), col("c_acctbal"))
      },
      Some("""SELECT n_name, c_name, c_acctbal FROM (
             |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rk FROM customer) c
             |JOIN nation ON c_nationkey = n_nationkey WHERE rk = 1""".stripMargin),
      "Argmax-per-group join (SURVEY J6/A4; taskonomy_processor.py:307-329)."
    ),
    QueryDef(
      "j10_representatives",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(min_by(col("event_type"), col("ts")).as("first_event"), min(col("ts")).as("first_ts_us")),
      Some("""SELECT user_id, arg_min(event_type, ts) AS first_event, epoch_us(min(ts)) AS first_ts_us
             |FROM events GROUP BY user_id""".stripMargin),
      "First-location-per-instance representatives dedup (SURVEY J10; build_label_codebook_fast.py:382-386). ts is unique per row so min_by is total-ordered."
    ),
    // ----------------------------------------------------------- aggregates
    QueryDef(
      "a2_global_stats",
      (s, d) =>
        Tables.lineitem(s, d).agg(
          count(lit(1)).as("n"),
          countDistinct(col("l_partkey")).as("n_parts"),
          min(col("l_quantity")).as("q_min"),
          max(col("l_quantity")).as("q_max"),
          sum(cents(col("l_quantity"))).as("q_sum")
        ),
      Some("""SELECT count(*) AS n, count(DISTINCT l_partkey) AS n_parts,
             |  min(l_quantity) AS q_min, max(l_quantity) AS q_max,
             |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS q_sum FROM lineitem""".stripMargin),
      "Corpus-level counts (SURVEY A2/A6; data_loader.py:109-129)."
    ),
    QueryDef(
      "a5_stats_profile",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            min(col("value")).as("v_min"),
            max(col("value")).as("v_max"),
            round(sum(dec(col("value"))).cast("double") / count(lit(1)), 6).as("v_mean"),
            median(col("value")).as("v_median")
          ),
      Some("""SELECT event_type, count(*) AS n, min(value) AS v_min, max(value) AS v_max,
             |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS v_mean,
             |  median(value) AS v_median
             |FROM events GROUP BY event_type""".stripMargin),
      "Depth-stats profile: count/min/max/mean/median (SURVEY A5; utils.py:93-127). Mean = exact decimal sum ÷ count as one IEEE divide; median interpolates two exact 2-decimal doubles — identical on both engines."
    ),
    QueryDef(
      "a15_conditional_rates",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            sum(when(col("value") > 10, 1).otherwise(0)).as("n_big"),
            count(lit(1)).as("n"),
            round(sum(when(col("value") > 10, 1).otherwise(0)).cast("double") / count(lit(1)), 6).as("big_rate")
          ),
      Some("""SELECT event_type,
             |  CAST(sum(CASE WHEN value > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_big, count(*) AS n,
             |  round(CAST(sum(CASE WHEN value > 10 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS big_rate
             |FROM events GROUP BY event_type""".stripMargin),
      "Conditional success-rate tallies (SURVEY A15; build_enhanced_codebook.py:437-497)."
    ),
    QueryDef(
      "a_rollup_summary",
      (s, d) =>
        // SURVEY §2.5: the reference's two fixed summary levels (per-dataset
        // and per-task, K4) generalize to one ROLLUP pass — subtotals and
        // the grand total in a single shuffle instead of two jobs.
        Tables.documents(s, d)
          .rollup(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            grouping_id().as("gid")
          ),
      Some("""SELECT source, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(GROUPING(source, lang) AS BIGINT) AS gid
             |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin),
      "Multi-level summaries in one pass: ROLLUP over (source, lang) with grouping_id (K4 generalization)."
    ),
    QueryDef(
      "a_approx_distinct",
      (s, d) =>
        // SURVEY §2.5: the reference only ever counts exactly; at 100 TB the
        // sketch path is mandatory (bounded memory, one pass, mergeable
        // across executors). Each engine's HLL yields different estimates,
        // so the cross-engine contract is the exact count plus a
        // bounded-relative-error flag — the property that actually matters.
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id")).as("approx_users")
          )
          .select(
            col("event_type"),
            col("exact_users"),
            (abs(col("approx_users") - col("exact_users")).cast("double") / col("exact_users") <= 0.15).as("approx_within_15pct")
          ),
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
             |  CAST(abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) AS DOUBLE)
             |    / count(DISTINCT user_id) <= 0.15 AS approx_within_15pct
             |FROM events GROUP BY event_type""".stripMargin),
      "Sketch-based distinct counting: HLL approx vs exact with a bounded-error contract (100 TB scale path)."
    ),
    QueryDef(
      "a_salted_skew_agg",
      (s, d) => {
        // Skew-safe two-phase aggregation: salt the hot key so its partial
        // aggregates spread over 16 reducers, then merge the partials.
        // Result is IDENTICAL to the direct groupBy (the oracle computes it
        // directly) — the salt only reshapes the shuffle. This is the
        // pattern for power-law keys where one group would otherwise pin a
        // single reducer at 100 TB; decimal sums keep both phases exact.
        val salted = Tables.lineitem(s, d)
          .withColumn("salt", pmod(col("l_partkey"), lit(16)))
          .groupBy(col("l_returnflag"), col("salt"))
          .agg(count(lit(1)).as("pn"), sum(cents(col("l_quantity"))).as("pq"))
        salted
          .groupBy(col("l_returnflag"))
          .agg(sum(col("pn")).cast("long").as("n"), sum(col("pq")).as("qty"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "Salted two-phase aggregation for skewed keys (scale technique; result equals the direct group-by, which is the oracle)."
    ),
    QueryDef(
      "j_salted_skew_join",
      (s, d) => {
        // Skew-salted shuffle JOIN: when one join key carries a
        // disproportionate share of the fact side (m8 profiles exactly
        // this), a plain shuffle join pins the whole hot key on one task.
        // Salting splits each key into R sub-keys — the fact side derives
        // a deterministic salt from row identity (md5, same contract as
        // every other "random" quantity), the dimension side replicates
        // R× via explode — and the join keys on (key, salt), spreading a
        // hot key over R tasks. The result is IDENTICAL to the unsalted
        // join (the oracle computes that directly); the salt only
        // reshapes the shuffle. This is the explicit-control variant for
        // when AQE skew splitting can't apply (e.g. the join must stay
        // co-partitioned with a downstream stage); the dimension side
        // grows R×, so R tunes to the observed skew ratio, not higher.
        val R = 8
        val ev = Tables.events(s, d)
          .withColumn("salt",
            pmod(graft.queries.PipelineFns.h60(col("event_id").cast("string")), lit(R.toLong)))
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"),
            explode(sequence(lit(0L), lit(R - 1L))).as("salt"))
        ev.join(dim, ev("user_id") === dim("c_custkey") && ev("salt") === dim("salt"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      "Skew-salted shuffle join (scale technique): deterministic fact-side salt, R-times replicated dimension, join on (key, salt); result equals the unsalted join, which is the oracle."
    ),
    QueryDef(
      "a_approx_quantiles",
      (s, d) =>
        // Sketch quantiles with the bounded-error cross-engine contract
        // (same stance as a_approx_distinct): each engine's sketch differs,
        // so the checked output is the exact median plus a flag that the
        // approximate quantile lands within the declared rank error.
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            median(col("value")).as("exact_median"),
            percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_median"),
            count(lit(1)).as("n")
          )
          .select(
            col("event_type"),
            col("exact_median"),
            col("n"),
            (abs(col("approx_median") - col("exact_median")) <=
              greatest(abs(col("exact_median")) * 0.05, lit(0.5))).as("approx_within_5pct")
          ),
      Some("""SELECT event_type, median(value) AS exact_median, count(*) AS n,
             |  abs(approx_quantile(value, 0.5) - median(value))
             |    <= greatest(abs(median(value)) * 0.05, 0.5) AS approx_within_5pct
             |FROM events GROUP BY event_type""".stripMargin),
      "Sketch quantiles: approx median vs exact with a bounded-error contract (one-pass mergeable sketch is the 100 TB path)."
    ),
    QueryDef(
      "a12_collect_sorted",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 100)
          .groupBy(col("l_orderkey"))
          .agg(
            concat_ws(",", sort_array(collect_list(col("l_partkey")))).as("parts"),
            count(lit(1)).as("n")
          ),
      Some("""SELECT l_orderkey, string_agg(l_partkey, ',' ORDER BY l_partkey) AS parts,
             |  count(*) AS n
             |FROM lineitem WHERE l_orderkey <= 100 GROUP BY l_orderkey""".stripMargin),
      "Instance-location cache: key → sorted member list (SURVEY A12; build_enhanced_codebook.py:33-86). Sorted + string-joined for a stable cross-engine encoding."
    ),
    // -------------------------------------------------- windows / top-k
    QueryDef(
      "w1_rank_topk",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("o_custkey"), col("rk").cast("long").as("rk"), col("o_orderkey"), col("o_totalprice"))
      },
      Some("""SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
             |  SELECT *, row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders)
             |WHERE rk <= 3""".stripMargin),
      "Per-partition rank / top-k (SURVEY W1; cam_obj_rel_dist_qa.py:53-59)."
    ),
    QueryDef(
      "w7_seeded_topk",
      (s, d) => {
        // W7/J9: seeded top-k sampling per group — "random" representatives
        // chosen by ranking on a seeded hash, so the sample is reproducible
        // across engines, runs, and partitionings (no RNG state, no
        // shuffle-order luck). One window per group partition.
        import graft.queries.PipelineFns.h60
        val w = Window.partitionBy(col("source"))
          .orderBy(h60(concat(lit("w7:"), col("doc_id"))).asc, col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("source"), col("rk").cast("long").as("rk"), col("doc_id"))
      },
      Some(s"""SELECT source, rk, doc_id FROM (
             |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
             |    ORDER BY ${graft.queries.PipelineFns.h60Sql("concat('w7:', CAST(doc_id AS VARCHAR))")} ASC, doc_id ASC) AS rk
             |  FROM documents)
             |WHERE rk <= 3""".stripMargin),
      "Seeded top-k sampling per group (SURVEY W7/J9): rank on a seeded md5 hash — reproducible sampling with no RNG state."
    ),
    QueryDef(
      "w4_first_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      },
      Some("""SELECT user_id, event_type, event_id, value FROM (
             |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             |    ORDER BY ts ASC, event_id ASC) AS rk FROM events)
             |WHERE rk = 1""".stripMargin),
      "Order-pinned first-per-group dedup (SURVEY W4; object_3d_size_qa.py:31-42)."
    ),
    QueryDef(
      "w8_user_rate_cap",
      (s, d) => {
        // Per-user rate capping — the log-curation op that keeps at most
        // `cap` events per (user, hour) before a corpus enters training
        // (heavy-hitter users otherwise dominate the behavioral mix).
        // Deterministic keep-set: rank by (ts, event_id) inside each
        // (user, hour) window — a fine-grained key whose cardinality grows
        // with the corpus, so the window shuffle scales out; no global or
        // per-user-only window anywhere. The audit output tallies
        // kept/dropped per event_type.
        val cap = 3
        Tables.events(s, d)
          .withColumn("hr", expr("ts div 3600000000"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("user_id"), col("hr"))
              .orderBy(col("ts").asc, col("event_id").asc)))
          .groupBy(col("event_type"))
          .agg(
            sum(when(col("rk") <= cap, 1L).otherwise(0L)).cast("long").as("kept"),
            sum(when(col("rk") > cap, 1L).otherwise(0L)).cast("long").as("dropped"))
      },
      Some("""WITH ranked AS (
             |  SELECT event_type, row_number() OVER (
             |    PARTITION BY user_id, epoch_us(ts) // 3600000000
             |    ORDER BY ts ASC, event_id ASC) AS rk
             |  FROM events)
             |SELECT event_type,
             |  CAST(sum(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             |  CAST(sum(CASE WHEN rk > 3 THEN 1 ELSE 0 END) AS BIGINT) AS dropped
             |FROM ranked GROUP BY event_type""".stripMargin),
      "Per-user hourly rate capping: deterministic keep-at-most-k per (user, hour) window, kept/dropped audit per event type — heavy-hitter flattening for log corpora."
    ),
    QueryDef(
      "w6_id_assignment",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey").asc)
        Tables.orders(s, d)
          .filter(col("o_totalprice") > 400000)
          .select(col("o_orderpriority"), col("o_orderkey"))
          .withColumn("qa_id", format_string("%s_%06d", regexp_replace(lower(col("o_orderpriority")), "[^a-z0-9]+", "_"), row_number().over(w)))
      },
      Some("""SELECT o_orderpriority, o_orderkey,
             |  printf('%s_%06d', regexp_replace(lower(o_orderpriority), '[^a-z0-9]+', '_', 'g'),
             |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey ASC)) AS qa_id
             |FROM orders WHERE o_totalprice > 400000""".stripMargin),
      "Contiguous formatted id assignment per group (SURVEY W6; qa_base.py:54-65)."
    ),
    QueryDef(
      "w_running_sum",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            sum(cents(col("value"))).over(w).as("running_value"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (PARTITION BY user_id
             |    ORDER BY ts ASC, event_id ASC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_value
             |FROM events""".stripMargin),
      "Running aggregate (beyond-reference extension; scaled-integer cents keep prefix sums exact)."
    ),
    QueryDef(
      "w_lead_lag_ntile",
      (s, d) => {
        // Window-function breadth beyond rank/row_number: offset functions
        // (lag/lead deltas), quartile bucketing (ntile), and relative rank
        // (percent_rank) in one pass over the per-user event timeline —
        // one shuffle on user_id, every function shares the same frame.
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .filter(col("user_id") < 200)
          .select(
            col("user_id"), col("event_id"),
            (cents(col("value")) - lag(cents(col("value")), 1).over(w)).as("delta_prev"),
            lead(col("event_id"), 1).over(w).as("next_event_id"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) -
             |    lag(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 1)
             |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS delta_prev,
             |  lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_event_id,
             |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS quartile,
             |  round(percent_rank() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 6) AS pct_rank
             |FROM events WHERE user_id < 200""".stripMargin),
      "Offset/ntile/percent_rank window family over the per-user timeline (SURVEY §2.6 breadth; one shuffle, shared frame)."
    ),
    // ------------------------------------------------------------- set ops
    QueryDef(
      "u1_union_tagged",
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click").select(col("user_id"), lit("c").as("tag"))
        val views = e.filter(col("event_type") === "view").select(col("user_id"), lit("v").as("tag"))
        clicks.unionByName(views).groupBy(col("tag")).agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      },
      Some("""SELECT tag, count(*) AS n, count(DISTINCT user_id) AS n_users FROM (
             |  SELECT user_id, 'c' AS tag FROM events WHERE event_type = 'click'
             |  UNION ALL
             |  SELECT user_id, 'v' AS tag FROM events WHERE event_type = 'view') GROUP BY tag""".stripMargin),
      "Tagged unionByName (SURVEY U1; generate_qa.py:99-144)."
    ),
    QueryDef(
      "u3_distinct_pairs",
      (s, d) =>
        Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),
      "Distinct projection (SURVEY U3; taskonomy_processor.py:327-329)."
    ),
    QueryDef(
      "u5_intersect_except",
      (s, d) => {
        val e = Tables.events(s, d)
        val clickers = e.filter(col("event_type") === "click").select(col("user_id"))
        val buyers = e.filter(col("event_type") === "purchase").select(col("user_id"))
        val both = clickers.intersect(buyers).withColumn("kind", lit("click_and_buy"))
        val only = clickers.except(buyers).withColumn("kind", lit("click_no_buy"))
        both.unionByName(only).groupBy(col("kind")).agg(count(lit(1)).as("n_users"))
      },
      Some("""SELECT kind, count(*) AS n_users FROM (
             |  SELECT user_id, 'click_and_buy' AS kind FROM (
             |    SELECT user_id FROM events WHERE event_type = 'click'
             |    INTERSECT
             |    SELECT user_id FROM events WHERE event_type = 'purchase')
             |  UNION ALL
             |  SELECT user_id, 'click_no_buy' AS kind FROM (
             |    SELECT user_id FROM events WHERE event_type = 'click'
             |    EXCEPT
             |    SELECT user_id FROM events WHERE event_type = 'purchase')) GROUP BY kind""".stripMargin),
      "INTERSECT / EXCEPT as semi/anti duals (SURVEY U4/U5; create_labeled_dataset.py:81)."
    ),
    QueryDef(
      "u6_snapshot_delta",
      (s, d) => {
        // Snapshot delta — the incremental-processing primitive a daily
        // 100 TB corpus pipeline runs before anything else: classify every
        // doc as added / removed / changed / unchanged between yesterday's
        // snapshot and today's by primary key + content hash, so the
        // expensive downstream stages (signatures, embeddings, QA) touch
        // only the added∪changed slice. Shape: map-side md5 on both scans,
        // ONE hash-partitioned full-outer join on the primary key — and
        // with both snapshots bucketed by doc_id (the BucketingSpec
        // layout), the join plans exchange-free, making the daily diff a
        // pure co-partitioned merge at any scale.
        //
        // The prior snapshot is SIMULATED deterministically from the same
        // table (the catalog has one snapshot per dir): docs with
        // doc_id % 50 == 0 are absent from it (→ added), % 7 == 0 carry a
        // different prior hash (→ changed), and % 131 == 0 contribute a
        // synthetic prior-only row at doc_id + 1e7 (→ removed; the offset
        // stays collision-free for any catalog/scale-harness corpus).
        // null-safe content hash: md5(NULL) is NULL in both engines, and a
        // NULL hash on both sides would classify 'added' here but fall
        // through '<>'-is-NULL to 'unchanged' in ANSI SQL — coalescing to a
        // sentinel makes the classification engine-independent (a NULL-text
        // doc diffs like any other doc: unchanged until its text changes)
        val docs = Tables.documents(s, d)
        val prior = docs
          .filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit("-v0")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") % 131 === 0)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              concat(col("text"), lit("-rm")).as("text")))
        IncrementalPipeline.snapshotDiff(docs.select("doc_id", "text"), prior)
      },
      Some("""WITH cur AS (SELECT doc_id, coalesce(md5(text), '~null~') AS ch FROM documents),
             |pri AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN coalesce(md5(text || '-v0'), '~null~')
             |         ELSE coalesce(md5(text), '~null~') END AS ph
             |  FROM documents WHERE doc_id % 50 <> 0
             |  UNION ALL
             |  SELECT doc_id + 10000000, coalesce(md5(text || '-rm'), '~null~')
             |  FROM documents WHERE doc_id % 131 = 0)
             |SELECT coalesce(c.doc_id, p.doc_id) AS doc_id,
             |  CASE WHEN p.doc_id IS NULL THEN 'added'
             |       WHEN c.doc_id IS NULL THEN 'removed'
             |       WHEN c.ch <> p.ph THEN 'changed'
             |       ELSE 'unchanged' END AS change_class
             |FROM cur c FULL OUTER JOIN pri p ON c.doc_id = p.doc_id""".stripMargin),
      "Snapshot delta: per-doc added/removed/changed/unchanged classification via content hash + one pk full-outer join — the incremental primitive that confines daily downstream work to the added∪changed slice (exchange-free when snapshots are bucketed)."
    ),
    QueryDef(
      "u7_mvcc_read",
      (s, d) => {
        // Read-time supersede over an append-only versioned log — the
        // merge-on-read half of the incremental story (the public
        // Hudi-MoR / Delta-CDF shape): ingest appends (doc_id, version)
        // rows and deletes append TOMBSTONES, so writes stay O(|delta|)
        // (IncrementalPipeline's merge seam), and the CURRENT snapshot is
        // reconstructed at read time as latest-version-wins minus
        // tombstones. Shape: ONE hash-partitioned max_by aggregate on the
        // pk — partial-aggregated map-side (each partition folds its local
        // versions first, so the shuffle carries one candidate row per
        // (partition, key), not the log), no window sort; bucketed by
        // doc_id the aggregate is exchange-free like u6's diff. The log is
        // SIMULATED deterministically from the one-snapshot catalog
        // corpus: every doc contributes v1, doc_id % 7 == 0 an edited v2,
        // doc_id % 131 == 0 a v3 tombstone.
        // Determinism: versions are unique per doc_id, so max_by's argmax
        // is total-ordered; content surfaces as the null-safe md5 (the
        // u6/IncrementalPipeline hash contract).
        val log = versionedLog(s, d)
        log.groupBy(col("doc_id"))
          .agg(max_by(struct(col("version"), col("tombstone"), col("text")),
            col("version")).as("m"))
          .filter(!col("m.tombstone"))
          .select(col("doc_id"), col("m.version").as("version"),
            IncrementalPipeline.contentHash(col("m.text")).as("ch"))
      },
      Some(s"""WITH log AS ($versionedLogSql)
             |SELECT doc_id, version, coalesce(md5(text), '~null~') AS ch FROM (
             |  SELECT doc_id, version, text, tombstone,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rk
             |  FROM log) WHERE rk = 1 AND NOT tombstone""".stripMargin),
      "Merge-on-read MVCC snapshot: latest-version-wins minus tombstones over an append-only versioned log, as ONE partial-aggregated max_by on the primary key — the read-time supersede that completes the append-only incremental ingest story."
    ),
    QueryDef(
      "u8_scd2_history",
      (s, d) => {
        // SCD2 validity intervals over the same versioned log — the
        // POINT-IN-TIME reconstruction primitive (training-data
        // governance: "rebuild the corpus exactly as version V saw it"
        // is `valid_from <= V < valid_to`, with -1 = still open).
        // Shape: ONE lead window partitioned by the pk — one doc_id
        // shuffle, segment sorts bounded by a doc's version count (≤ 3
        // here, tens in production — never corpus-scale); bucketed by
        // doc_id it is exchange-free like u6/u7. Together the trio is
        // the table-format story relationally: u6 diffs two snapshots,
        // u7 serves the current one, u8 serves ANY of them.
        // Booleans surface as BIGINT 0/1 (the driver-hash type contract).
        val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("version").asc)
        versionedLog(s, d)
          .withColumn("valid_to",
            coalesce(lead(col("version"), 1).over(byDoc), lit(-1L)))
          .select(col("doc_id"), col("version").as("valid_from"),
            col("valid_to"), col("tombstone").cast("long").as("deleted"),
            IncrementalPipeline.contentHash(col("text")).as("ch"))
      },
      Some(s"""WITH log AS ($versionedLogSql)
             |SELECT doc_id, version AS valid_from,
             |  coalesce(lead(version) OVER (PARTITION BY doc_id ORDER BY version ASC),
             |           CAST(-1 AS BIGINT)) AS valid_to,
             |  CAST(tombstone AS BIGINT) AS deleted,
             |  coalesce(md5(text), '~null~') AS ch
             |FROM log""".stripMargin),
      "SCD2 history: validity intervals [valid_from, valid_to) over the versioned log via one pk-partitioned lead window — point-in-time corpus reconstruction, the third MVCC primitive beside u6's diff and u7's current-snapshot read."
    ),
    // ------------------------------------------------------ scalar functions
    QueryDef(
      "m1_string_ops",
      (s, d) =>
        Tables.part(s, d)
          .select(
            col("p_partkey"),
            upper(split(col("p_name"), " ").getItem(0)).as("head"),
            length(col("p_name")).cast("long").as("name_len"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
            substring(col("p_type"), 1, 3).as("type3")
          ),
      Some("""SELECT p_partkey, upper(string_split(p_name, ' ')[1]) AS head,
             |  length(p_name) AS name_len,
             |  concat_ws('|', p_brand, p_type) AS brand_type,
             |  substring(p_type, 1, 3) AS type3
             |FROM part""".stripMargin),
      "String toolkit: split/upper/length/concat/substring (SURVEY M1)."
    ),
    QueryDef(
      "m2_round_units",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 500)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(col("l_quantity") * 100, 1).as("qty_cm"),
            round(col("l_extendedprice") / 1000, 3).as("price_k"),
            col("l_quantity").cast("int").as("qty_int")
          ),
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(l_quantity * 100, 1) AS qty_cm,
             |  round(l_extendedprice / 1000, 3) AS price_k,
             |  CAST(l_quantity AS INTEGER) AS qty_int
             |FROM lineitem WHERE l_orderkey <= 500""".stripMargin),
      "Unit conversions + rounding (SURVEY M2; object_3d_size_qa.py:58-59)."
    ),
    QueryDef(
      "m4_date_buckets",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total")),
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
             |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total
             |FROM orders GROUP BY 1""".stripMargin),
      "Calendar bucketing (SURVEY M4; qa_base.py:145). String-keyed for cross-engine stability."
    ),
    QueryDef(
      "m9_decay_halflife",
      (s, d) => {
        // Half-life-decayed aggregation (feature-store recency weighting)
        // in EXACT integer arithmetic: event ages bucket into weeks capped
        // at 10 half-lives, and the decay weight is the power of two
        // 2^(10-age) — the weighted sum is a plain BIGINT sum of
        // cents × weight (exact, order-free, map-side partial), and the
        // single final divide by 2^10·100 is one identical IEEE op on both
        // engines (power-of-two scaling is lossless in binary floating
        // point). No pow()/exp() runs row-side; the corpus max-ts is a
        // broadcast 1-row aggregate.
        val maxTs = Tables.events(s, d).agg(max(col("ts")).as("max_ts"))
        Tables.events(s, d).crossJoin(broadcast(maxTs))
          .withColumn("age_hl", least(expr("(max_ts - ts) div 604800000000"), lit(10L)))
          .withColumn("w", expr("shiftleft(1L, cast(10 - age_hl as int))"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("value")) * col("w")).as("s"))
          .select(col("event_type"), col("n"),
            round(col("s").cast("double") / lit(102400.0), 4).as("decayed_value"))
      },
      Some("""WITH mt AS (SELECT max(epoch_us(ts)) AS max_us FROM events)
             |SELECT event_type, count(*) AS n,
             |  round(CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      * CAST(power(2, 10 - least((max_us - epoch_us(ts)) // 604800000000, 10)) AS BIGINT)) AS DOUBLE)
             |    / 102400.0, 4) AS decayed_value
             |FROM events CROSS JOIN mt
             |GROUP BY event_type""".stripMargin),
      "Half-life recency decay (feature-store op): week-bucketed ages capped at 10 half-lives, power-of-two integer weights — exact BIGINT weighted sums, one lossless final divide."
    ),
    QueryDef(
      "m3_seeded_random",
      (s, d) => {
        // Deterministic "random" distractor: uniform in [0,1) from the md5 of
        // the row key — reproducible across engines and runs, unlike the
        // reference's unseeded random (SURVEY M3; qa_base.py:68-109).
        // the shared 60-bit md5 primitive (PipelineFns.h60) — every seeded
        // quantity in the engine derives from the same hash contract
        val u = PipelineFns.h60(concat(lit("seed1:"), col("o_orderkey")))
          .cast("double") / lit(1152921504606846976.0) // 2^60
        Tables.orders(s, d)
          .filter(col("o_orderkey") <= 1000)
          .select(
            col("o_orderkey"),
            round(u, 6).as("u"),
            round(dec(col("o_totalprice")).cast("double") * (lit(0.8) + lit(0.4) * u), 2).as("distractor_price")
          )
      },
      Some(s"""SELECT o_orderkey, round(u, 6) AS u,
             |  round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) * (0.8 + 0.4 * u), 2) AS distractor_price
             |FROM (SELECT o_orderkey, o_totalprice,
             |  CAST(${PipelineFns.h60Sql("concat('seed1:', o_orderkey)")} AS DOUBLE) / 1152921504606846976.0 AS u
             |  FROM orders WHERE o_orderkey <= 1000)""".stripMargin),
      "Seeded distractor randomness via md5 → uniform (SURVEY M3): cross-engine-identical."
    ),
    QueryDef(
      "e_sessionize",
      (s, d) => {
        // Gap-based sessionization: new session when >30 min since previous
        // event of the same user. Batch analog of stateful streaming
        // sessionization; scales as one shuffle on user_id.
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull || col("ts") - col("prev_ts") > 1800000000L, 1).otherwise(0))
          .withColumn("session_n", sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_n"))
          .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("session_value"))
      },
      Some("""SELECT user_id, session_n, count(*) AS n_events,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS session_value
             |FROM (
             |  SELECT user_id, value,
             |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_n
             |  FROM (
             |    SELECT *, CASE WHEN prev_ts IS NULL
             |        OR (epoch_us(ts) - epoch_us(prev_ts)) > 1800000000 THEN 1 ELSE 0 END AS new_sess
             |    FROM (SELECT *, lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
             |      FROM events)))
             |GROUP BY user_id, session_n""".stripMargin),
      "Gap sessionization via lag + running flag-sum (streaming-adjacent batch op)."
    ),
    QueryDef(
      "e_session_native",
      (s, d) =>
        // The Spark-IDIOMATIC sessionization: the built-in session_window
        // generator (dynamic gap-merged windows inside the aggregation
        // operator — the same operator Structured Streaming uses with a
        // watermark) instead of the lag+flag-sum formulation (e_sessionize;
        // both are in the catalog deliberately). Boundary semantics
        // (verified against UpdatingSessionsIterator): an event at EXACTLY
        // gap distance MERGES into the session — a new session starts only
        // when the gap EXCEEDS the duration, mirrored by > in the oracle.
        Tables.events(s, d)
          .groupBy(col("user_id"),
            session_window(timestamp_micros(col("ts")), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("session_value"))
          .select(
            col("user_id"),
            unix_micros(col("w.start")).as("session_start"),
            unix_micros(col("w.end")).as("session_end"),
            col("n_events"), col("session_value")),
      Some("""SELECT user_id,
             |  CAST(min(ts_us) AS BIGINT) AS session_start,
             |  CAST(max(ts_us) + 1800000000 AS BIGINT) AS session_end,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS session_value
             |FROM (
             |  SELECT user_id, value, ts_us,
             |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_n
             |  FROM (
             |    SELECT *, CASE WHEN prev_ts IS NULL
             |        OR (ts_us - prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
             |    FROM (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             |        lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_ts
             |      FROM events)))
             |GROUP BY user_id, session_n""".stripMargin),
      "Native session_window sessionization (the gap-merged generator Structured Streaming shares) — catalog'd beside the lag+flag-sum formulation; oracle re-derives the merge with exclusive-end boundary semantics."
    ),
    QueryDef(
      "w_moving_avg",
      (s, d) => {
        // Trailing moving average over a 5-row frame per user: exact cents
        // sum + row count in the frame, one rounded IEEE divide — the
        // rolling-metric window shape (frame-bounded, partial state per
        // partition, one shuffle on user_id).
        val w5 = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(-4, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), cents(col("value")).as("cv"))
          .withColumn("mavg",
            round(sum(col("cv")).over(w5).cast("double") /
              count(lit(1)).over(w5) / 100, 6))
          .select(col("user_id"), col("event_id"), col("mavg"))
      },
      Some("""SELECT user_id, event_id,
             |  round(CAST(sum(cv) OVER w5 AS DOUBLE) / count(*) OVER w5 / 100, 6) AS mavg
             |FROM (SELECT user_id, event_id, ts,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv FROM events)
             |WINDOW w5 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin),
      "Trailing 5-row moving average per key: exact integer frame sums, one rounded divide (the rolling-metric window shape)."
    ),
    QueryDef(
      "e_tumbling_window",
      (s, d) =>
        Tables.events(s, d)
          .groupBy((expr("ts div 3600000000") * 3600).as("window_start"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v")),
      Some("""SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, event_type,
             |  count(*) AS n, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
             |FROM events GROUP BY 1, 2""".stripMargin),
      "Tumbling event-time window aggregation (batch form of the streaming path)."
    ),
    QueryDef(
      "e_hopping_window",
      (s, d) =>
        // sliding windows: 1 h length hopping every 15 min — each event
        // lands in 4 windows, produced by a bounded explode (generator, not
        // a shuffle multiplier beyond the constant hop factor).
        Tables.events(s, d)
          .select(col("ts"), col("event_type"), col("value"), explode(sequence(lit(0), lit(3))).as("k"))
          .groupBy(
            ((expr("ts div 900000000") - col("k")) * 900).as("window_start"),
            col("event_type")
          )
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v"))
          .filter(col("window_start") >= 0),
      Some("""SELECT window_start, event_type, count(*) AS n, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
             |FROM (SELECT event_type, value,
             |    ((epoch_us(ts) // 900000000) - unnest([0, 1, 2, 3])) * 900 AS window_start
             |  FROM events)
             |WHERE window_start >= 0
             |GROUP BY 1, 2""".stripMargin),
      "Hopping event-time windows (1h length, 15min hop) via bounded window-offset explode."
    ),
    QueryDef(
      "j_full_outer_reconcile",
      (s, d) => {
        // full-outer reconciliation — absent from the reference (SURVEY
        // §2.4) but part of any complete join surface: per-user event
        // activity vs order activity, keeping users present on either side.
        val ev = Tables.events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        val ord = Tables.orders(s, d)
          .filter(col("o_custkey") < 1000)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        ev.join(ord, col("user_id") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("user_id"), col("o_custkey")).as("id"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders")
          )
      },
      Some("""SELECT coalesce(e.user_id, o.o_custkey) AS id,
             |  coalesce(e.n_events, 0) AS n_events, coalesce(o.n_orders, 0) AS n_orders
             |FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) e
             |FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders WHERE o_custkey < 1000 GROUP BY o_custkey) o
             |ON e.user_id = o.o_custkey""".stripMargin),
      "Full-outer reconciliation of two keyed aggregates (join-surface completion beyond the reference)."
    ),
    QueryDef(
      "j_asof_recent_purchase",
      (s, d) => {
        // As-of join — the operator Spark lacks natively (SURVEY §2.4
        // extension; the Hypersim nearest-keyframe pose join is the domain
        // instance). Instead of join + filter + rank over candidate pairs
        // (quadratic in matches per key), merge both sides into ONE stream,
        // sort per key, and carry the latest right-side row forward with
        // last(..., ignoreNulls) — one shuffle on the key, linear work.
        // events.ts is unique per row, so >= tie-breaks never arise.
        val e = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val isP = col("event_type") === "purchase"
        e
          .withColumn("purchase_ts", last(when(isP, col("ts")), ignoreNulls = true).over(w))
          .withColumn("purchase_id", last(when(isP, col("event_id")), ignoreNulls = true).over(w))
          .withColumn("purchase_value", last(when(isP, col("value")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "click" && col("purchase_ts").isNotNull)
          .select(
            col("user_id"),
            col("event_id").as("click_id"),
            col("ts").as("click_ts_us"),
            col("purchase_id"),
            col("purchase_ts").as("purchase_ts_us"),
            col("purchase_value")
          )
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us,
             |  p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_ts_us,
             |  p.value AS purchase_value
             |FROM (SELECT * FROM events WHERE event_type = 'click') c
             |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin),
      "As-of join (most recent purchase at or before each click) via merged-stream carry-forward — one shuffle, no pair materialization; DuckDB's native ASOF JOIN is the oracle."
    ),
    QueryDef(
      "j_range_bucket",
      (s, d) => {
        // Range (theta) join against a tiny bucket dimension: broadcast the
        // ranges so the big side stays map-only (BroadcastNestedLoopJoin on
        // a 4-row table — bounded work per row, no shuffle of events).
        val ranges = s.createDataFrame(Seq(
          (0.0, 1.0, "tiny"), (1.0, 5.0, "small"), (5.0, 20.0, "mid"), (20.0, 1e9, "big")
        )).toDF("lo", "hi", "bucket")
        Tables.events(s, d)
          .join(broadcast(ranges), col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v"))
      },
      Some("""SELECT bucket, count(*) AS n,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
             |FROM events JOIN (VALUES
             |  (0.0, 1.0, 'tiny'), (1.0, 5.0, 'small'), (5.0, 20.0, 'mid'), (20.0, 1e9, 'big')
             |) r(lo, hi, bucket) ON value >= lo AND value < hi
             |GROUP BY bucket""".stripMargin),
      "Range join on a broadcast bucket dimension (SURVEY §2.4 extension): theta predicate, map-only big side."
    ),
    QueryDef(
      "j_range_rewrite",
      (s, d) => {
        // Interval join through the RangeJoinRewrite optimizer rule: the
        // pointInInterval condition carries a bin hint, so the marked
        // non-equi join (naively a nested-loop over every event×interval
        // pair) is rewritten into a hash-partitionable equi-join on
        // floor(value/bin) buckets with the interval side exploded over its
        // spanned buckets. 1000 overlapping [i·0.5, i·0.5+0.8) intervals
        // over the events value range; the plan is asserted equi in
        // PlanSpec. On a session without graft's extensions the marker is
        // inert and the same result computes on the unrewritten join.
        val intervals = s.range(1000).select(
          col("id").as("iv_id"),
          (col("id").cast("double") * 0.5).as("lo"),
          (col("id").cast("double") * 0.5 + 0.8).as("hi"))
        Tables.events(s, d)
          .join(intervals,
            graft.functions.pointInInterval(col("value"), col("lo"), col("hi"), bin = 0.5))
          .groupBy(col("iv_id"))
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v"))
      },
      Some("""SELECT iv_id, count(*) AS n,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
             |FROM events JOIN (
             |  SELECT range AS iv_id, range * 0.5 AS lo, range * 0.5 + 0.8 AS hi
             |  FROM range(1000)) r
             |ON value >= lo AND value < hi
             |GROUP BY iv_id""".stripMargin),
      "Interval join auto-rewritten to a bucketed equi-join by the RangeJoinRewrite Catalyst rule (bin-hint contract; O(matches) instead of O(n·m) compares)."
    ),
    QueryDef(
      "m5_json_extract",
      (s, d) =>
        // semi-structured extraction: the events `props` column is a JSON
        // string; parse with an explicit schema (from_json, codegen'd) —
        // never schema inference at query time — and aggregate the typed
        // field. The reference's metadata maps (M5) round-trip the same
        // way.
        Tables.events(s, d)
          .select(
            col("event_type"),
            from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))).getField("k").as("k")
          )
          .groupBy(col("event_type"))
          .agg(
            count(col("k")).as("n_with_k"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k")
          ),
      // the oracle mirrors from_json's STRICT typed parse, not a loose
      // string extraction: malformed JSON and non-integer-typed k (the
      // string "12", booleans, arrays) are NULL on the Spark side, so the
      // SQL gates on json_valid + json_type before casting — a bare
      // json_extract_string would abort on malformed input and coerce
      // string-typed values, diverging the moment props stops being the
      // generator's well-formed {"k": int}
      Some("""SELECT event_type, count(k) AS n_with_k,
             |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
             |FROM (SELECT event_type,
             |  CASE WHEN json_valid(props)
             |      AND json_type(json_extract(props, '$.k')) IN ('BIGINT', 'UBIGINT')
             |    THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
             |  FROM events)
             |GROUP BY event_type""".stripMargin),
      "Semi-structured JSON field extraction with a declared schema + typed aggregation (M5 metadata shape)."
    ),
    QueryDef(
      "a_histogram",
      (s, d) =>
        // Fixed-bin value histogram per event type: bin id is exact integer
        // math on the cents-scaled value (no float binning skew), one
        // partial-aggregable groupBy — the distribution profile you pull
        // before choosing quantile sketches or bin widths.
        Tables.events(s, d)
          .select(col("event_type"),
            floor(cents(col("value")).cast("double") / 2500).cast("long").as("bin"))
          .groupBy(col("event_type"), col("bin"))
          .agg(count(lit(1)).as("n"))
          .select(col("event_type"), col("bin"),
            (col("bin") * 25).as("bin_lo"), col("n")),
      Some("""SELECT event_type, bin, bin * 25 AS bin_lo, count(*) AS n
             |FROM (SELECT event_type,
             |    CAST(floor(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE) / 2500) AS BIGINT) AS bin
             |  FROM events)
             |GROUP BY event_type, bin""".stripMargin),
      "Fixed-bin histogram per group: exact integer binning on cents-scaled values, partial-aggregable counts (the profiling pass behind bin-width / sketch choices)."
    ),
    QueryDef(
      "a_pivot",
      (s, d) =>
        // Long→wide pivot with an EXPLICIT value list (never inferred — an
        // inference pass is an extra corpus scan and makes the output
        // schema data-dependent): per-user event counts by type. Plans as
        // one partial-aggregable groupBy; the oracle states the same thing
        // as CASE sums.
        Tables.events(s, d)
          .groupBy(col("user_id"))
          .pivot(col("event_type"), Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          // fill scoped to the pivoted columns only — an unscoped fill
          // would rewrite a NULL group key to 0 and diverge from the oracle
          .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
          .select(col("user_id"), col("click").cast("long").as("click"),
            col("error").cast("long").as("error"), col("purchase").cast("long").as("purchase"),
            col("signup").cast("long").as("signup"), col("view").cast("long").as("view")),
      Some("""SELECT user_id,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             |FROM events GROUP BY user_id""".stripMargin),
      "Long→wide pivot with an explicit value list (no inference scan): per-key counts by category, one partial-aggregable groupBy."
    ),
    QueryDef(
      "a_unpivot",
      (s, d) =>
        // Wide→long unpivot (melt) — the inverse surface of a_pivot: the
        // per-doc quality signals become (doc_id, metric, value) rows, the
        // shape metric stores and plotting stacks ingest. Generator-only:
        // no shuffle at all.
        Tables.documents(s, d)
          .select(col("doc_id"),
            col("n_chars"),
            length(col("text")).cast("long").as("n_text_len"),
            size(split(col("text"), " ")).cast("long").as("n_space_tokens"))
          .unpivot(
            Array(col("doc_id")),
            Array(col("n_chars"), col("n_text_len"), col("n_space_tokens")),
            "metric", "value"),
      Some("""SELECT doc_id, metric, value FROM (
             |  SELECT doc_id, 'n_chars' AS metric, n_chars AS value FROM documents
             |  UNION ALL
             |  SELECT doc_id, 'n_text_len', length(text) FROM documents
             |  UNION ALL
             |  SELECT doc_id, 'n_space_tokens', len(string_split(text, ' ')) FROM documents)""".stripMargin),
      "Wide→long unpivot/melt (inverse of a_pivot): per-doc metrics to (key, metric, value) rows, generator-only plan."
    ),
    QueryDef(
      "a_cube",
      (s, d) =>
        // CUBE aggregation with grouping_id: every (lang, source) subtotal
        // combination in one pass — the OLAP rollup surface beyond
        // a_rollup's hierarchy. grouping_id disambiguates NULL-as-subtotal
        // from NULL data on both engines.
        Tables.documents(s, d)
          .cube(col("lang"), col("source"))
          .agg(
            grouping_id(col("lang"), col("source")).cast("long").as("gid"),
            count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars"))
          .select(col("lang"), col("source"), col("gid"), col("n_docs"), col("n_chars")),
      Some("""SELECT lang, source,
             |  CAST(grouping(lang, source) AS BIGINT) AS gid,
             |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
             |FROM documents GROUP BY CUBE (lang, source)""".stripMargin),
      "CUBE subtotals with grouping_id over (lang, source) — the full-lattice OLAP aggregate beside a_rollup's hierarchy."
    ),
    QueryDef(
      "m8_key_skew_profile",
      (s, d) => {
        // Join-key skew diagnostic — the profiling pass you run BEFORE
        // choosing salting/broadcast strategy: per-key counts, the top-10
        // hottest keys with their share of total and ratio to the mean key
        // load. Global top-k is sort+limit (TakeOrdered — no single-
        // partition window); the totals are a broadcast 1-row aggregate.
        val perKey = Tables.events(s, d)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        val totals = perKey.agg(
          sum(col("n")).cast("long").as("total"),
          count(lit(1)).cast("long").as("n_keys"))
        perKey.crossJoin(broadcast(totals))
          .orderBy(col("n").desc, col("user_id").asc)
          .limit(10)
          .select(
            col("user_id"), col("n"),
            round(col("n").cast("double") / col("total"), 6).as("share"),
            round(col("n").cast("double") * col("n_keys") / col("total"), 6).as("x_mean"))
      },
      Some("""WITH per_key AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys FROM per_key)
             |SELECT user_id, n,
             |  round(CAST(n AS DOUBLE) / total, 6) AS share,
             |  round(CAST(n AS DOUBLE) * n_keys / total, 6) AS x_mean
             |FROM per_key CROSS JOIN tot
             |ORDER BY n DESC, user_id ASC LIMIT 10""".stripMargin),
      "Join-key skew profiling: per-key load, top-10 hottest keys by share and ratio-to-mean — sort+limit global top-k, broadcast 1-row totals."
    ),
    // --------------------------------------------------- driver-hash probes
    // Negative-control pair: the SAME aggregate values in the two green
    // output representations. r1 (12) and r2 (14) hash-only oracle failures
    // were all and only DECIMAL-typed outputs — including outputs pinned to
    // DECIMAL(38,s) on both engines — while every bigint/double/string output
    // stayed green. Round 3 ran a third probe (probe_hash_decimal, identical
    // values as DECIMAL(38,2)): it ALONE hash-failed while A and B passed
    // (CORRECTNESS_r03.json), confirming the decimal-representation root
    // cause permanently. With the diagnosis pinned, the deliberately-failing
    // probe is retired; A and B stay as regression guards for the two type
    // classes every checked output uses.
    QueryDef(
      "probe_hash_bigint",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(sum(cents(col("value"))).as("v")),
      Some("""SELECT event_type,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
             |FROM events GROUP BY event_type""".stripMargin),
      "Hash negative-control A: scaled-BIGINT output (expected green)."
    ),
    QueryDef(
      "probe_hash_double",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(round(sum(dec(col("value"))).cast("double"), 2).as("v")),
      Some("""SELECT event_type,
             |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS v
             |FROM events GROUP BY event_type""".stripMargin),
      "Hash negative-control B: same values as probe A as a rounded double (expected green)."
    )
  )
}
