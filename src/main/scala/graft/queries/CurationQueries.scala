package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}

/** Corpus-curation operators a production LLM training-data pipeline runs
  * between raw ingest and tokenization — the stages the reference stops
  * short of but a 100 TB run cannot skip:
  *
  *  - repetition-based quality filtering (the Gopher/C4 rule family:
  *    duplicate-token and top-n-gram mass per document);
  *  - benchmark decontamination (drop training docs sharing n-grams with an
  *    eval set — a semi-join on shingles, never a cross comparison);
  *  - deterministic stratified sampling (per-source rates via seeded
  *    hashing — the data-mixing knob, reproducible across runs/engines);
  *  - offset-based sequence packing (concatenate-and-chunk assignment of
  *    documents to fixed token-budget packs via a per-source prefix sum).
  *
  * Scale shapes: filtering and sampling are single-scan column programs;
  * decontamination shuffles on the shingle key (the benchmark side is tiny
  * and stays broadcast); packing is one window per source partition.
  */
object CurationQueries extends QueryModule {
  import PipelineFns._

  /** Token budget per pack (t8): the classic 4k context window. */
  private val PackBudget = 4096L

  /** Token budget per export shard (t19) — a demo-scale constant sized so
    * the testdata's ~27k-token corpus splits into ~13 shards (enough to
    * check balance and hash-dispersion); at a deployment this is the
    * loader's work-unit knob, typically GBs of tokens.
    */
  private val ShardBudget = 2048L

  /** The per-row curation signals (repetition stats, sample bucket) with
    * pass-through columns — single source of truth for the gate thresholds
    * shared by the t7/m6 queries' semantics and [[graft.CorpusDemo]]'s
    * staged funnel.
    */
  def curationSignals(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("source"), col("text"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(array_distinct(col("toks")))).cast("long").as("n_dup_tokens"),
        // top_run_count(shingles(toks, 2)) and size(shingles(toks, 2)),
        // without building the bigram strings
        graft.functions.topBigramCount(col("toks")).as("top_bigram_n"),
        greatest(size(col("toks")) - 1, lit(1)).cast("long").as("n_bigrams"),
        sampleBucket.as("bucket"))

  /** Seeded per-doc sample bucket in [0, 1000) — the mixing knob's
    * membership hash, single-sourced for [[curationSignals]] and m6.
    */
  def sampleBucket: Column =
    pmod(h60(concat(lit("mix1:"), col("doc_id"))), lit(1000L))

  /** Repetition-quality keep gate over [[curationSignals]] columns. */
  def qualityGate: Column =
    col("n_tokens") > 0 &&
      col("n_dup_tokens").cast("double") / col("n_tokens") <= 0.5 &&
      col("top_bigram_n").cast("double") / col("n_bigrams") <= 0.2

  /** Per-source stratified keep-rate (of 1000 hash buckets). */
  def sampleRate: Column =
    when(col("source") === "src1", lit(200L))
      .when(col("source") === "src2", lit(800L)).otherwise(lit(500L))

  /** A source's mixture tier (m7's rule): 1 + (source suffix % 3), over
    * the unbounded suffix (the oracle's 2-arg substring); source ids are
    * 'src<N>' by the documents-table contract.
    */
  private def sourceTier(source: Column): Column =
    lit(1L) + pmod(source.substr(lit(4), length(source)).cast("long"), lit(3L))

  /** The corpus totals over `rs`, the per-source rows folded into one
    * array of `(source, n_tokens, tier, …)` structs (metadata-scale).
    */
  private def mixTotals(rs: Column): Seq[Column] = Seq(
    aggregate(rs, lit(0L), (a, x) => a + x.getField("n_tokens")).as("total_tokens"),
    aggregate(rs, lit(0L), (a, x) => a + x.getField("tier")).as("total_tier"))

  /** A source's token target next to [[mixTotals]]' columns: the budget
    * is half the corpus tokens, split across sources by tier.
    */
  private def tierTarget(tier: Column): Column =
    floor(floor(col("total_tokens").cast("double") / 2).cast("long").cast("double") * tier / col("total_tier"))
      .cast("long")

  /** The curation funnel's budget selection, the step that emits the
    * curated training set. Input: one row per candidate document with
    * `(doc_id, source, nt, qi)` — token count and integer-ppm quality.
    * Per source, documents rank by (quality desc, doc_id asc) — the
    * COMPOSITE key, no packed-long domain bound — and the selection keeps
    * the cumulative-token PREFIX under the source's tiered target: tier =
    * 1 + (source suffix % 3), budget = half the total token supply, each
    * source's target = budget × tier / Σtier (m7's rule).
    * Returns `(source, doc_id, nt, qi, cum_tokens, target_tokens)` for
    * the KEPT rows.
    *
    * A pipeline entry point, so it runs eagerly, on [[graft.RangeBuckets]],
    * in three small jobs: bounds on `(source, −qi, doc_id)` sampled into
    * `segments` buckets, the routed map stage, and each bucket's token sum
    * per source. The driver then derives each source's total, its target
    * and each bucket's exclusive offset. The result is a frame over the
    * routed buckets, each sorted by the rank key: `cum_tokens` is the
    * offset plus the in-bucket running sum. It stores nothing; a caller
    * that reads it more than once caches it. The m11 catalog query keeps
    * the lazy plan ([[budgetSelectPlan]]), which the oracle checks; the
    * two are equal row for row and by schema (BudgetSelectParitySpec).
    */
  def budgetSelect(base: DataFrame, segments: Int): DataFrame = {
    val rows = base.select(col("source"), col("doc_id"), col("nt"), col("qi"))
    val order = Seq(col("source"), -col("qi"), col("doc_id"))
    val bounds = graft.RangeBuckets.sampleBounds(rows, order, segments, "budget bounds")
    val routed = graft.RangeBuckets.route(rows, order, bounds, "budget route")
    val sums = graft.RangeBuckets.groupSums(routed, Seq("source"), "nt", "budget sums")
    // the targets on the driver, from the per-source supply folded into
    // one local row: a projection of a local relation runs no job
    val supply = sums.totals.toSeq.map { case (g, n) => Row(g.get(0), n) }
    val rs = new StructType().add("source", StringType).add("n_tokens", LongType)
    val targets = base.sparkSession
      .createDataFrame(java.util.List.of(Row(supply)), new StructType().add("rs", ArrayType(rs)))
      .select(transform(col("rs"), r => struct(r.getField("source").as("source"),
        r.getField("n_tokens").as("n_tokens"), sourceTier(r.getField("source")).as("tier"))).as("rs"))
      .select(col("rs") +: mixTotals(col("rs")): _*)
      .select(transform(col("rs"), r => struct(r.getField("source"), tierTarget(r.getField("tier")))))
      .collect()(0).getSeq[Row](0)
      .collect { case Row(source: String, target: Long) => source -> target }
    graft.RangeBuckets.withRunningSum(routed.sortWithinPartitions(order: _*), Seq("source"), "nt", sums,
        "cum_tokens")
      .withColumn("target_tokens", element_at(typedLit(targets.toMap), col("source")))
      .filter(col("cum_tokens") <= col("target_tokens"))
  }

  /** [[budgetSelect]] as one lazy plan, the m11 catalog query's: one pass
    * over the candidates, one (source, segment) shuffle for the segmented
    * prefix sum ([[PipelineFns.segmentedCumSumMulti]]), budgets and
    * offsets broadcast. Catalog plans stay lazy: the oracle checks them.
    */
  private[queries] def budgetSelectPlan(base: DataFrame, segments: Int): DataFrame = {
    val withOrd = base.withColumn("negq", -col("qi"))
    val per = base.groupBy(col("source"))
      .agg(sum(col("nt")).cast("long").as("n_tokens"))
      .withColumn("tier", sourceTier(col("source")))
    // corpus totals via the m7 fold (collect_list over the n_sources-row
    // aggregate — metadata-scale, no partition-less window, no second
    // corpus scan)
    val asArray = per
      .agg(collect_list(struct(col("source"), col("n_tokens"), col("tier"))).as("rs"))
      .select(col("rs") +: mixTotals(col("rs")): _*)
    val budgets = asArray
      .select(explode(col("rs")).as("r"), col("total_tokens"), col("total_tier"))
      .select(col("r").getField("source").as("source"),
        tierTarget(col("r").getField("tier")).as("target_tokens"))
    segmentedCumSumMulti(
        withOrd.select(col("doc_id"), col("source"), col("nt"), col("qi"), col("negq")),
        Seq("source"), Seq("negq", "doc_id"), col("nt"), "cum_tokens", segments)
      .join(broadcast(budgets), Seq("source"))
      .filter(col("cum_tokens") <= col("target_tokens"))
      .select(col("source"), col("doc_id"), col("nt"), col("qi"),
        col("cum_tokens").cast("long").as("cum_tokens"), col("target_tokens"))
  }

  /** GPT-2-style pre-tokenizer regex (t9), lookahead-free so Java regex
    * (Spark) and RE2 (DuckDB) agree: contraction suffixes, space-prefixed
    * letter runs, space-prefixed digit runs, space-prefixed punctuation
    * runs. Both engines use leftmost-first alternation.
    */
  private val BpePattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+"
  private val BpePatternSql = BpePattern.replace("'", "''")

  /** Gopher-rule stop list (the reference list trimmed to words the corpus
    * vocabulary can actually contain).
    */
  private val GopherStops = Seq("the", "a", "of", "and", "in", "to", "is")
  private val GopherStopsSql = GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Deny-list vocabulary for the C4-style bad-word scrub (t12); chosen from
    * words that occur in the corpus so the redaction path is exercised.
    */
  private val DenyPattern = "\\b(slow|small|fast)\\b"

  override val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "t10_gopher_rules",
      (s, d) =>
        // Gopher quality-rule family per document: word-count bounds, mean
        // word length bounds, alphabetic-word fraction, minimum distinct
        // stop-word hits. One shuffle-free scan; every signal is exact
        // integer (or one rounded IEEE divide), so the keep gate is
        // bit-reproducible. (The line-shape rules — bullet/ellipsis line
        // fractions — need newline structure this corpus doesn't have; the
        // word-shape rules are the load-bearing ones.)
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(
            col("doc_id"),
            size(col("toks")).cast("long").as("n_words"),
            length(array_join(col("toks"), "")).cast("long").as("n_word_chars"),
            size(array_intersect(col("toks"), typedLit(GopherStops))).cast("long").as("n_stop_hits"),
            size(filter(col("toks"), x => x.rlike("[a-z]"))).cast("long").as("n_alpha_words"))
          .select(
            col("doc_id"), col("n_words"), col("n_stop_hits"),
            when(col("n_words") > 0,
              round(col("n_word_chars").cast("double") / col("n_words"), 6)).as("mean_word_len"),
            when(col("n_words") > 0,
              round(col("n_alpha_words").cast("double") / col("n_words"), 6)).as("alpha_frac"))
          .withColumn("keep",
            when(col("n_words") > 0,
              col("n_words").between(50L, 100000L) &&
                col("mean_word_len").between(3.0, 10.0) &&
                col("alpha_frac") >= 0.8 && col("n_stop_hits") >= 2L)
              .otherwise(lit(false))),
      Some(s"""WITH sig AS (SELECT doc_id,
             |    len(toks) AS n_words,
             |    length(array_to_string(toks, '')) AS n_word_chars,
             |    len(list_intersect(toks, $GopherStopsSql)) AS n_stop_hits,
             |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words
             |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents))
             |SELECT doc_id, n_words, n_stop_hits, mean_word_len, alpha_frac,
             |  CASE WHEN n_words > 0
             |    THEN n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
             |      AND alpha_frac >= 0.8 AND n_stop_hits >= 2
             |    ELSE false END AS keep
             |FROM (SELECT doc_id, n_words, n_stop_hits,
             |    CASE WHEN n_words > 0 THEN round(CAST(n_word_chars AS DOUBLE) / n_words, 6) END AS mean_word_len,
             |    CASE WHEN n_words > 0 THEN round(CAST(n_alpha_words AS DOUBLE) / n_words, 6) END AS alpha_frac
             |  FROM sig)""".stripMargin),
      "Gopher quality rules per doc: word-count + mean-word-length bounds, alphabetic-word fraction, distinct stop-word floor — one shuffle-free scan."
    ),
    QueryDef(
      "t11_span_dedup",
      (s, d) => {
        // C4-style repeated-span removal, corpus-wide: any 4-gram appearing
        // in >= 2 distinct documents is boilerplate; per doc, count how much
        // of it is boilerplate. Spans travel as 60-bit hashes (8-byte
        // shuffle keys, never the strings); the span-frequency table is a
        // grow-with-corpus side, so it joins back by shuffle (AQE may
        // broadcast it when small) rather than a forced broadcast.
        // r18: spread before tokenize — the tokenize+shingle+hash pass ran
        // as the scan's single task at demo file layouts (0.8 of 1.2 s
        // measured); no exchange added at production split counts
        val docs = spreadForCpuWork(s, d,
            Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        // hash INSIDE the array and distinct the hashes, so an intra-doc
        // 60-bit collision merges in-row exactly like the oracle's
        // DISTINCT (doc_id, h) — no extra shuffle
        val spans = docs
          .select(col("doc_id"),
            explode(array_distinct(transform(shingles(col("toks"), 4), sp => h60(sp)))).as("h"))
        // span frequency via a count window on the span-hash partition:
        // spans are per-doc distinct, so count(*) over h IS the distinct-doc
        // count — one shuffle on h and a single scan, instead of scanning +
        // exploding + hashing the corpus twice and joining the frequency
        // table back (the t6 df-via-window shape).
        spans
          .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_spans"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup_spans"))
          .select(
            col("doc_id"), col("n_spans"), col("n_dup_spans"),
            round(col("n_dup_spans").cast("double") / col("n_spans"), 6).as("dup_span_frac"))
          .withColumn("keep", col("dup_span_frac") <= 0.5)
      },
      Some(s"""WITH sp AS (SELECT DISTINCT doc_id, ${h60Sql("s")} AS h FROM (
             |    SELECT doc_id, unnest(${shinglesSql("toks", 4)}) AS s
             |    FROM (SELECT doc_id, $tokensSql AS toks FROM documents))),
             |flagged AS (SELECT h FROM (
             |    SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY h) WHERE nd >= 2)
             |SELECT doc_id, n_spans, n_dup_spans,
             |  round(CAST(n_dup_spans AS DOUBLE) / n_spans, 6) AS dup_span_frac,
             |  round(CAST(n_dup_spans AS DOUBLE) / n_spans, 6) <= 0.5 AS keep
             |FROM (
             |  SELECT doc_id, count(*) AS n_spans,
             |    CAST(sum(CASE WHEN h IN (SELECT h FROM flagged) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
             |  FROM sp GROUP BY doc_id)""".stripMargin),
      "Corpus-wide repeated-span (4-gram) boilerplate detection: spans shuffle as 60-bit hashes, per-doc boilerplate fraction + keep gate (the C4 repeated-span rule)."
    ),
    QueryDef(
      "t12_denylist_scrub",
      (s, d) =>
        // C4-style deny-list scrub: count deny-word hits per doc and emit
        // the redacted text as an md5 fingerprint (the full redacted body
        // would bloat the checked output; the hash pins it exactly).
        // Single scan, no shuffle; regex is word-boundary alternation that
        // Java regex and RE2 evaluate identically.
        Tables.documents(s, d)
          .select(
            col("doc_id"), col("source"),
            size(regexp_extract_all(lower(col("text")), lit(DenyPattern), lit(0)))
              .cast("long").as("n_hits"),
            size(tokens(col("text"))).cast("long").as("n_tokens"),
            md5(regexp_replace(lower(col("text")), DenyPattern, "[x]")).as("redacted_md5"),
            length(regexp_replace(lower(col("text")), DenyPattern, "[x]"))
              .cast("long").as("redacted_len"))
          .withColumn("hit_frac",
            when(col("n_tokens") > 0,
              round(col("n_hits").cast("double") / col("n_tokens"), 6)))
          .withColumn("keep", coalesce(col("hit_frac") <= 0.05, lit(false))),
      Some(s"""SELECT doc_id, source, n_hits, n_tokens, redacted_md5, redacted_len,
             |  CASE WHEN n_tokens > 0 THEN round(CAST(n_hits AS DOUBLE) / n_tokens, 6) END AS hit_frac,
             |  coalesce(CASE WHEN n_tokens > 0 THEN round(CAST(n_hits AS DOUBLE) / n_tokens, 6) END <= 0.05, false) AS keep
             |FROM (
             |  SELECT doc_id, source,
             |    len(regexp_extract_all(lower(text), '\\b(slow|small|fast)\\b')) AS n_hits,
             |    len($tokensSql) AS n_tokens,
             |    md5(regexp_replace(lower(text), '\\b(slow|small|fast)\\b', '[x]', 'g')) AS redacted_md5,
             |    length(regexp_replace(lower(text), '\\b(slow|small|fast)\\b', '[x]', 'g')) AS redacted_len
             |  FROM documents)""".stripMargin),
      "Deny-list scrub (C4 bad-word shape): per-doc hit counts, hit fraction gate, and an md5 fingerprint of the redacted text — one shuffle-free scan."
    ),
    QueryDef(
      "t17_pii_scrub",
      (s, d) => {
        // PII redaction (the Pile/RefinedWeb scrub stage, distinct from the
        // t12 deny-list: PII is REDACTED in place, never a drop gate). The
        // corpus vocabulary contains no natural PII, so deterministic
        // email/phone/IP spans are injected from doc_id — replayable on
        // both engines — and then scrubbed by the three pattern classes in
        // a fixed order (each replacement leaves no token the next class
        // can match). Single shuffle-free scan; patterns are
        // lookahead-free so Java regex and RE2 agree.
        val id = col("doc_id").cast("string")
        val aug = concat(col("text"),
          when(col("doc_id") % 7 === 0, concat(lit(" contact user"), id, lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 3, concat(lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
          when(col("doc_id") % 13 === 5, concat(lit(" node 10.0."), (col("doc_id") % 256).cast("string"), lit("."), (col("doc_id") % 250).cast("string"))).otherwise(lit("")))
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
        val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        Tables.documents(s, d)
          .select(col("doc_id"), aug.as("aug"))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("aug"), lit(emailRe), lit(0))).cast("long").as("n_email"),
            size(regexp_extract_all(col("aug"), lit(phoneRe), lit(0))).cast("long").as("n_phone"),
            size(regexp_extract_all(col("aug"), lit(ipRe), lit(0))).cast("long").as("n_ip"),
            regexp_replace(regexp_replace(regexp_replace(col("aug"),
              emailRe, "[EMAIL]"), phoneRe, "[PHONE]"), ipRe, "[IP]").as("red"))
          .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
            md5(col("red")).as("redacted_md5"),
            length(col("red")).cast("long").as("redacted_len"))
      },
      Some(s"""SELECT doc_id, n_email, n_phone, n_ip,
             |  md5(red) AS redacted_md5,
             |  CAST(length(red) AS BIGINT) AS redacted_len
             |FROM (
             |  SELECT doc_id,
             |    len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_email,
             |    len(regexp_extract_all(aug, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS n_phone,
             |    len(regexp_extract_all(aug, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
             |    regexp_replace(regexp_replace(regexp_replace(aug,
             |      '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '[EMAIL]', 'g'),
             |      '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g'),
             |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g') AS red
             |  FROM (
             |    SELECT doc_id, concat(text,
             |      CASE WHEN doc_id % 7 = 0 THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com') ELSE '' END,
             |      CASE WHEN doc_id % 11 = 3 THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
             |      CASE WHEN doc_id % 13 = 5 THEN concat(' node 10.0.', CAST(doc_id % 256 AS VARCHAR), '.', CAST(doc_id % 250 AS VARCHAR)) ELSE '' END) AS aug
             |    FROM documents))""".stripMargin),
      "PII scrub (emails/phones/IPs redacted in place, never dropped): deterministic injected spans, three lookahead-free pattern classes in fixed order, per-kind counts + redacted fingerprint — one shuffle-free scan."
    ),
    QueryDef(
      "m7_domain_mix",
      (s, d) => {
        // Domain-mixing budgeter: given per-source token supply and a target
        // mixture (tiered weights), compute each source's token budget,
        // sampling rate, and epoch count. The heavy part is one groupBy over
        // the corpus; the mixture math runs on the n_sources-row aggregate
        // (a metadata-scale window, whatever the corpus size).
        val perSource = Tables.documents(s, d)
          .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).cast("long").as("n_tokens"))
          .withColumn("tier", sourceTier(col("source")))
        // corpus totals WITHOUT a partition-less window (which would funnel
        // rows into one task and warn "No Partition Defined") and WITHOUT a
        // self-join stats branch (which re-scans the corpus — pruning makes
        // the two agg subtrees non-identical, so ReuseExchange can't
        // dedupe them): fold the per-source rows into ONE row
        // (collect_list over the n_sources-row aggregate — metadata-scale
        // by construction), take totals over the array, explode back. One
        // corpus scan, one groupBy shuffle, one single-partition
        // final-agg exchange carrying n_sources rows.
        val asArray = perSource
          .agg(collect_list(struct(
            col("source"), col("n_docs"), col("n_tokens"), col("tier"))).as("rs"))
          .select(col("rs") +: mixTotals(col("rs")): _*)
        asArray
          .select(explode(col("rs")).as("r"), col("total_tokens"), col("total_tier"))
          .select(
            col("r").getField("source").as("source"),
            col("r").getField("n_docs").as("n_docs"),
            col("r").getField("n_tokens").as("n_tokens"),
            col("r").getField("tier").as("tier"),
            col("total_tokens"), col("total_tier"))
          .withColumn("target_tokens", tierTarget(col("tier")))
          .select(
            col("source"), col("n_docs"), col("n_tokens"), col("tier"), col("target_tokens"),
            round(least(lit(1.0), col("target_tokens").cast("double") / col("n_tokens")), 6).as("sample_rate"),
            round(col("target_tokens").cast("double") / col("n_tokens"), 6).as("epochs"))
      },
      Some(s"""WITH per_source AS (
             |  SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
             |    1 + (CAST(substring(source, 4) AS BIGINT) % 3) AS tier
             |  FROM (SELECT source, len($tokensSql) AS nt FROM documents)
             |  GROUP BY source),
             |tot AS (SELECT *,
             |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens,
             |    CAST(sum(tier) OVER () AS BIGINT) AS total_tier
             |  FROM per_source),
             |tgt AS (SELECT *,
             |    CAST(floor(CAST(floor(CAST(total_tokens AS DOUBLE) / 2) AS DOUBLE) * tier / total_tier) AS BIGINT) AS target_tokens
             |  FROM tot)
             |SELECT source, n_docs, n_tokens, tier, target_tokens,
             |  round(least(1.0, CAST(target_tokens AS DOUBLE) / n_tokens), 6) AS sample_rate,
             |  round(CAST(target_tokens AS DOUBLE) / n_tokens, 6) AS epochs
             |FROM tgt""".stripMargin),
      "Domain-mixing budgeter: per-source token supply -> tiered target budget, sampling rate, epoch count; corpus groupBy + metadata-scale mixture window."
    ),
    QueryDef(
      "d10_hash_decontaminate",
      (s, d) => {
        // Decontamination at scale: shingles travel as 60-bit hashes (8-byte
        // keys instead of ~30-byte strings — the Bloom/prefilter shape
        // expressed relationally), then hash candidates are verified against
        // the true shingle strings so the result is exact even under hash
        // collisions. One broadcast hash-join; the training side stays
        // map-only.
        // r18: spread before tokenize — the tokenize+shingle pass ran as
        // the scan's single task at demo file layouts (1.2 of 1.6 s
        // measured); no exchange added at production split counts, so the
        // training side stays map-only exactly where the scan parallelizes.
        // r19: carry `source` THROUGH the per-doc hit aggregation instead
        // of joining the hit doc_ids back onto the corpus (guide §2.3/§2.4
        // — the old left join re-shuffled and sorted every train
        // (doc_id, source) row, corpus-scale at 100 TB, to produce
        // |sources|-row counts). The per-doc agg stays exchange-free: the
        // spread's hash(doc_id) partitioning satisfies the
        // groupBy(doc_id, source) clustering. Bench side tokenizes inside
        // the scan task — eval-set-sized at any corpus scale.
        val docsRaw = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
        val bench = docsRaw.filter(col("doc_id") % 97 === 0)
          .select(explode(array_distinct(shingles(tokens(col("text")), 5))).as("bs")).distinct()
          .select(col("bs"), h60(col("bs")).as("h"))
        val train = spreadForCpuWork(s, d,
            docsRaw.filter(col("doc_id") % 97 =!= 0), col("doc_id"))
          .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
        val hits = train
          .select(col("doc_id"), col("source"),
            explode(array_distinct(shingles(col("toks"), 5))).as("sp"))
          .select(col("doc_id"), col("source"), col("sp"), h60(col("sp")).as("h"))
          .join(broadcast(bench), Seq("h"))
          .groupBy(col("doc_id"), col("source"))
          .agg(
            max(lit(1L)).as("cand"),
            max(when(col("sp") === col("bs"), 1L).otherwise(0L)).as("conf"))
        docsRaw.filter(col("doc_id") % 97 =!= 0)
          .groupBy(col("source")).agg(count(lit(1)).as("n_train"))
          .join(
            hits.groupBy(col("source")).agg(
              sum(col("cand")).as("cand"), sum(col("conf")).as("conf")),
            Seq("source"), "left")
          .select(col("source"), col("n_train"),
            coalesce(col("cand"), lit(0L)).cast("long").as("n_candidate_docs"),
            coalesce(col("conf"), lit(0L)).cast("long").as("n_confirmed_docs"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, source, $tokensSql AS toks FROM documents),
             |bench AS (SELECT bs, ${h60Sql("bs")} AS h FROM (
             |    SELECT DISTINCT unnest(${shinglesSql("toks", 5)}) AS bs
             |    FROM docs WHERE doc_id % 97 = 0)),
             |train AS (SELECT * FROM docs WHERE doc_id % 97 <> 0),
             |tsh AS (SELECT DISTINCT doc_id, sp, ${h60Sql("sp")} AS h FROM (
             |    SELECT doc_id, unnest(${shinglesSql("toks", 5)}) AS sp FROM train)),
             |hits AS (SELECT doc_id, 1 AS cand,
             |    max(CASE WHEN sp = bs THEN 1 ELSE 0 END) AS conf
             |  FROM tsh JOIN bench USING (h) GROUP BY doc_id)
             |SELECT source, count(*) AS n_train,
             |  CAST(sum(coalesce(cand, 0)) AS BIGINT) AS n_candidate_docs,
             |  CAST(sum(coalesce(conf, 0)) AS BIGINT) AS n_confirmed_docs
             |FROM train LEFT JOIN hits USING (doc_id) GROUP BY source""".stripMargin),
      "Hash-prefilter decontamination: 5-gram shingles join as 60-bit hashes (8-byte broadcast keys, the Bloom shape), exact string verification of candidates — exact result, map-only training side."
    ),
    QueryDef(
      "d11_span_scrub",
      (s, d) => {
        // Span-LEVEL decontamination: instead of dropping a contaminated
        // document wholesale (d9/d10), compute exactly which token
        // positions the benchmark 5-grams cover (union of hit windows) and
        // how much of the document survives trimming. Window positions ride
        // the posexplode index; coverage is a distinct position count per
        // doc. The bench side stays broadcast; position explosion is
        // bounded by 5× the contaminated-window count, not the corpus.
        // r18: spread before tokenize (same rationale as d10). r19: only
        // the TRAIN side spreads — the bench side is eval-set-sized at any
        // corpus scale and tokenizes inside the scan task
        val docsRaw = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val bench = docsRaw.filter(col("doc_id") % 97 === 0)
          .select(explode(array_distinct(shingles(tokens(col("text")), 5))).as("s")).distinct()
        val train = spreadForCpuWork(s, d,
            docsRaw.filter(col("doc_id") % 97 =!= 0), col("doc_id"))
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n_tokens"))
        val wins = train
          .select(col("doc_id"), col("n_tokens"),
            posexplode(shingles(col("toks"), 5)).as(Seq("p", "sp")))
          .select(col("doc_id"), col("n_tokens"), (col("p") + 1).cast("long").as("i"), col("sp"))
        val cont = wins.join(broadcast(bench), col("sp") === col("s"))
          .filter(col("n_tokens") >= col("i")) // degenerate short-doc guard
          .select(col("doc_id"), col("n_tokens"), col("i"))
        val removed = cont
          .select(col("doc_id"),
            explode(sequence(col("i"), least(col("i") + 4, col("n_tokens")))).as("pos"))
          .distinct()
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_removed"))
        train.select(col("doc_id"), col("n_tokens"))
          .join(removed, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("n_tokens"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            (col("n_tokens") - coalesce(col("n_removed"), lit(0L))).as("n_retained"))
          .withColumn("retained_frac",
            when(col("n_tokens") > 0,
              round(col("n_retained").cast("double") / col("n_tokens"), 6)))
      },
      Some(s"""WITH docs AS (SELECT doc_id, $tokensSql AS toks FROM documents),
             |bench AS (SELECT DISTINCT unnest(${shinglesSql("toks", 5)}) AS s
             |  FROM docs WHERE doc_id % 97 = 0),
             |train AS (SELECT doc_id, toks, len(toks) AS n_tokens
             |  FROM docs WHERE doc_id % 97 <> 0),
             |wins AS (SELECT doc_id, n_tokens, i, array_to_string(toks[i:i+4], ' ') AS sp
             |  FROM (SELECT doc_id, toks, n_tokens,
             |      unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS i FROM train)),
             |cont AS (SELECT doc_id, n_tokens, i FROM wins
             |  WHERE sp IN (SELECT s FROM bench) AND n_tokens >= i),
             |cov AS (SELECT DISTINCT doc_id, pos FROM (
             |    SELECT doc_id, unnest(range(i, least(i + 4, n_tokens) + 1)) AS pos FROM cont)),
             |removed AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
             |SELECT t.doc_id, t.n_tokens,
             |  coalesce(r.n_removed, 0) AS n_removed,
             |  t.n_tokens - coalesce(r.n_removed, 0) AS n_retained,
             |  CASE WHEN t.n_tokens > 0 THEN
             |    round(CAST(t.n_tokens - coalesce(r.n_removed, 0) AS DOUBLE) / t.n_tokens, 6) END AS retained_frac
             |FROM train t LEFT JOIN removed r ON t.doc_id = r.doc_id""".stripMargin),
      "Span-level decontamination: exact token-position coverage of benchmark 5-grams per doc (union of hit windows) -> removed/retained counts — the trim variant of the d9/d10 drop gate."
    ),
    QueryDef(
      "t13_bpe_merge_candidates",
      (s, d) => {
        // The first round of BPE tokenizer training: count adjacent
        // symbol pairs across every pre-token occurrence in the corpus and
        // rank the merge candidates. One explode→explode→groupBy — the
        // shape each merge iteration repeats at scale (pair counts are the
        // shuffle; the merge table itself is metadata-scale). The global
        // top-20 runs two-level: orderBy+limit plans as
        // TakeOrderedAndProject (per-partition top-k, k-row merge — NOT a
        // single-partition rank window, which funnels every pair into one
        // task and warns "No Partition Defined"). Ranks are then assigned
        // to the k survivors by a broadcast self-join bounded at k×k
        // comparisons: rank = how many survivors order at-or-before you.
        // r18: spread before the pre-token regex + pair explode (the whole
        // pass ran as the scan's single task at demo file layouts)
        val top = spreadForCpuWork(s, d,
            Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
          .select(explode(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))).as("pt"))
          .filter(length(col("pt")) >= 2)
          .select(explode(transform(
            sequence(lit(1), length(col("pt")) - 1),
            i => col("pt").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(20)
        val other = top.select(col("pair").as("o_pair"), col("n").as("o_n"))
        top.join(broadcast(other),
            col("o_n") > col("n") || (col("o_n") === col("n") && col("o_pair") <= col("pair")))
          .groupBy(col("pair"), col("n"))
          .agg(count(lit(1)).as("rk"))
          .select(col("rk"), col("pair"), col("n"))
      },
      Some(s"""SELECT rk, pair, n FROM (
             |  SELECT pair, count(*) AS n,
             |    row_number() OVER (ORDER BY count(*) DESC, pair ASC) AS rk
             |  FROM (
             |    SELECT unnest(list_transform(range(1, length(pt)), i -> substring(pt, i, 2))) AS pair
             |    FROM (SELECT unnest(regexp_extract_all(lower(text), '$BpePatternSql')) AS pt
             |      FROM documents)
             |    WHERE length(pt) >= 2)
             |  GROUP BY pair)
             |WHERE rk <= 20""".stripMargin),
      "BPE merge induction, round 1: corpus-wide adjacent symbol-pair counts over pre-token occurrences, top-20 merge candidates with total-order tiebreak."
    ),
    QueryDef(
      "t9_bpe_pretokens",
      (s, d) =>
        // Token counting the way a tokenizer-budget pass does it: whitespace
        // tokens (the cheap upper-bound count) and BPE-style pre-tokens (the
        // unit an actual BPE tokenizer splits further). Total pre-token
        // chars via one array_join — exact integer, no per-element fold.
        Tables.documents(s, d)
          .select(col("doc_id"),
            regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)).as("pt"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"))
          .select(
            col("doc_id"), col("n_ws_tokens"),
            size(col("pt")).cast("long").as("n_pretokens"),
            size(array_distinct(col("pt"))).cast("long").as("n_distinct_pretokens"),
            length(array_join(col("pt"), "")).cast("long").as("n_pretoken_chars"))
          .withColumn("avg_pretoken_len",
            when(col("n_pretokens") > 0,
              round(col("n_pretoken_chars").cast("double") / col("n_pretokens"), 6))),
      Some(s"""SELECT doc_id, n_ws_tokens, n_pretokens, n_distinct_pretokens, n_pretoken_chars,
             |  CASE WHEN n_pretokens > 0
             |    THEN round(CAST(n_pretoken_chars AS DOUBLE) / n_pretokens, 6) END AS avg_pretoken_len
             |FROM (
             |  SELECT doc_id,
             |    len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
             |    len(pt) AS n_pretokens,
             |    len(list_distinct(pt)) AS n_distinct_pretokens,
             |    length(array_to_string(pt, '')) AS n_pretoken_chars
             |  FROM (SELECT doc_id, text,
             |      regexp_extract_all(lower(text), '$BpePatternSql') AS pt
             |    FROM documents))""".stripMargin),
      "Token counting for tokenizer budgeting: whitespace tokens + GPT-2-style BPE pre-tokens (lookahead-free regex, identical across Java regex and RE2)."
    ),
    QueryDef(
      "t7_repetition_quality",
      (s, d) => {
        // Gopher-style repetition signals per document: duplicate-token
        // fraction and the mass of the single most frequent bigram. The
        // bigram mode count is a single fused codegen pass per row over the
        // token array ([[graft.functions.TopBigramCount]]: integer token
        // ids, sorted bigram keys, longest equal run), so the whole filter
        // is one shuffle-free scan (the explode → groupBy(doc, bg)
        // alternative shuffles every bigram; the oracle states the
        // semantics that way, the plan here doesn't pay for it). `toks` is
        // materialized in its own projection so the optimizer doesn't
        // inline the tokenizer into every consumer.
        // signals and the keep gate come from the shared curationSignals/
        // qualityGate — the thresholds live in ONE place, so retuning the
        // production curation stage retunes this audit query too (and its
        // oracle must follow). qualityGate's leading n_tokens > 0 conjunct
        // short-circuits the ANSI divide for token-less documents and
        // yields keep=false, matching the when/otherwise(false) shape;
        // n_bigrams >= 1 by the shingles floor.
        curationSignals(Tables.documents(s, d))
          .select(
            col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
            col("top_bigram_n"), col("n_bigrams"),
            // ANSI mode: guard the token-count divide — a document with no
            // alphanumeric tokens (emoji/CJK/punctuation-only, routine in a
            // real corpus) must yield null fracs, not a DIVIDE_BY_ZERO
            // that kills the whole scan.
            when(col("n_tokens") > 0,
              round(col("n_dup_tokens").cast("double") / col("n_tokens"), 6)).as("dup_token_frac"),
            round(col("top_bigram_n").cast("double") / col("n_bigrams"), 6).as("top_bigram_frac"),
            qualityGate.as("keep"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
             |ts AS (SELECT doc_id, len(toks) AS n_tokens,
             |    len(toks) - len(list_distinct(toks)) AS n_dup_tokens FROM t),
             |b AS (SELECT doc_id, unnest(${shinglesSql("toks", 2)}) AS bg FROM t),
             |bc AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY doc_id, bg),
             |bs AS (SELECT doc_id, max(n) AS top_bigram_n,
             |    CAST(sum(n) AS BIGINT) AS n_bigrams FROM bc GROUP BY doc_id)
             |SELECT ts.doc_id, n_tokens, n_dup_tokens, top_bigram_n, n_bigrams,
             |  CASE WHEN n_tokens > 0
             |    THEN round(CAST(n_dup_tokens AS DOUBLE) / n_tokens, 6) END AS dup_token_frac,
             |  round(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac,
             |  CASE WHEN n_tokens > 0
             |    THEN CAST(n_dup_tokens AS DOUBLE) / n_tokens <= 0.5 AND
             |      CAST(top_bigram_n AS DOUBLE) / n_bigrams <= 0.2
             |    ELSE false END AS keep
             |FROM ts JOIN bs ON ts.doc_id = bs.doc_id""".stripMargin),
      "Repetition-based quality filter (Gopher/C4 rule family): duplicate-token fraction + top-bigram mass per doc, explode + two-level agg (no per-row quadratic scan)."
    ),
    QueryDef(
      "d9_decontaminate",
      (s, d) => {
        // Benchmark decontamination: any training doc sharing a 5-gram with
        // the (deterministic) benchmark subset is flagged. The benchmark
        // shingle set is distinct-projected and — being eval-set-sized,
        // metadata-scale at any corpus size — broadcast into a left-semi
        // join; the training side streams map-only.
        // r19, two shape changes (guide §2.3/§2.4, measured in
        // OPTIMIZATION_r19.md):
        //  - spread before tokenize (d10 rationale: the tokenize+shingle
        //    pass ran as the scan's single task at demo file layouts; no
        //    exchange at production split counts);
        //  - carry `source` THROUGH the contamination distinct instead of
        //    joining the flagged doc_ids back onto the corpus: the old
        //    left join re-shuffled every train (doc_id, source) row and
        //    sorted both sides — corpus-scale at 100 TB — where the
        //    per-source counts only ever need the ~|sources|-row
        //    aggregates. source is functionally determined by doc_id, so
        //    distinct (doc_id, source) ≡ distinct doc_id.
        val docsRaw = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
        // bench side: eval-set-sized at any corpus scale — tokenizing it
        // inside the scan task is the cheap path; only the train side
        // spreads
        val benchShingles = docsRaw.filter(col("doc_id") % 97 === 0)
          .select(explode(shingles(tokens(col("text")), 5)).as("s")).distinct()
        val train = PipelineFns.spreadForCpuWork(s, d,
            docsRaw.filter(col("doc_id") % 97 =!= 0), col("doc_id"))
          .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
        val contaminated = train
          .select(col("doc_id"), col("source"), explode(shingles(col("toks"), 5)).as("s"))
          .join(broadcast(benchShingles), Seq("s"), "left_semi")
          .select(col("doc_id"), col("source")).distinct()
        val perSourceHits = contaminated.groupBy(col("source"))
          .agg(count(lit(1)).as("n_contaminated"))
        docsRaw.filter(col("doc_id") % 97 =!= 0)
          .groupBy(col("source")).agg(count(lit(1)).as("n_train"))
          .join(perSourceHits, Seq("source"), "left")
          .select(col("source"), col("n_train"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, source, $tokensSql AS toks FROM documents),
             |bench AS (SELECT DISTINCT unnest(${shinglesSql("toks", 5)}) AS s
             |  FROM docs WHERE doc_id % 97 = 0),
             |train AS (SELECT * FROM docs WHERE doc_id % 97 <> 0),
             |hits AS (SELECT DISTINCT doc_id FROM (
             |    SELECT doc_id, unnest(${shinglesSql("toks", 5)}) AS s FROM train)
             |  WHERE s IN (SELECT s FROM bench))
             |SELECT source, count(*) AS n_train,
             |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM hits) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
             |FROM train GROUP BY source""".stripMargin),
      "Benchmark decontamination: 5-gram overlap against a broadcast eval shingle set as a left-semi join (training side map-only) — the contamination gate every pretraining corpus runs."
    ),
    QueryDef(
      "d16_contamination_fraction",
      (s, d) => {
        // Per-document contamination SCORE — the graded companion to d9's
        // binary gate, the overlap-fraction metric pretraining reports
        // publish (share of a doc's distinct 5-grams found in the eval
        // set). d9 answers "is it contaminated?"; this answers "how much",
        // which is what threshold-tuning and audit dashboards need. Same
        // scale shape: the benchmark shingle set is eval-set-sized at any
        // corpus scale, broadcast into the per-shingle left join; the
        // training side streams map-only into one partial-aggregated
        // groupBy(doc_id). array_distinct BEFORE explode: the fraction is
        // over a doc's distinct shingles, and deduping per-row also sheds
        // repeated-shingle rows before the shuffle.
        // r19: spread the TRAIN side before tokenize (d9/d10 rationale;
        // 0.6 s single-task stage probed at demo layouts, no exchange at
        // production splits); the bench side is eval-set-sized at any
        // corpus scale and tokenizes inside the scan task
        val docsRaw = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val bench = docsRaw.filter(col("doc_id") % 97 === 0)
          .select(explode(shingles(tokens(col("text")), 5)).as("s")).distinct()
        PipelineFns.spreadForCpuWork(s, d,
            docsRaw.filter(col("doc_id") % 97 =!= 0), col("doc_id"))
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), explode(array_distinct(shingles(col("toks"), 5))).as("s"))
          .join(broadcast(bench.withColumn("hit", lit(1L))), Seq("s"), "left")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_shingles"),
            sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
          .withColumn("contamination",
            round(col("n_hits").cast("double") / col("n_shingles"), 6))
      },
      Some(s"""WITH docs AS (SELECT doc_id, $tokensSql AS toks FROM documents),
             |bench AS (SELECT DISTINCT unnest(${shinglesSql("toks", 5)}) AS s
             |  FROM docs WHERE doc_id % 97 = 0),
             |ds AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("toks", 5)})) AS s
             |  FROM docs WHERE doc_id % 97 <> 0)
             |SELECT doc_id, count(*) AS n_shingles,
             |  CAST(sum(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |  round(CAST(sum(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS contamination
             |FROM ds GROUP BY doc_id""".stripMargin),
      "Per-doc contamination fraction: distinct-5-gram overlap share against the broadcast eval shingle set — the graded decontamination metric (d9 is the binary gate)."
    ),
    QueryDef(
      "m10_temperature_mix",
      (s, d) => {
        // Temperature-based source resampling (τ = 0.5) — the multilingual-
        // corpus mixing rule: per-source keep probability ∝ n^τ / Σ n^τ
        // scaled to a target budget, flattening head sources while keeping
        // tail sources intact (rate caps at 1). Determinism discipline:
        // √n is IEEE-correctly-rounded on both engines (pow is NOT — why
        // τ is 0.5 and not 0.7), the weight denominator is an EXACT
        // integer sum of quantized √n (float summation order could flip a
        // doc at the keep boundary otherwise), and membership is the
        // seeded-h60 uniform against identically-sequenced double ops.
        // Scale shape: per-source agg, 1-row exact total broadcast, rates
        // broadcast back into a map-only membership scan + one audit agg.
        val budget = 200.0
        val docs = Tables.documents(s, d)
        val per = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .withColumn("sq", round(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
        val z = per.agg(sum(col("sq")).as("z"))
        val rates = per.crossJoin(broadcast(z))
          .withColumn("weight", col("sq").cast("double") / col("z").cast("double"))
          .withColumn("rate",
            least(lit(1.0), col("weight") * lit(budget) / col("n_docs").cast("double")))
        val u = h60(concat(lit("m10:"), col("doc_id")))
          .cast("double") / lit(1152921504606846976.0) // 2^60
        val kept = docs.join(broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
          .filter(u < col("rate"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        rates.join(kept, Seq("source"), "left")
          .select(col("source"), col("n_docs"), round(col("weight"), 6).as("weight"),
            round(col("rate"), 6).as("rate"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      },
      Some(s"""WITH per AS (
             |  SELECT source, count(*) AS n_docs,
             |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS sq
             |  FROM documents GROUP BY source),
             |z AS (SELECT CAST(sum(sq) AS BIGINT) AS z FROM per),
             |rates AS (SELECT source, n_docs,
             |    CAST(sq AS DOUBLE) / CAST(z AS DOUBLE) AS weight,
             |    least(1.0, CAST(sq AS DOUBLE) / CAST(z AS DOUBLE) * 200.0 / CAST(n_docs AS DOUBLE)) AS rate
             |  FROM per CROSS JOIN z),
             |kept AS (SELECT d.source, count(*) AS n_kept
             |  FROM documents d JOIN rates r ON d.source = r.source
             |  WHERE CAST(${h60Sql("concat('m10:', doc_id)")} AS DOUBLE) / 1152921504606846976.0 < r.rate
             |  GROUP BY d.source)
             |SELECT r.source, r.n_docs, round(r.weight, 6) AS weight, round(r.rate, 6) AS rate,
             |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
             |FROM rates r LEFT JOIN kept k ON k.source = r.source""".stripMargin),
      "Temperature (τ=0.5) source resampling: keep rate ∝ √n/Σ√n scaled to a budget, seeded-hash membership — the multilingual head-flattening mix rule, exact-integer weight arithmetic."
    ),
    QueryDef(
      "m11_budget_select",
      (s, d) => {
        // m7's budgeter EXECUTED: the materialization step that emits the
        // curated training set. Per source, documents rank by a
        // deterministic quality score (type-token ratio in integer ppm —
        // floor(distinct_tokens × 1e6 / tokens); exact across engines:
        // operands ≤ 1e12 are exactly representable and a non-multiple
        // quotient sits ≥ 1/nt > ulp away from any integer, so floor
        // can't flip) and the selection keeps the cumulative-token PREFIX
        // under the source's tiered target budget (m7's rule, from the
        // same tier and target functions, so the two can't drift). Rank totality: the order
        // key is the COMPOSITE (−quality asc, doc_id asc) — two columns,
        // not a packed long, so no doc_id domain bound exists (a packed
        // doc_id − ppm×1e9 silently mis-ranks once ids reach 1e9, exactly
        // the id range a 100 TB corpus hits) — and the prefix sum runs
        // SEGMENTED on the bounded head column
        // ([[PipelineFns.segmentedCumSumMulti]]: range-bucket −quality
        // (∈ [−1e6, 0] always, ratio ≤ 1), parallel per-segment sums +
        // broadcast segment offsets) instead of a per-source window that
        // caps parallelism at #sources whatever the corpus size.
        // Scale shape: one corpus scan, one (source, seg) shuffle for the
        // prefix sum, budgets and offsets broadcast — never a sort of the
        // whole corpus on one task.
        // NOTE (r18, re-measured r19): spreading this scan regresses m11
        // (0.9 → 1.2 s same-window min-of-3) even though the tokenize runs
        // as two single-task stages — base feeds TWO consumers (per-source
        // budget agg + segmented cum-sum), each re-executing the spread's
        // reduce side, and the two added AQE stages cost more than the
        // serialized tokenize. Left unspread, twice measured.
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("source"),
            size(col("toks")).cast("long").as("nt"),
            size(array_distinct(col("toks"))).cast("long").as("nd"))
          // tokenless docs carry zero budget mass and would NaN the
          // quality ratio (ANSI long-cast error) — gate them out; the
          // testdata floor never exercises this, EdgeInputSpec does
          .filter(col("nt") > 0)
          .withColumn("qi",
            floor(col("nd").cast("double") * lit(1000000) / col("nt").cast("double")).cast("long"))
        // the selection is [[budgetSelectPlan]], the lazy form of the
        // funnel's eager [[budgetSelect]]; the two share the tier and
        // target arithmetic, and a parity spec pins them equal
        budgetSelectPlan(base.select(col("doc_id"), col("source"), col("nt"), col("qi")),
            autoSegments(s))
          .select(col("source"), col("doc_id"), col("nt").as("n_tokens"),
            col("qi").as("quality_ppm"), col("cum_tokens"))
      },
      Some(s"""WITH q AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS nt,
             |    CAST(floor(CAST(len(list_distinct(toks)) AS DOUBLE) * 1000000 / len(toks)) AS BIGINT) AS qi
             |  FROM (SELECT doc_id, source, $tokensSql AS toks FROM documents)
             |  WHERE len(toks) > 0),
             |per AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens,
             |    1 + (CAST(substring(source, 4) AS BIGINT) % 3) AS tier
             |  FROM q GROUP BY source),
             |tot AS (SELECT *,
             |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens,
             |    CAST(sum(tier) OVER () AS BIGINT) AS total_tier
             |  FROM per),
             |tgt AS (SELECT source,
             |    CAST(floor(CAST(floor(CAST(total_tokens AS DOUBLE) / 2) AS DOUBLE) * tier / total_tier) AS BIGINT) AS target_tokens
             |  FROM tot),
             |sel AS (SELECT doc_id, source, nt, qi,
             |    CAST(sum(nt) OVER (PARTITION BY source ORDER BY qi DESC, doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
             |  FROM q)
             |SELECT s.source, s.doc_id, s.nt AS n_tokens, s.qi AS quality_ppm, s.cum_tokens
             |FROM sel s JOIN tgt t ON t.source = s.source
             |WHERE s.cum_tokens <= t.target_tokens""".stripMargin),
      "Budget-capped quality selection: per source, docs ranked by integer-ppm type-token ratio take the cumulative-token prefix under m7's tiered target budget (segmented prefix sum, broadcast budgets) — the materialization step that emits the curated training set."
    ),
    QueryDef(
      "m6_stratified_sample",
      (s, d) => {
        // Deterministic stratified sampling — the data-mixing knob: each
        // source gets its own keep-rate, membership decided by a seeded
        // per-doc hash (reproducible across engines, runs, partitionings;
        // no Bernoulli RNG). Single scan, no shuffle before the audit agg.
        // membership hash and per-source rates come from the shared
        // sampleBucket/sampleRate knobs — retuning the production mixing
        // stage retunes this audit query (and its oracle must follow)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            sampleBucket.as("bucket"), sampleRate.as("rate"))
          .filter(col("bucket") < col("rate"))
          .select(col("doc_id"), col("source"), col("bucket"))
      },
      Some(s"""SELECT doc_id, source, bucket FROM (
             |  SELECT doc_id, source,
             |    ${h60Sql("concat('mix1:', CAST(doc_id AS VARCHAR))")} % 1000 AS bucket,
             |    CASE WHEN source = 'src1' THEN 200
             |         WHEN source = 'src2' THEN 800 ELSE 500 END AS rate
             |  FROM documents)
             |WHERE bucket < rate""".stripMargin),
      "Deterministic stratified sampling per source (seeded-hash membership, per-source rates) — reproducible data mixing with no RNG state."
    ),
    QueryDef(
      "t8_token_packing",
      (s, d) => {
        // Offset-based sequence packing (the concatenate-and-chunk model):
        // per source, documents are laid out in doc_id order; a document's
        // pack is its start offset divided by the token budget. The prefix
        // sum IS the pack assignment — no sequential greedy loop — and it
        // runs SEGMENTED (parallel per-segment sums + broadcast segment
        // offsets, [[PipelineFns.segmentedCumSum]]): a plain per-source
        // cumulative window caps parallelism at #sources whatever the
        // corpus size.
        segmentedCumSum(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tokens")),
          Seq("source"), "doc_id", col("n_tokens"), "cum_tokens", autoSegments(s))
          .withColumn("start_offset", col("cum_tokens") - col("n_tokens"))
          .select(
            col("doc_id"), col("source"), col("n_tokens"), col("start_offset"),
            (col("start_offset") / PackBudget).cast("long").as("pack_id"))
      },
      Some(s"""SELECT doc_id, source, n_tokens, start_offset,
             |  CAST(floor(start_offset / $PackBudget) AS BIGINT) AS pack_id
             |FROM (
             |  SELECT doc_id, source, n_tokens,
             |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_offset
             |  FROM (SELECT doc_id, source, len($tokensSql) AS n_tokens FROM documents))""".stripMargin),
      "Offset-based sequence packing into fixed token budgets (concatenate-and-chunk): per-source prefix-sum window, pack_id = start_offset div budget."
    ),
    QueryDef(
      "t19_shuffled_shards",
      (s, d) => {
        // Deterministic SHUFFLED token-balanced sharding — the training
        // EXPORT step after packing: shards must be (a) random-ordered
        // (consecutive doc_ids in one shard bake ingest order into every
        // training batch), (b) token-balanced (the loader's work unit),
        // and (c) reproducible across runs/engines/partitionings. Order
        // is the seeded 60-bit hash (the engine's RNG-free shuffle, same
        // as m6/m10 membership), tie-broken by doc_id — a COMPOSITE key,
        // the global analog of m11's ranking — and a document's shard is
        // its start offset in that order divided by the shard token
        // budget (t8's rule at CORPUS scope, no source partitioning).
        // Scale shape: the global cumulative sum runs SEGMENTED on the
        // hash head ([[PipelineFns.segmentedCumSumMulti]] with NO
        // partition columns — the one-task global window this replaces is
        // the classic export bottleneck): parallel per-segment windows +
        // a segments-row offset pass, one corpus scan, no global sort on
        // a single task at any corpus size.
        val base = Tables.documents(s, d)
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("hkey", h60(concat(lit("shard:"), col("doc_id"))))
        segmentedCumSumMulti(base, Seq.empty, Seq("hkey", "doc_id"),
            col("n_tokens"), "cum_tokens", autoSegments(s))
          .select(col("doc_id"), col("n_tokens"),
            ((col("cum_tokens") - col("n_tokens")) / ShardBudget).cast("long").as("shard_id"))
      },
      Some(s"""SELECT doc_id, n_tokens,
             |  CAST(floor((cum_tokens - n_tokens) / $ShardBudget) AS BIGINT) AS shard_id
             |FROM (
             |  SELECT doc_id, n_tokens,
             |    CAST(sum(n_tokens) OVER (ORDER BY hkey ASC, doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
             |  FROM (SELECT doc_id, len($tokensSql) AS n_tokens,
             |    ${h60Sql("concat('shard:', doc_id)")} AS hkey FROM documents))""".stripMargin),
      "Deterministic shuffled token-balanced sharding (the training-export step): seeded-hash global order, tie-broken by doc_id, shard = start offset div token budget — a global segmented prefix sum with no partition columns, replacing the one-task global window export bottleneck."
    ),
    QueryDef(
      "t16a_bpe_encode",
      (s, d) =>
        // Applied BPE under the catalog's FROZEN vocabulary — the way a
        // serving tokenizer ships merges.txt, closing the t9 (pretokens) →
        // t13 (merge statistics) loop: greedy-encode each DISTINCT word
        // once against the broadcast [[BpeTokenizer.PinnedMerges]] rank
        // table, join occurrences back on the word key (vocabulary-scale
        // merge work, corpus touched once). Encoding under a fixed rank
        // table is deterministic, so it takes a hard DuckDB oracle — a
        // recursive CTE replaying the identical greedy rounds
        // ([[BpeTokenizer.encodeOracleSql]]). The LEARN half stays
        // spec-pinned: BpeTokenizerSpec asserts PinnedMerges ==
        // learn(wordCounts(sf0.01), 8), so the frozen table cannot drift
        // from the trainer.
        BpeTokenizer
          .pieceCounts(Tables.documents(s, d), BpeTokenizer.ranksOf(BpeTokenizer.PinnedMerges))
          .select(col("doc_id"), col("n_words"), col("n_pieces"),
            round(col("n_pieces").cast("double") / col("n_words"), 4).as("pieces_per_word")),
      Some(BpeTokenizer.encodeOracleSql(BpeTokenizer.PinnedMerges)),
      "Applied BPE encode under the pinned 8-merge vocabulary: distinct-word cached greedy encode + occurrence join-back; hard recursive-CTE oracle (learning spec-pinned to the same table)."
    )
  )
}
