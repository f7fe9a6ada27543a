package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity-search operators over the `embeddings` table
  * (`vec_id: long, embedding: array<float>, label: int`, dim=64).
  *
  * Determinism design: float arithmetic is summation-order-dependent, so a
  * naive dot product can differ between engines (and between cluster
  * topologies). We therefore *quantize* each vector to integers
  * (`round(x*1000)` — the same trick product ANN stacks use for PQ/int8
  * storage) and do all dot products / norms in exact 64-bit integer
  * arithmetic; only the final cosine does (identical, single) IEEE double
  * ops. Results are bit-identical across Spark, DuckDB, and any partition
  * count — which also makes distributed top-k stable without tie luck.
  *
  * Scale design: brute-force kNN broadcasts the (tiny) query set so the big
  * side streams map-only; the ANN path buckets by deterministic hyperplane
  * LSH so candidate joins shuffle on bucket ids instead of crossing.
  */
object EmbeddingQueries extends QueryModule {
  import PipelineFns._
  import IvfCentroids.{NumProbe, cosine, escalate, pqAdc, probeRanking, recall, topK,
    withAdist, withCos, withL2}

  // scale geometry from the active GraftConfig (demo: 6 planes / 8 cells;
  // the 100 TB preset widens to 28 planes / 1e5 cells — see GraftConfig
  // and README "Capacity math"); query code and oracle SQL derive from
  // the same values
  private val Dim = graft.GraftConfig.active.dim
  private val NumPlanes = graft.GraftConfig.active.numHyperplanes
  private val CosineThreshold = 0.4
  private val NumCells = graft.GraftConfig.active.numCells
  private val TrainIters = 2 // sampled-Lloyd rounds for the IVF codebook
  private val SampleMod = 4 // train on vec_id % 4 == 0 (deterministic sample)
  /** v26's dispatch threshold: a label whose candidate mass (excluding the
    * query itself) is at or under this routes to the EXACT
    * label-partitioned tier — scanning its whole partition costs at most
    * this many rows, which is already cheaper than the floor-nprobe IVF
    * probe (NumProbe cells × avg occupancy ≈ 2 × n/C rows ≫ 16 at any
    * serving geometry) AND exact, while IVF cell routing carries no
    * signal for a class scattered this thin (the v24 escalation-curve
    * lesson: recall 0.0 for the rare class at any np).
    */
  private val RareMass = 16

  /** v27's MASS-COVERAGE multiplier α: the adaptive router stops probing
    * when the cumulative router-histogram label mass over the ranked cell
    * prefix reaches α·k, not merely k. Candidate COUNT coverage (v24's
    * rule) is blind to candidate QUALITY: for a mid-selectivity label,
    * k candidates can fill from near cells while the true neighbors sit
    * one quantization boundary away — the exact failure the 100tb-preset
    * AnnDemo measured (recall 0.0 for the 0.048-selectivity class, np
    * stuck at the floor because 3 candidates satisfied k). Probing until
    * the ranker sees ~α× more same-label mass than it returns gives the
    * exact rerank a candidate pool the routing error can hide inside.
    * α = 4 sits in the 3–5 band where the demo's recall curves flatten.
    */
  private val MassAlpha = 4
  /** α·k with the catalog's k = 3 — the v27 coverage target. */
  private val MassCoverK = MassAlpha * 3
  /** v27's dispatch ceiling for the exact tier: a label whose available
    * mass is at or under RareMass is rare (v26's rule), and one whose
    * total mass cannot COVER the α·k target would escalate to np = C for
    * nothing — both serve from the exact label-partitioned tier instead.
    */
  private val ExactTierMax = math.max(RareMass, MassCoverK - 1)

  /** Data-adaptive cell seed `(cid, cq)`: the first
    * `least(NumCells, greatest(1, floor((n/2)^(3/4))))` vectors
    * (IvfCentroids.cappedSeed — the two-level-assignment geometry; full
    * cost model and the sqrt-only/correct-rounding oracle argument on that
    * method. Broadcast 1-row count, no driver action; `count(lit(1))`
    * references no columns so parquet answers from footer row counts). The
    * oracle SQL computes the identical cap from the identical table — a
    * divergence here fails every v6/v7/v10 gate comparison.
    */
  private def cellSeed(s: SparkSession, d: String): DataFrame =
    SharedCaches.getTruncated(s, d, "ivfSeed")(IvfCentroids.cappedSeed(quantized(s, d), NumCells))

  /** The sampled-Lloyd-trained codebook (v6's cells), registered as a
    * shared cache: a k-row table referenced several times per query on top
    * of unrolled training rounds would otherwise re-execute its whole
    * lineage per reference ([[SharedCaches]] has the measured blowup). The
    * in-session analog of serving the [[IvfCentroids.save]] parquet.
    */
  private def trainedCodebook(s: SparkSession, d: String): DataFrame =
    SharedCaches.getTruncated(s, d, "ivfTrained")(
      IvfCentroids.train(quantized(s, d), cellSeed(s, d), TrainIters, SampleMod,
        // Lloyd rounds are sequential; registering each round makes the
        // next round (and the final consumers) read a k-row cache instead
        // of re-executing the whole earlier-round lineage per reference.
        // The final round is the "ivfTrained" registration itself.
        (t, df) => if (t < TrainIters) SharedCaches.getTruncated(s, d, s"ivfTrainRound$t")(df) else df))

  /** Corpus→cell assignment against `codebook`, registered as a shared
    * cache under `key`: the two-level route ([[IvfCentroids.assignHier]])
    * is IVF index BUILD — at scale it runs once and is persisted next to
    * the codebook ([[IvfCentroids.save]]'s parquet sibling), and every
    * serving query reads the materialized (vec_id, cell) table instead of
    * re-routing the corpus. In-session the [[SharedCaches]] registration
    * is that materialization: v6 (trained cells) and v7/v10/v12 (seed
    * cells) each re-routed the identical corpus per query — four
    * assignment subplans' worth of tiny AQE/broadcast stages whose fixed
    * cost dominated the family at demo scale (measured: v6 warm 4.1→
    * sub-2 s; the at-scale win is larger, one O(n^(11/8)) route instead
    * of four). Payload carries (q, n2) — the superset every consumer
    * needs; n2 is a pure function of q so narrower consumers just project.
    * Lifecycle: released with the rest of the registry
    * ([[SharedCaches.release]]).
    */
  private def cachedAssigned(s: SparkSession, d: String, key: String,
                             codebook: => DataFrame): DataFrame =
    SharedCaches.getTruncated(s, d, key) {
      val base = quantized(s, d).withColumn("n2", inorm2(col("q")))
      IvfCentroids.assign(
        base.select(col("vec_id"), col("q"), col("n2")), codebook, Seq("q", "n2"))
    }

  /** (vec_id, q, n2, cell) against the TRAINED codebook — v6's index. */
  private def trainedAssigned(s: SparkSession, d: String): DataFrame =
    cachedAssigned(s, d, "ivfTrainedAssigned", trainedCodebook(s, d))

  /** (vec_id, q, n2, cell) against the raw seed codebook — v7/v10/v12. */
  private def seedAssigned(s: SparkSession, d: String): DataFrame =
    cachedAssigned(s, d, "ivfSeedAssigned", cellSeed(s, d))

  /** v20/v21's per-cell drift terms over [[seedAssigned]]: `n_vecs`, the
    * per-dim sums `sv` (LongVecSum — one partial-combined shuffle, ≤
    * numCells rows), the seed centroid `cq`, and `dsc` = ‖n·c − Σq‖² by the
    * n-scaled identity n²(c·c) − 2n(c·Σq) + (Σq·Σq) in DECIMAL(38,0).
    */
  private def cellDrift(s: SparkSession, d: String): DataFrame = {
    val assigned = seedAssigned(s, d)
    val cent = cellSeed(s, d)
    // decimal-exact dot of two long arrays — runs on ≤ numCells rows,
    // AFTER the LongVecSum shuffle, so the wide arithmetic is free
    def decDot(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("decimal(19,0)") * y.cast("decimal(19,0)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"), (acc, v) => acc + v)
    val nDec = col("n_vecs").cast("decimal(19,0)")
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        graft.functions.LongVecSum.column(col("q")).as("sv"))
      .join(broadcast(cent), col("cell") === col("cid"))
      .withColumn("dsc",
        nDec * nDec * decDot(col("cq"), col("cq"))
          - lit(2).cast("decimal(19,0)") * nDec * decDot(col("cq"), col("sv"))
          + decDot(col("sv"), col("sv")))
  }

  /** SQL mirror of [[cellDrift]]'s inputs (CTEs `base`, `cent`, the
    * assignment, `sums`, `cnt`, and `dots` with the three HUGEINT dot
    * terms `ss`, `cs`, `cc`); v20 and v21 append their own CTEs.
    */
  private def driftSumsSql: String =
    s"""WITH base AS (SELECT vec_id, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
       |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
       |${assignSql("base", "cent", Seq("q", "n2"), "cb", "cbassigned")},
       |sums AS (SELECT cell, pos, CAST(sum(v) AS BIGINT) AS sv
       |  FROM (SELECT cell, unnest(q) AS v, unnest(range(1, $Dim + 1)) AS pos FROM cbassigned)
       |  GROUP BY cell, pos),
       |cnt AS (SELECT cell, count(*) AS n_vecs FROM cbassigned GROUP BY cell),
       |dots AS (SELECT s.cell,
       |    CAST(sum(CAST(s.sv AS HUGEINT) * s.sv) AS HUGEINT) AS ss,
       |    CAST(sum(CAST(c.cv AS HUGEINT) * s.sv) AS HUGEINT) AS cs,
       |    CAST(sum(CAST(c.cv AS HUGEINT) * c.cv) AS HUGEINT) AS cc
       |  FROM sums s JOIN (SELECT cid, unnest(cq) AS cv,
       |      unnest(range(1, $Dim + 1)) AS pos FROM cent) c
       |    ON c.cid = s.cell AND c.pos = s.pos
       |  GROUP BY s.cell)""".stripMargin

  /** The tiered routers' shared LABELED assignment `(vec_id, q, n2, cell,
    * flabel)` — [[seedAssigned]] joined to labels, with v26/v27's
    * deterministic fine-class synthesis (vec_id % 50 == 7 rows move to
    * classes 100 + vec_id % 3, giving rare scattered classes beside the
    * dense ones). Registered as a shared cache for the same reason as the
    * assignment itself: at a deployment labels live NEXT TO the
    * materialized index (v22's label-partitioned inverted lists are
    * literally this table, directory-partitioned), so serving queries
    * read it rather than re-joining the corpus — and in-session, v26 and
    * v27 each referenced the join 4× per query (hist, query seed, exact
    * tier, IVF tier), re-executing the corpus join per reference.
    */
  private def fineLabeled(s: SparkSession, d: String): DataFrame =
    SharedCaches.getTruncated(s, d, "ivfSeedFineLabeled") {
      seedAssigned(s, d)
        .join(quantized(s, d).select(col("vec_id"), col("label")), Seq("vec_id"))
        .withColumn("flabel",
          when(col("vec_id") % 50 === 7, lit(100L) + col("vec_id") % 3)
            .otherwise(col("label").cast("long")))
        .drop("label")
    }

  /** The routers' per-(cell, fine-label) histogram `(cell, qlabel, n_cl)`
    * — shared state, not per-query work: v24/v25 maintain exactly this
    * table incrementally (updateHistogram folds each maintenance day),
    * so serving reads C×|labels| cached rows instead of recomputing a
    * corpus aggregation per query.
    */
  private def fineHist(s: SparkSession, d: String): DataFrame =
    SharedCaches.getTruncated(s, d, "ivfSeedFineHist") {
      fineLabeled(s, d).groupBy(col("cell"), col("flabel"))
        .agg(count(lit(1)).as("n_cl"))
        .withColumnRenamed("flabel", "qlabel")
    }

  /** Pre-materialize the v-family's shared INDEX-side caches (codebooks +
    * corpus→cell assignments) for `(s, d)` — the bench warmup hook. At a
    * deployment these artifacts are BUILT once and PERSISTED
    * ([[IvfCentroids.save]] + the materialized assignment beside it);
    * every serving query reads them. A bench that lets the first measured
    * sample of the first v-query pay sampled-Lloyd training measures
    * index BUILD inside a SERVING number — at the ×10 corpus that showed
    * as v6 max/min ≈ 4 (2.8 s warm vs 11.2 s training-loaded), pure
    * structure, not noise. Build cost stays measured where it belongs:
    * AnnDemo's build_s. Idempotent (SharedCaches registry).
    */
  def warmIndexCaches(s: SparkSession, d: String): Unit = {
    seedAssigned(s, d)
    trainedAssigned(s, d)
    // the tiered routers' serving state: labeled assignment + router
    // histogram (C×|labels| + n skinny rows — metadata-scale)
    fineHist(s, d)
    // the SQ8 tier's per-dim stats row (persisted beside the codes at a
    // deployment; 1 row — see sq8Stats)
    sq8Stats(s, d)
  }

  /** The same cap as a SQL scalar subquery over the base CTE — the exact
    * Spark op sequence (divide, sqrt, multiply, sqrt, floor: all IEEE
    * correctly-rounded, hence bit-identical across engines).
    */
  private def cellCapSql(baseCte: String): String =
    s"(SELECT least($NumCells, greatest(1, CAST(floor(sqrt((count(*) / 2.0) * sqrt(count(*) / 2.0))) AS BIGINT))) FROM $baseCte)"

  /** Exact-integer squared-L2 between two BIGINT lists (DuckDB). */
  private def l2ListSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, $Dim + 1), i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i])))"

  /** SQL mirror of [[IvfCentroids.assign]] — the preset dispatcher.
    * Always terminates in a CTE named `<out>` with columns
    * (vec_id, payload…, cell); emits [[flatAssignSql]]'s single argmin CTE
    * at the demo routing depth and [[hierAssignSql]]'s four two-level CTEs
    * at the capacity depth, so Spark plan and oracle can never disagree on
    * the assignment rule.
    */
  private def assignSql(baseCte: String, centCte: String,
                        payload: Seq[String], pfx: String, out: String): String =
    if (graft.GraftConfig.active.ivfRouted) hierAssignSql(baseCte, centCte, payload, pfx, out)
    else flatAssignSql(baseCte, centCte, payload, out)

  /** SQL mirror of [[IvfCentroids.assignFlat]]: one exact argmin CTE with
    * the (dist, cid)-ascending tie-break.
    */
  private def flatAssignSql(baseCte: String, centCte: String,
                            payload: Seq[String], out: String): String = {
    def cols(q: String) = payload.map(c => s"$q.$c").mkString(", ")
    val bare = payload.mkString(", ")
    s"""$out AS (SELECT vec_id, $bare, cell FROM (
       |    SELECT b.vec_id, ${cols("b")}, c.cid AS cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY ${l2ListSql("b.q", "c.cq")} ASC, c.cid ASC) AS crk
       |    FROM $baseCte b CROSS JOIN $centCte c) WHERE crk = 1)""".stripMargin
  }

  /** SQL mirror of [[IvfCentroids.assignHier]] — emits four CTEs
    * (`<pfx>g` coarse, `<pfx>cg` fine→group, `<pfx>rt` routed top-W
    * groups, `<out>` assigned with columns vec_id, payload…, cell),
    * replaying the identical two-level multiprobe argmin with the
    * identical (dist, id)-ascending tie-breaks: each vector routes
    * through its `ivfRouteWidth` nearest coarse groups and the final
    * argmin runs over their union of cells — the same W the Spark side
    * reads from GraftConfig.active.
    * `baseCte` must expose (vec_id, payload…); `centCte` (cid, cq).
    */
  private def hierAssignSql(baseCte: String, centCte: String,
                            payload: Seq[String], pfx: String, out: String): String = {
    def cols(q: String) = payload.map(c => s"$q.$c").mkString(", ")
    val bare = payload.mkString(", ")
    val routeW = graft.GraftConfig.active.ivfRouteWidth
    s"""${pfx}g AS (SELECT cid AS gid, cq AS gq FROM $centCte
       |  WHERE cid < (SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM $centCte)),
       |${pfx}cg AS (SELECT gid, cid, cq FROM (
       |    SELECT g.gid, c.cid, c.cq,
       |      row_number() OVER (PARTITION BY c.cid ORDER BY ${l2ListSql("c.cq", "g.gq")} ASC, g.gid ASC) AS grk
       |    FROM $centCte c CROSS JOIN ${pfx}g g) WHERE grk = 1),
       |${pfx}rt AS (SELECT vec_id, $bare, gid FROM (
       |    SELECT b.vec_id, ${cols("b")}, g.gid,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY ${l2ListSql("b.q", "g.gq")} ASC, g.gid ASC) AS grk
       |    FROM $baseCte b CROSS JOIN ${pfx}g g) WHERE grk <= $routeW),
       |$out AS (SELECT vec_id, $bare, cell FROM (
       |    SELECT r.vec_id, ${cols("r")}, c.cid AS cell,
       |      row_number() OVER (PARTITION BY r.vec_id ORDER BY ${l2ListSql("r.q", "c.cq")} ASC, c.cid ASC) AS crk
       |    FROM ${pfx}rt r JOIN ${pfx}cg c ON c.gid = r.gid) WHERE crk = 1)""".stripMargin
  }

  /** DuckDB mirror of [[IvfCentroids.train]]: `TrainIters` unrolled
    * assign + floor-mean rounds over the deterministic sample, starting from
    * the capped cell seed (see [[cellSeed]]). Requires a `base` CTE with
    * (vec_id, q).
    * The final centroids are CTE `cent` (cid, cq).
    */
  private def centroidTrainSql: String = {
    val init =
      s"""samp AS (SELECT vec_id, q FROM base WHERE vec_id % $SampleMod = 0),
         |cent0 AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")})""".stripMargin
    val rounds = (1 to TrainIters).map { t =>
      // per-round two-level routed assignment of the sample (the Scala
      // train() calls assignHier per iteration — same CTEs, same tie-breaks)
      s"""${assignSql("samp", s"cent${t - 1}", Seq("q"), s"h$t", s"hasg$t")},
         |asg$t AS (SELECT cell AS cid, q FROM hasg$t),
         |mean$t AS (SELECT cid, list(m ORDER BY pos) AS mq FROM (
         |    SELECT cid, pos, CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS m
         |    FROM (SELECT cid, unnest(q) AS v, unnest(range(1, $Dim + 1)) AS pos FROM asg$t)
         |    GROUP BY cid, pos) GROUP BY cid),
         |cent$t AS (SELECT c.cid, COALESCE(m.mq, c.cq) AS cq
         |  FROM cent${t - 1} c LEFT JOIN mean$t m ON c.cid = m.cid)""".stripMargin
    }
    (Seq(init) ++ rounds ++ Seq(s"cent AS (SELECT cid, cq FROM cent$TrainIters)")).mkString(",\n")
  }

  /** Quantized int vector: round(double(x) * 1000) — one codegen pass
    * ([[graft.functions.QuantizeVec]], BigDecimal HALF_UP exactly like the
    * built-in round) instead of the interpreted transform chain.
    */
  private def qvec(emb: Column): Column =
    graft.functions.quantizeVec(emb, 1000)

  private val qvecSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  private def idotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, $Dim + 1), i -> ($a)[i] * ($b)[i]))"

  private def inorm2(a: Column): Column =
    graft.functions.longDot(a, a)

  private def inorm2Sql(a: String): String =
    s"list_sum(list_transform($a, x -> x * x))"

  /** SQL mirror of [[IvfCentroids.cosine]] over precomputed integer parts. */
  private def cosineSql(dot: String, n2a: String, n2b: String): String =
    s"CAST($dot AS DOUBLE) / (sqrt(CAST($n2a AS DOUBLE)) * sqrt(CAST($n2b AS DOUBLE)))"

  /** Deterministic integer hyperplane component for plane p, 1-based dim i:
    * h60("plane<p>:<i>") % 2001 - 1000 ∈ [-1000, 1000]. The planes are
    * constants of the plan, so the Spark side folds them at build time into
    * literal arrays (the oracle re-derives them per row — identical values,
    * and the oracle only runs at sf0.01).
    */
  private lazy val planeVecs: IndexedSeq[Array[Long]] =
    (0 until NumPlanes).map { p =>
      (1 to Dim).map(i => h60Jvm(s"plane$p:$i") % 2001 - 1000).toArray
    }

  private def planeComponentSql(p: Int, i: String): String =
    s"${h60Sql(s"concat('plane$p:', CAST($i AS VARCHAR))")} % 2001 - 1000"

  /** `NumPlanes`-bit LSH bucket id (demo preset: 6 planes / 64 buckets;
    * 100tb preset: 28 planes): sign bits of integer dots with md5-derived
    * pseudo-random integer hyperplanes — no stored model state.
    */
  private def lshBucket(q: Column): Column =
    (0 until NumPlanes).map { p =>
      when(
        graft.functions.longDot(q, typedLit(planeVecs(p))) > 0,
        lit(1 << p)
      ).otherwise(lit(0))
    }.reduce(_ + _)

  private val lshBucketSql =
    (0 until NumPlanes).map { p =>
      s"""CASE WHEN list_sum(list_transform(range(1, $Dim + 1), i -> q[i] * (${planeComponentSql(p, "i")}))) > 0
         | THEN ${1 << p} ELSE 0 END""".stripMargin
    }.mkString("(", " + ", ")")

  private def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("label"), qvec(col("embedding")).as("q"))

  /** EMBEDDING-SPACE decontamination (the v13 operator) — the semantic
    * companion to the token-overlap family (d9/d10/d16 exact n-grams, d17
    * fuzzy Jaccard): a training item whose embedding is near an eval
    * item's is contamination even when a paraphrase shares no n-grams at
    * all. The eval side is eval-set-sized at any corpus scale, so its
    * (quantized) vectors broadcast and the corpus side is ONE map-only
    * scan folding the |eval| cosines into a partial-aggregated argmax per
    * vector — no shuffle wider than one row per corpus vector, linear in n
    * at fixed eval size. Same determinism contract as the rest of the
    * family: exact integer dots, single-IEEE-op cosine, (cos, -eval_id)
    * struct max for tie-free argmax.
    *
    * `evalCap` bounds the eval side's vec_id: the catalog runs unbounded
    * (the `%97` harness convention — eval grows 1/97th of the corpus), the
    * scale harness passes the ×1 corpus's id stride to pin the eval set at
    * its ×1 size while the corpus side grows — the PRODUCTION shape (a
    * fixed benchmark suite screened against an ever-growing corpus).
    */
  def semanticDecontaminate(s: SparkSession, d: String, evalCap: Long = Long.MaxValue): DataFrame = {
    val isEval = col("vec_id") % 97 === 0 && col("vec_id") < evalCap
    val base = quantized(s, d).withColumn("n2", inorm2(col("q")))
    val evals = base.filter(isEval)
      .select(col("vec_id").as("eval_id"), col("q").as("eq"), col("n2").as("en2"))
    base.filter(!isEval)
      .select(col("vec_id"), col("q"), col("n2"))
      .join(broadcast(evals))
      .withColumn("cos", cosine(col("q"), col("eq"), col("n2"), col("en2")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("eval_id")).as("nid"))).as("m"))
      .select(col("vec_id"), (-col("m.nid")).as("eval_id"),
        round(col("m.cos"), 6).as("max_cos"),
        (col("m.cos") >= CosineThreshold).as("contaminated"))
  }

  /** PQ geometry: 64 dims → `PqSub` subspaces × `PqSubDim` dims, `PqCodes`
    * codewords per subspace (first-`PqCodes` seed codebook — per-subspace
    * k-means at scale, the IvfCentroids seam).
    */
  private val PqSub = graft.GraftConfig.active.pqSub
  private val PqSubDim = graft.GraftConfig.active.pqSubDim
  private val PqCodes = 16

  /** Per-(vector, subspace) nearest-codeword assignment: columns
    * (vec_id, sub, shift, code, dist). Codebook is broadcast; exact integer
    * L2, ties to the lowest code id. Shared by v8 (code packing) and v9
    * (ADC serving).
    */
  private def pqShifts = typedLit((0 until PqSub).map(sb => 1L << (4 * sb)))

  /** Per-subspace codebook slices: (code, csub, cq). */
  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    quantized(s, d).filter(col("vec_id") < PqCodes)
      .select(col("vec_id").as("code"), col("q"),
        posexplode(pqShifts).as(Seq("csub", "cshift")))
      .select(col("code"), col("csub"),
        slice(col("q"), col("csub") * PqSubDim + 1, lit(PqSubDim)).as("cq"))

  /** Per-query PQ distance table (query_id, sub, code, qd): integer L2 from
    * each query subvector to every codeword — 8×16 longs per query,
    * broadcast at the ADC join site. Shared by v9 and v10.
    */
  private def pqQueryDtable(s: SparkSession, d: String): DataFrame = {
    val queries = quantized(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q"),
        posexplode(pqShifts).as(Seq("qsub", "qshift")))
      .select(col("query_id"), col("qsub"),
        slice(col("q"), col("qsub") * PqSubDim + 1, lit(PqSubDim)).as("qq"))
    queries.join(broadcast(pqCodebook(s, d)), col("qsub") === col("csub"))
      .select(col("query_id"), col("qsub").as("sub"), col("code"),
        IvfCentroids.l2(col("qq"), col("cq")).as("qd"))
  }

  /** SQL mirror of [[pqQueryDtable]] (CTEs `qs` + `dt`); requires the
    * [[pqAssignSql]] CTEs in scope.
    */
  private def pqDtableSql =
    s"""qs AS (SELECT vec_id AS query_id, sub AS qsub, q[$PqSubDim*sub+1:$PqSubDim*sub+$PqSubDim] AS qq
       |  FROM pqbase CROSS JOIN subs WHERE vec_id < 10),
       |dt AS (SELECT query_id, qsub AS sub, code,
       |    list_sum(list_transform(range(1, ${PqSubDim + 1}), i -> (qq[i] - cq[i]) * (qq[i] - cq[i]))) AS qd
       |  FROM qs JOIN cb ON qs.qsub = cb.csub)""".stripMargin

  private def pqAssignments(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
      .select(col("vec_id"), col("q"),
        posexplode(pqShifts).as(Seq("sub", "shift")))
      .select(col("vec_id"), col("sub"), col("shift"),
        slice(col("q"), col("sub") * PqSubDim + 1, lit(PqSubDim)).as("sq"))
    // argmin codeword as a min_by aggregation (map-side partial collapse of
    // the 16 joined codebook copies; no 16×-row window shuffle+sort);
    // struct(dist, code) is a total order so ties are impossible
    base.join(broadcast(pqCodebook(s, d)), col("sub") === col("csub"))
      .withColumn("dist", IvfCentroids.l2(col("sq"), col("cq")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(struct(col("shift"), col("code"), col("dist")),
        struct(col("dist"), col("code"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.shift").as("shift"),
        col("m.code").as("code"), col("m.dist").as("dist"))
  }

  /** Shared SQL CTEs for the PQ assignment (same columns as
    * [[pqAssignments]], CTE name `asg`); prefix with WITH at the use site.
    */
  // def, not val: interpolates quantizedSql, which is declared later in
  // this object (a val here would capture null at init time)
  private def pqAssignSql =
    {
    // geometry interpolated from the SAME GraftConfig fields the Spark side
    // uses (pqShifts / PqSubDim / PqCodes) — a preset changing the PQ split
    // must move both engines together or the header invariant breaks
    val subsValues = (0 until PqSub)
      .map(i => s"($i, ${BigInt(PqCodes).pow(i)})").mkString(", ")
    s"""pqbase AS (SELECT vec_id, q FROM ($quantizedSql)),
       |subs AS (SELECT * FROM (VALUES $subsValues) AS v(sub, shift)),
       |bs AS (SELECT vec_id, sub, shift, q[$PqSubDim*sub+1:$PqSubDim*sub+$PqSubDim] AS sq FROM pqbase CROSS JOIN subs),
       |cb AS (SELECT vec_id AS code, sub AS csub, q[$PqSubDim*sub+1:$PqSubDim*sub+$PqSubDim] AS cq
       |  FROM pqbase CROSS JOIN subs WHERE vec_id < $PqCodes),
       |asg AS (SELECT vec_id, sub, shift, code, dist FROM (
       |  SELECT vec_id, sub, shift, code,
       |    list_sum(list_transform(range(1, ${PqSubDim + 1}), i -> (sq[i] - cq[i]) * (sq[i] - cq[i]))) AS dist,
       |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY
       |      list_sum(list_transform(range(1, ${PqSubDim + 1}), i -> (sq[i] - cq[i]) * (sq[i] - cq[i]))) ASC, code ASC) AS crk
       |  FROM bs JOIN cb ON bs.sub = cb.csub) WHERE crk = 1)""".stripMargin
  }

  private val quantizedSql =
    s"SELECT vec_id, label, $qvecSql AS q FROM embeddings"

  /** SQ8 reconstructions `(vec_id, xh)`: per-dim affine 8-bit codes
    * against the corpus's per-dim [min, max] (ONE partial-aggregated
    * stats row, broadcast back — the scalar-join pattern), dequantized in
    * pure integer arithmetic (mod-subtract exact division; operands
    * nonnegative and ≤ ~1e6, so the IEEE divide of exact multiples is
    * exact in both engines). Shared by v17 (ADC serving) and v18 (recall
    * audit). Production stores the CODES (1 B/dim); the catalog encodes
    * in-line because the corpus is the testdata parquet.
    */
  private def sq8Recon(s: SparkSession, d: String): DataFrame =
    withSq8Recon(quantized(s, d), s, d).select(col("vec_id"), col("xh"))

  /** `df` plus the SQ8 reconstruction `xh` of its `q`, dequantized inline
    * against the broadcast stats row.
    */
  private def withSq8Recon(df: DataFrame, s: SparkSession, d: String): DataFrame =
    df.crossJoin(broadcast(sq8Stats(s, d)))
      .withColumn("xh", IvfCentroids.sq8Dequant(col("q"), col("mns"), col("rng")))

  /** The SQ8 per-dim stats row `(mns, rng)` — ONE partial-aggregated
    * corpus aggregate, broadcast back to every consumer (the scalar-join
    * pattern). Split out of [[sq8Recon]] so serving paths (v19) can
    * dequantize CANDIDATE rows inline instead of joining a corpus-wide
    * reconstruction table. Registered as a shared cache: at a deployment
    * the stats row is PERSISTED next to the SQ8 codes it defines (codes
    * are meaningless without it), so serving samples must not re-scan the
    * corpus for it — the ×10 sweep showed v17 max/min ≈ 2 from exactly
    * this row's rebuild on the first sample.
    */
  private def sq8Stats(s: SparkSession, d: String): DataFrame =
    SharedCaches.getTruncated(s, d, "sq8Stats")(IvfCentroids.sq8Stats(quantized(s, d), Dim))

  /** SQL mirror of [[sq8Recon]] (CTEs `mm`, `st`, `enc`); requires a
    * `base` CTE of [[quantizedSql]] in scope.
    */
  private val sq8ReconSql =
    s"""mm AS (SELECT pos, min(v) AS mn, max(v) - min(v) AS r FROM (
       |    SELECT unnest(q) AS v, unnest(range(1, $Dim + 1)) AS pos FROM base) GROUP BY pos),
       |st AS (SELECT list(mn ORDER BY pos) AS mns, list(r ORDER BY pos) AS rng FROM mm),
       |enc AS (SELECT vec_id, list_transform(range(1, $Dim + 1), i ->
       |    mns[i] + ((CASE WHEN rng[i] = 0 THEN 0 ELSE ((q[i] - mns[i]) * 255) // rng[i] END) * rng[i]) // 255) AS xh
       |  FROM base, st)""".stripMargin

  // ---- compositions of the IvfCentroids search core (probeRanking →
  // escalate → score → topK → recall) shared by the v-family bodies

  /** A top-k as served rows: query_id, `lead`…, rk (long), neighbor_id,
    * `score`.
    */
  private def neighbors(top: DataFrame, score: Column, lead: Column*): DataFrame =
    top.select(Seq(col("query_id")) ++ lead ++
      Seq(col("rk").cast("long").as("rk"), col("vec_id").as("neighbor_id"), score): _*)

  /** A top-k as a recall arm: (query_id, neighbor_id). */
  private def ids(top: DataFrame): DataFrame =
    top.select(col("query_id"), col("vec_id").as("neighbor_id"))

  /** Filtered-ANN candidates: `assigned` rows in each query's probed
    * cells (broadcast `probes`), self excluded, whose `label` column (from
    * `labels`, joined back by pk) matches the query's `qlabel`. At serving
    * scale the label lives in the inverted-list payload and this is a
    * scan-level pushdown; in-session the pk join keeps the family on ONE
    * materialized assignment.
    */
  private def probedSameLabel(assigned: DataFrame, probes: DataFrame,
      labels: DataFrame, label: String): DataFrame =
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(labels, Seq("vec_id"))
      .filter(col(label) === col("qlabel"))

  /** The tiered routers (v26/v27): queries where `exactTier` holds are
    * served top-3 from their label's whole partition (exact, bounded rows;
    * np_used 0), the rest by [[escalate]] to mass `target` over the
    * probe ranking and an exact rerank of the probed same-label cells.
    * `queries` carries (query_id, qlabel, qq, qn2, qcell, …).
    */
  private def tiered(s: SparkSession, d: String, queries: DataFrame,
      exactTier: Column, target: Int): DataFrame = {
    val labeled = fineLabeled(s, d)
    def top3(cand: DataFrame) = topK(withAdist(cand), "adist", 3, asc = true)
    val exact = top3(labeled
        .join(broadcast(queries.filter(exactTier)
            .select(col("query_id"), col("qlabel"), col("qq"), col("qn2"))),
          col("flabel") === col("qlabel") && col("vec_id") =!= col("query_id")))
    val dense = queries.filter(!exactTier)
      .select(col("query_id"), col("qlabel"), col("qq"), col("qn2"), col("qcell"))
    val probes = escalate(probeRanking(dense, cellSeed(s, d)), fineHist(s, d), target)
    val ivf = top3(probedSameLabel(labeled.select(col("vec_id"), col("q"), col("n2"), col("cell")),
      probes, labeled.select(col("vec_id"), col("flabel")), "flabel"))
    neighbors(exact, col("adist"), lit("exact").as("tier"), lit(0L).as("np_used"))
      .unionByName(neighbors(ivf, col("adist"), lit("ivf").as("tier"), col("np_used")))
  }

  override val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "v1_knn_bruteforce",
      (s, d) => {
        val base = quantized(s, d).withColumn("n2", inorm2(col("q")))
        val queries = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("qn2"))
        // broadcast the tiny query set: the corpus side is a map-only scan
        // (no shuffle of the big table) — the 100 TB-safe brute-force shape.
        neighbors(topK(withCos(base.join(broadcast(queries), col("vec_id") =!= col("query_id"))),
          "cos", 5, asc = false), round(col("cos"), 6).as("cos"))
      },
      Some(s"""WITH base AS (SELECT vec_id, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql))
             |SELECT query_id, rk, neighbor_id, round(cos, 6) AS cos FROM (
             |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
             |    ${cosineSql(idotSql("b.q", "q.q"), "b.n2", "q.n2")} AS cos,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY ${cosineSql(idotSql("b.q", "q.q"), "b.n2", "q.n2")} DESC, b.vec_id ASC) AS rk
             |  FROM base q JOIN base b ON b.vec_id <> q.vec_id WHERE q.vec_id < 10)
             |WHERE rk <= 5""".stripMargin),
      "Brute-force cosine top-5 kNN for a broadcast query set (baseline ANN; exact int arithmetic)."
    ),
    QueryDef(
      "v2_lsh_buckets",
      (s, d) =>
        quantized(s, d)
          .withColumn("bucket", lshBucket(col("q")))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_vectors"), countDistinct(col("label")).as("n_labels")),
      Some(s"""SELECT bucket, count(*) AS n_vectors, count(DISTINCT label) AS n_labels
             |FROM (SELECT label, $lshBucketSql AS bucket FROM ($quantizedSql))
             |GROUP BY bucket""".stripMargin),
      s"Hyperplane-LSH bucket assignment ($NumPlanes md5-derived integer hyperplanes -> ${1L << NumPlanes} buckets) + occupancy stats."
    ),
    QueryDef(
      "v3_lsh_ann",
      (s, d) => {
        val base = quantized(s, d)
          .withColumn("n2", inorm2(col("q")))
          .withColumn("bucket", lshBucket(col("q")))
        val queries = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("qn2"), col("bucket").as("qbucket"))
        // candidates restricted to the query's bucket: join shuffles on
        // bucket id, quadratic work stays inside buckets.
        neighbors(topK(withCos(base.join(broadcast(queries),
            col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))),
          "cos", 3, asc = false), round(col("cos"), 6).as("cos"))
      },
      Some(s"""WITH base AS (
             |  SELECT vec_id, q, ${inorm2Sql("q")} AS n2, $lshBucketSql AS bucket FROM ($quantizedSql))
             |SELECT query_id, rk, neighbor_id, round(cos, 6) AS cos FROM (
             |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
             |    ${cosineSql(idotSql("b.q", "q.q"), "b.n2", "q.n2")} AS cos,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY ${cosineSql(idotSql("b.q", "q.q"), "b.n2", "q.n2")} DESC, b.vec_id ASC) AS rk
             |  FROM base q JOIN base b ON b.bucket = q.bucket AND b.vec_id <> q.vec_id
             |  WHERE q.vec_id < 10)
             |WHERE rk <= 3""".stripMargin),
      "LSH-bucketed approximate NN: same-bucket candidates only, exact cosine rerank, top-3."
    ),
    QueryDef(
      "v4_cosine_near_dup_pairs",
      (s, d) => {
        val base = quantized(s, d)
          .withColumn("n2", inorm2(col("q")))
          .withColumn("bucket", lshBucket(col("q")))
        base.as("a")
          .join(base.as("b"), col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .withColumn("cos", cosine(col("a.q"), col("b.q"), col("a.n2"), col("b.n2")))
          .filter(col("cos") >= CosineThreshold)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), round(col("cos"), 6).as("cos"))
      },
      Some(s"""WITH base AS (
             |  SELECT vec_id, q, ${inorm2Sql("q")} AS n2, $lshBucketSql AS bucket FROM ($quantizedSql))
             |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |  round(${cosineSql(idotSql("a.q", "b.q"), "a.n2", "b.n2")}, 6) AS cos
             |FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             |WHERE ${cosineSql(idotSql("a.q", "b.q"), "a.n2", "b.n2")} >= $CosineThreshold""".stripMargin),
      "Embedding-cosine near-dup pairs: LSH-bucketed candidate join, cosine >= 0.4."
    ),
    QueryDef(
      "v5_label_centroids",
      (s, d) => {
        // IVF-style coarse quantizer: exact integer centroid sums per label
        // via the LongVecSum Aggregator — one shuffle with map-side partial
        // vectors instead of a 64× explode blowup. Integer math is
        // commutative-exact, so any merge order gives identical results.
        quantized(s, d)
          .groupBy(col("label"))
          .agg(graft.functions.LongVecSum.column(col("q")).as("sv"))
          .select(
            col("label"),
            size(col("sv")).cast("long").as("dim"),
            graft.functions.longDot(col("sv"), col("sv")).as("norm2_scaled")
          )
      },
      Some(s"""SELECT label, count(*) AS dim,
             |  CAST(sum(sv * sv) AS BIGINT) AS norm2_scaled
             |FROM (SELECT label, pos, CAST(sum(v) AS BIGINT) AS sv
             |  FROM (SELECT label, unnest(q) AS v, unnest(range(1, $Dim + 1)) AS pos FROM ($quantizedSql))
             |  GROUP BY label, pos)
             |GROUP BY label""".stripMargin),
      "IVF-style label centroids: exact integer per-dimension sums, scaled squared norm per label."
    ),
    QueryDef(
      "v6_ivf_ann",
      (s, d) => {
        // Real IVF probe path: a sampled-Lloyd-trained centroid codebook
        // ([[IvfCentroids]] — deterministic integer k-means; at scale it is
        // its own offline job writing a codebook parquet, IvfCentroids.save/
        // load), broadcast to (a) route every vector to its cell via the
        // shared two-level assignment ([[trainedAssigned]]) and (b) give each
        // query its nprobe=2 closest cells (exact probe ranking, 10 queries
        // only). Candidates = vectors in probed cells; exact cosine rerank,
        // top-3. The only shuffle is the candidate equi-join on cell id.
        val queries = quantized(s, d).withColumn("n2", inorm2(col("q")))
          .filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("qn2"))
        val probes = probeRanking(queries, trainedCodebook(s, d)).filter(col("prk") <= NumProbe)
        neighbors(topK(withCos(trainedAssigned(s, d).join(broadcast(probes), Seq("cell"))
            .filter(col("vec_id") =!= col("query_id"))),
          "cos", 3, asc = false), round(col("cos"), 6).as("cos"))
      },
      Some(s"""WITH base AS (SELECT vec_id, label, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |$centroidTrainSql,
             |${assignSql("base", "cent", Seq("q", "n2"), "ha", "assigned")},
             |probes AS (
             |  SELECT query_id, qq, qn2, cell FROM (
             |    SELECT b.vec_id AS query_id, b.q AS qq, b.n2 AS qn2, c.cid AS cell,
             |      row_number() OVER (PARTITION BY b.vec_id
             |        ORDER BY list_sum(list_transform(range(1, $Dim + 1), i -> (b.q[i] - c.cq[i]) * (b.q[i] - c.cq[i]))) ASC, c.cid ASC) AS prk
             |    FROM base b CROSS JOIN cent c WHERE b.vec_id < 10)
             |  WHERE prk <= $NumProbe)
             |SELECT query_id, rk, neighbor_id, round(cos, 6) AS cos FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    ${cosineSql(idotSql("a.q", "p.qq"), "a.n2", "p.qn2")} AS cos,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY ${cosineSql(idotSql("a.q", "p.qq"), "a.n2", "p.qn2")} DESC, a.vec_id ASC) AS rk
             |  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id)
             |WHERE rk <= 3""".stripMargin),
      "IVF ANN: sampled-Lloyd-trained centroid codebook (IvfCentroids, deterministic integer k-means), broadcast, two-level routed cell assignment, nprobe=2 probing, exact cosine rerank top-3."
    ),
    QueryDef(
      "v7_semdedup",
      (s, d) => {
        // SemDeDup (semantic dedup): cluster the corpus with a broadcast
        // coarse codebook, then mark as duplicate any vector that has a
        // LOWER-id cluster-mate with cosine >= threshold (keep-first, the
        // paper's representative rule — no transitive closure needed). The
        // quadratic work is confined inside cells; the codebook here is the
        // deterministic first-k seed so the oracle stays compact (at scale
        // it is the IvfCentroids.save/load trained parquet, same plan).
        val theta = 0.35
        // shared two-level routed assignment — see [[seedAssigned]];
        // at the (n/2)^(3/4) cell geometry the in-cell pair work below is
        // O(n^(5/4)) and the routing O(n^(11/8)) — the flat argmin + √
        // geometry this replaces made both halves O(n^(3/2))
        val assigned = seedAssigned(s, d)
        val dups = assigned.as("a")
          .join(assigned.as("b"),
            col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
          .filter(cosine(col("a.q"), col("b.q"), col("a.n2"), col("b.n2")) >= theta)
          .select(col("b.vec_id").as("vec_id")).distinct()
          .withColumn("dup", lit(true))
        assigned.join(dups, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"), coalesce(col("dup"), lit(false)).as("is_dup"))
      },
      Some(s"""WITH base AS (SELECT vec_id, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "ha", "assigned")},
             |dups AS (SELECT DISTINCT b.vec_id FROM assigned a
             |  JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
             |  WHERE ${cosineSql(idotSql("a.q", "b.q"), "a.n2", "b.n2")} >= 0.35)
             |SELECT a.vec_id, a.cell, a.vec_id IN (SELECT vec_id FROM dups) AS is_dup
             |FROM assigned a""".stripMargin),
      "SemDeDup: broadcast coarse codebook -> two-level routed cell assignment, within-cell cosine >= 0.35 against any lower-id mate marks a duplicate (keep-first representative rule)."
    ),
    QueryDef(
      "v8_pq_codes",
      (s, d) => {
        // Product quantization: 64 dims → 8 subspaces × 8 dims; each
        // subvector snaps to the nearest of 16 codewords (exact integer L2,
        // tie by code id), and the 8 nibbles pack into one int64 PQ code —
        // the 8-byte-per-vector storage format ANN stacks serve from.
        // The codebook (here the deterministic first-16 seed; trained
        // per-subspace k-means at scale, the IvfCentroids seam) broadcasts;
        // the corpus side is one map-side join + one argmin aggregation.
        pqAssignments(s, d)
          .groupBy(col("vec_id"))
          .agg(
            sum(col("code") * col("shift")).cast("long").as("pq_code"),
            sum(col("dist")).cast("long").as("qerr_scaled"))
      },
      Some(s"""WITH $pqAssignSql
             |SELECT vec_id, CAST(sum(code * shift) AS BIGINT) AS pq_code,
             |  CAST(sum(dist) AS BIGINT) AS qerr_scaled
             |FROM asg GROUP BY vec_id""".stripMargin),
      "Product quantization: 8×8-dim subspaces, 16 codewords each (broadcast codebook, exact integer L2 argmin), nibbles packed into an int64 PQ code + total quantization error."
    ),
    QueryDef(
      "v9_pq_adc",
      (s, d) => {
        // PQ serving path — asymmetric distance computation: each query
        // precomputes its 8×16 codeword distance table (integer L2 to every
        // codeword, broadcast: 128 longs per query); the corpus is scanned
        // as PQ code assignments only — the approximate distance is the sum
        // of 8 table lookups, never a touch of the original vectors. Top-3
        // per query with the (dist, id) total-order tiebreak. At scale the
        // codes table is 8 bytes/vector and the scan is map-only into a
        // partial top-k.
        val adc = pqAdc(pqAssignments(s, d).select(col("vec_id"), col("sub"), col("code")),
          pqQueryDtable(s, d), Seq("sub", "code"))
        neighbors(topK(adc.filter(col("vec_id") =!= col("query_id")), "adist", 3, asc = true),
          col("adist"))
      },
      Some(s"""WITH $pqAssignSql,
             |$pqDtableSql,
             |ad AS (SELECT query_id, vec_id, CAST(sum(qd) AS BIGINT) AS adist
             |  FROM asg JOIN dt ON asg.sub = dt.sub AND asg.code = dt.code
             |  WHERE vec_id <> query_id GROUP BY query_id, vec_id)
             |SELECT query_id, rk, neighbor_id, adist FROM (
             |  SELECT query_id, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM ad)
             |WHERE rk <= 3""".stripMargin),
      "PQ asymmetric-distance serving: per-query 8×16 distance table (broadcast), corpus scanned as 8-byte PQ codes, approx distance = 8 table lookups, exact-integer top-3."
    ),
    QueryDef(
      "v10_ivfpq_ann",
      (s, d) => {
        // IVF+PQ — the production ANN index shape: a broadcast coarse
        // codebook routes each query to its nprobe nearest cells, and only
        // vectors in probed cells are ranked, by PQ asymmetric distance
        // (8 integer table lookups against the query's broadcast distance
        // table — original vectors are never touched at serving time).
        // Corpus-side state per vector: one cell id + one 8-byte PQ code.
        val queries = quantized(s, d).filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("q").as("qq"))
        val probes = probeRanking(queries, cellSeed(s, d)).filter(col("prk") <= NumProbe)
        // shared two-level routed assignment — see [[seedAssigned]]
        val candidates = seedAssigned(s, d).select(col("vec_id"), col("cell"))
          .join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"))
        val adc = pqAdc(
          candidates.join(pqAssignments(s, d).select(col("vec_id"), col("sub"), col("code")), Seq("vec_id")),
          pqQueryDtable(s, d), Seq("query_id", "sub", "code"))
        neighbors(topK(adc, "adist", 3, asc = true), col("adist"))
      },
      Some(s"""WITH $pqAssignSql,
             |coarse AS (SELECT vec_id AS cid, q AS cq FROM pqbase WHERE vec_id < ${cellCapSql("pqbase")}),
             |${assignSql("pqbase", "coarse", Seq("q"), "ha", "hassigned")},
             |assigned AS (SELECT vec_id, cell FROM hassigned),
             |probes AS (SELECT query_id, cell FROM (
             |    SELECT b.vec_id AS query_id, c.cid AS cell,
             |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
             |        list_sum(list_transform(range(1, $Dim + 1), i -> (b.q[i] - c.cq[i]) * (b.q[i] - c.cq[i]))) ASC, c.cid ASC) AS prk
             |    FROM pqbase b CROSS JOIN coarse c WHERE b.vec_id < 10) WHERE prk <= $NumProbe),
             |$pqDtableSql,
             |cand AS (SELECT p.query_id, a.vec_id FROM assigned a
             |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id),
             |ad AS (SELECT c.query_id, c.vec_id, CAST(sum(dt.qd) AS BIGINT) AS adist
             |  FROM cand c JOIN asg ON asg.vec_id = c.vec_id
             |  JOIN dt ON dt.query_id = c.query_id AND dt.sub = asg.sub AND dt.code = asg.code
             |  GROUP BY c.query_id, c.vec_id)
             |SELECT query_id, rk, neighbor_id, adist FROM (
             |  SELECT query_id, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM ad)
             |WHERE rk <= 3""".stripMargin),
      "IVF+PQ serving (the production ANN index): broadcast coarse codebook routes queries to nprobe=2 cells; candidates ranked by PQ asymmetric distance — per-vector state is one cell id + one 8-byte code."
    ),
    QueryDef(
      "v11_ann_recall",
      (s, d) => {
        // ANN index-quality evaluation: recall@5 of the LSH-bucketed index
        // (the v3 shape at k=5) against exact brute force (v1) — the
        // measurement every index deployment runs before trading recall
        // for cost. Both sides broadcast the same sampled query set into
        // the corpus scan; both top-5s are partial-top-k shaped and the
        // recall assembly runs on 2×(k × n_queries) rank rows (see
        // IvfCentroids.topK / recall).
        val base = quantized(s, d)
          .withColumn("n2", inorm2(col("q")))
          .withColumn("bucket", lshBucket(col("q")))
        val queries = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("q").as("qq"),
            col("n2").as("qn2"), col("bucket").as("qbucket"))
        def top5(cand: DataFrame) = ids(topK(withCos(cand), "cos", 5, asc = false))
        recall(top5(base.join(broadcast(queries), col("vec_id") =!= col("query_id"))),
          top5(base.join(broadcast(queries),
            col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))), 5)
      },
      Some(s"""WITH base AS (
             |  SELECT vec_id, q, ${inorm2Sql("q")} AS n2, $lshBucketSql AS bucket FROM ($quantizedSql)),
             |exact AS (SELECT query_id, neighbor_id FROM (
             |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY ${cosineSql(idotSql("b.q", "q.q"), "b.n2", "q.n2")} DESC, b.vec_id ASC) AS rk
             |  FROM base q JOIN base b ON b.vec_id <> q.vec_id WHERE q.vec_id < 10)
             |  WHERE rk <= 5),
             |approx AS (SELECT query_id, neighbor_id FROM (
             |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY ${cosineSql(idotSql("b.q", "q.q"), "b.n2", "q.n2")} DESC, b.vec_id ASC) AS rk
             |  FROM base q JOIN base b ON b.bucket = q.bucket AND b.vec_id <> q.vec_id
             |  WHERE q.vec_id < 10)
             |  WHERE rk <= 5),
             |na AS (SELECT query_id, count(*) AS n_approx FROM approx GROUP BY query_id)
             |SELECT e.query_id, e.n_exact, coalesce(na.n_approx, 0) AS n_approx, e.n_hit,
             |  round(CAST(e.n_hit AS DOUBLE) / e.n_exact, 6) AS recall_at_5
             |FROM (
             |  SELECT ex.query_id, count(*) AS n_exact,
             |    CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
             |  FROM exact ex LEFT JOIN approx ap
             |    ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
             |  GROUP BY ex.query_id) e
             |LEFT JOIN na ON na.query_id = e.query_id""".stripMargin),
      "ANN recall@5 evaluation: LSH-bucketed index vs exact brute force over the same broadcast query set — per-query hit counts and recall, the index-quality gate."
    ),
    QueryDef(
      "v12_cluster_balanced_sample",
      (s, d) => {
        // Cluster-balanced corpus downsampling: assign every vector to its
        // coarse cell (broadcast codebook, two-level routed argmin — the v7
        // assignment), then keep a fixed per-cell quota chosen by seeded
        // hash rank. The semantic-diversity-preserving cut a curation
        // pipeline runs before training: uniform sampling keeps the modal
        // clusters modal, per-cluster quotas flatten them. Scale shape: one
        // shuffle for the argmin agg (on vec_id), one for the per-cell rank
        // window; the rk <= quota filter triggers WindowGroupLimit, so only
        // ~quota rows per input partition reach the window exchange.
        // Deterministic: the h60 seeded rank is engine- and
        // partitioning-independent (same contract as m6/w7).
        val quota = 40
        // shared two-level routed assignment — see [[seedAssigned]]
        val assigned = seedAssigned(s, d)
          .select(col("vec_id"), col("cell"))
        assigned
          .withColumn("u", h60(concat(lit("cbs:"), col("vec_id"))))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("cell")).orderBy(col("u").asc, col("vec_id").asc)))
          .filter(col("rk") <= quota)
          .select(col("vec_id"), col("cell"), col("rk").cast("long").as("rk"))
      },
      Some(s"""WITH base AS (SELECT vec_id, q FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q"), "ha", "hassigned")},
             |assigned AS (SELECT vec_id, cell FROM hassigned)
             |SELECT vec_id, cell, rk FROM (
             |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
             |    ORDER BY ${h60Sql("concat('cbs:', vec_id)")} ASC, vec_id ASC) AS rk
             |  FROM assigned)
             |WHERE rk <= 40""".stripMargin),
      "Cluster-balanced sampling: broadcast-codebook cell assignment, then a seeded-hash per-cell quota — diversity-preserving downsampling for training-corpus curation."
    ),
    QueryDef(
      "v13_semantic_decontaminate",
      (s, d) => semanticDecontaminate(s, d),
      Some(s"""WITH base AS (SELECT vec_id, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |ev AS (SELECT vec_id AS eval_id, q AS eq, n2 AS en2 FROM base WHERE vec_id % 97 = 0),
             |sc AS (SELECT b.vec_id, e.eval_id,
             |    ${cosineSql(idotSql("b.q", "e.eq"), "b.n2", "e.en2")} AS cos
             |  FROM base b CROSS JOIN ev e WHERE b.vec_id % 97 <> 0),
             |agg AS (SELECT vec_id, max(cos) AS mc FROM sc GROUP BY vec_id)
             |SELECT a.vec_id, min(s.eval_id) AS eval_id, round(a.mc, 6) AS max_cos,
             |  a.mc >= $CosineThreshold AS contaminated
             |FROM agg a JOIN sc s ON s.vec_id = a.vec_id AND s.cos = a.mc
             |GROUP BY a.vec_id, a.mc""".stripMargin),
      "Semantic decontamination: broadcast eval embeddings, map-only per-vector max-cosine argmax, contaminated = max_cos >= 0.4 — catches paraphrase contamination token overlap misses."
    ),
    QueryDef(
      "v14_ivf_nprobe_sweep",
      (s, d) => {
        // SERVING-KNOB tuning table for the IVF index — the ANN analog of
        // d18's LSH geometry audit: recall@5 per (nprobe, query) against
        // exact brute force, for nprobe ∈ {1, 2, 4}. This is the
        // measurement that sets a deployment's nprobe (AnnDemo serves at
        // nprobe=10; the 100 TB math assumes 2) before trading candidate
        // reads for recall. Reuses the SHARED routed assignment (the
        // serving index is built once) and ONE broadcast probe ranking;
        // candidate work per query is nprobe/C of the corpus — the sweep's
        // whole cost is ~(1+2+4)/C corpus scans, not three brute-force
        // passes. The exact arm runs once: an in-row explode multiplies its
        // 40 bounded rank rows per nprobe (a union of per-nprobe copies
        // would re-run the brute-force window once per value).
        val assigned = seedAssigned(s, d)
        val queries = assigned.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("qn2"))
        val cands = assigned
          .join(broadcast(probeRanking(queries, cellSeed(s, d)).filter(col("prk") <= 4)), Seq("cell"))
          .filter(col("vec_id") =!= col("query_id"))
        def top5(cand: DataFrame) = ids(topK(withCos(cand), "cos", 5, asc = false))
        val nprobes = Seq(1, 2, 4)
        val approx = nprobes.map(np =>
          top5(cands.filter(col("prk") <= np)).withColumn("nprobe", lit(np)))
          .reduce(_ unionAll _)
        val exact = top5(assigned.join(broadcast(queries), col("vec_id") =!= col("query_id")))
          .withColumn("nprobe", explode(array(nprobes.map(np => lit(np)): _*)))
        recall(exact, approx, 5, Seq("nprobe", "query_id")).drop("n_approx")
      },
      Some(s"""WITH base AS (SELECT vec_id, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "ha", "assigned")},
             |qs AS (SELECT vec_id AS query_id, q AS qq, n2 AS qn2 FROM assigned WHERE vec_id < 8),
             |probes AS (SELECT query_id, qq, qn2, cell, prk FROM (
             |  SELECT q.query_id, q.qq, q.qn2, c.cid AS cell,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY ${l2ListSql("q.qq", "c.cq")} ASC, c.cid ASC) AS prk
             |  FROM qs q CROSS JOIN cent c) WHERE prk <= 4),
             |nps AS (SELECT * FROM (VALUES (1), (2), (4)) t(nprobe)),
             |cands AS (SELECT p.query_id, p.qq, p.qn2, p.prk, a.vec_id, a.q, a.n2
             |  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id),
             |approx AS (SELECT nprobe, query_id, neighbor_id FROM (
             |  SELECT n.nprobe, c.query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY n.nprobe, c.query_id
             |      ORDER BY ${cosineSql(idotSql("c.q", "c.qq"), "c.n2", "c.qn2")} DESC, c.vec_id ASC) AS rk
             |  FROM cands c JOIN nps n ON c.prk <= n.nprobe) WHERE rk <= 5),
             |exact AS (SELECT query_id, neighbor_id FROM (
             |  SELECT q.query_id, b.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY ${cosineSql(idotSql("b.q", "q.qq"), "b.n2", "q.qn2")} DESC, b.vec_id ASC) AS rk
             |  FROM assigned b JOIN qs q ON b.vec_id <> q.query_id) WHERE rk <= 5)
             |SELECT n.nprobe, e.query_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS recall_at_5
             |FROM exact e CROSS JOIN nps n
             |LEFT JOIN approx a ON a.nprobe = n.nprobe AND a.query_id = e.query_id
             |  AND a.neighbor_id = e.neighbor_id
             |GROUP BY n.nprobe, e.query_id""".stripMargin),
      "IVF serving-knob sweep: recall@5 vs nprobe in {1,2,4} against exact brute force, per query — the tuning table that sets a deployment's probe count on the shared routed-assignment index."
    ),
    QueryDef(
      "v16_ivf_cell_balance",
      (s, d) => {
        // IVF cell-balance audit — the third tuning table (d18 sets the
        // LSH banding, v14 sets nprobe, THIS sets numCells/salting): the
        // per-cell occupancy distribution of the shared routed assignment.
        // At 100 TB the imbalance factor (max/avg) is what decides whether
        // a hot cell needs a re-split or a salted layout before it
        // serializes a probe, and empty_cells says the codebook is over-
        // provisioned. Cost: one count-per-cell aggregate over the SHARED
        // materialized assignment (map-side partial combine; ≤ numCells
        // result rows = metadata scale), then single-row stats — the
        // collect_list runs over cell COUNTS, never corpus rows, bounded
        // by numCells (1e5 at capacity → a 800 KB array, driver-safe).
        // Exact discrete percentiles in integer space: element_at on the
        // sorted size list at ceil(p·n) (floor((p·n+99)/100) — identical
        // expression on both engines), NOT percentile_approx, so the
        // oracle matches bit-for-bit. One double-divide chain per double
        // column, round 6 — the house contract.
        val assigned = seedAssigned(s, d)
        val nc = cellSeed(s, d).agg(count(lit(1)).as("n_centroids"))
        val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
        def pidx(p: Int) =
          floor((col("n_cells_used") * p + lit(99)) / lit(100.0)).cast("int")
        sizes.agg(
            count(lit(1)).as("n_cells_used"),
            sum(col("sz")).as("n_vecs"),
            min(col("sz")).as("min_sz"),
            max(col("sz")).as("max_sz"),
            sort_array(collect_list(col("sz"))).as("szs"))
          .crossJoin(broadcast(nc))
          .select(
            col("n_centroids"),
            col("n_cells_used"),
            (col("n_centroids") - col("n_cells_used")).as("empty_cells"),
            col("n_vecs"),
            col("min_sz"),
            element_at(col("szs"), pidx(50)).as("p50_sz"),
            element_at(col("szs"), pidx(90)).as("p90_sz"),
            element_at(col("szs"), pidx(99)).as("p99_sz"),
            col("max_sz"),
            round(col("n_vecs").cast("double") / col("n_cells_used"), 6).as("avg_sz"),
            round(col("max_sz").cast("double") * col("n_cells_used") / col("n_vecs"), 6)
              .as("imbalance"))
      },
      Some(s"""WITH base AS (SELECT vec_id, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "cb", "cbassigned")},
             |sizes AS (SELECT cell, count(*) AS sz FROM cbassigned GROUP BY cell),
             |stats AS (SELECT count(*) AS n_cells_used, CAST(sum(sz) AS BIGINT) AS n_vecs,
             |    min(sz) AS min_sz, max(sz) AS max_sz, list_sort(list(sz)) AS szs FROM sizes),
             |nc AS (SELECT count(*) AS n_centroids FROM cent)
             |SELECT n_centroids, n_cells_used, n_centroids - n_cells_used AS empty_cells,
             |  n_vecs, min_sz,
             |  szs[CAST(floor((n_cells_used * 50 + 99) / 100.0) AS INT)] AS p50_sz,
             |  szs[CAST(floor((n_cells_used * 90 + 99) / 100.0) AS INT)] AS p90_sz,
             |  szs[CAST(floor((n_cells_used * 99 + 99) / 100.0) AS INT)] AS p99_sz,
             |  max_sz,
             |  round(CAST(n_vecs AS DOUBLE) / n_cells_used, 6) AS avg_sz,
             |  round(CAST(max_sz AS DOUBLE) * n_cells_used / n_vecs, 6) AS imbalance
             |FROM stats CROSS JOIN nc""".stripMargin),
      "IVF cell-balance audit: occupancy distribution (exact integer-space percentiles), imbalance factor, and empty-cell count of the routed assignment — the tuning table that sets numCells and flags hot cells for salting/re-split."
    ),
    QueryDef(
      "v17_sq8_adc",
      (s, d) => {
        // Scalar quantization (SQ8) — the compression rung BETWEEN raw
        // vectors and PQ codes (v8/v9): each dimension affine-quantizes
        // independently to 8 bits against the corpus's per-dim [min, max],
        // 64 B/vector at Dim=64 — 8× smaller than the int64 vectors, 8×
        // bigger than a PQ code, with far lower distortion than PQ (no
        // subspace structure assumed). The production storage tier for
        // "cheap but nearly exact" rerank layers (FAISS's SQ8 fills the
        // same slot).
        //
        // Serving is asymmetric: the query keeps its exact vector; each
        // corpus vector is reconstructed from its codes (dequantize =
        // min + code·range/255) and scanned map-only. Scale shape: the
        // per-dim stats are ONE partial-aggregated row broadcast back
        // (the scalar-join pattern), the 10-query set broadcasts, the
        // corpus side never shuffles wider than its top-k partials, and
        // the rank<=3 window collapses to WindowGroupLimit partial top-k.
        //
        // Determinism: quantize/dequantize in pure integer arithmetic —
        // code = (x−mn)·255 div rng via mod-subtract exact division (both
        // operands nonnegative, products ≤ ~1e6, so the IEEE divide of
        // exact multiples is exact in both engines); adist is an exact
        // integer L2 (longDot of the diff with itself). No doubles anywhere
        // in the output row.
        val queries = quantized(s, d).filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("q").as("qq"))
        val cand = sq8Recon(s, d).join(broadcast(queries)).filter(col("vec_id") =!= col("query_id"))
        neighbors(topK(withL2(cand, "qq", "xh", "adist"), "adist", 3, asc = true), col("adist"))
      },
      Some(s"""WITH base AS ($quantizedSql),
             |$sq8ReconSql,
             |qs AS (SELECT vec_id AS query_id, q AS qq FROM base WHERE vec_id < 10),
             |ad AS (SELECT query_id, vec_id, CAST(list_sum(list_transform(range(1, $Dim + 1), i ->
             |    (qq[i] - xh[i]) * (qq[i] - xh[i]))) AS BIGINT) AS adist
             |  FROM enc, qs WHERE vec_id <> query_id)
             |SELECT query_id, rk, neighbor_id, adist FROM (
             |  SELECT query_id, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM ad) WHERE rk <= 3""".stripMargin),
      "Scalar quantization (SQ8) serving: per-dim affine 8-bit codes against corpus [min,max] (one broadcast stats row), asymmetric distance on integer-exact reconstructions, top-3 per query — the compression rung between raw vectors and PQ."
    ),
    QueryDef(
      "v18_sq8_recall",
      (s, d) => {
        // SQ8 index-quality audit — the v11/v14 measurement applied to the
        // v17 rung: recall@3 of SQ8 asymmetric serving against exact
        // integer-L2 brute force, per query, SAME metric on both sides
        // (L2 on raw vectors vs L2 on reconstructions) so the gap is
        // purely quantization distortion, not a metric mismatch. Every
        // approximate tier in the engine ships with its own measured
        // recall (v11 LSH, v14 IVF-nprobe, v18 SQ8): committing a storage
        // tier without its recall table is how 100 TB serving deployments
        // end up debugging silent quality loss.
        //
        // Scale shape: both arms broadcast the same 10-query set; both
        // top-3s and the recall assembly are the core's bounded shapes.
        val base = quantized(s, d)
        val queries = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("q").as("qq"))
        def top3(side: DataFrame, vcol: String) = ids(topK(withL2(
          side.join(broadcast(queries)).filter(col("vec_id") =!= col("query_id")),
          "qq", vcol, "dist"), "dist", 3, asc = true))
        recall(top3(base.select(col("vec_id"), col("q")), "q"), top3(sq8Recon(s, d), "xh"), 3)
          .drop("n_approx")
      },
      Some(s"""WITH base AS ($quantizedSql),
             |$sq8ReconSql,
             |qs AS (SELECT vec_id AS query_id, q AS qq FROM base WHERE vec_id < 10),
             |exact AS (SELECT query_id, neighbor_id FROM (
             |  SELECT query_id, vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rk
             |  FROM (SELECT query_id, vec_id, CAST(list_sum(list_transform(range(1, $Dim + 1), i ->
             |      (qq[i] - q[i]) * (qq[i] - q[i]))) AS BIGINT) AS dist
             |    FROM base, qs WHERE vec_id <> query_id))
             |  WHERE rk <= 3),
             |approx AS (SELECT query_id, neighbor_id FROM (
             |  SELECT query_id, vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rk
             |  FROM (SELECT query_id, vec_id, CAST(list_sum(list_transform(range(1, $Dim + 1), i ->
             |      (qq[i] - xh[i]) * (qq[i] - xh[i]))) AS BIGINT) AS dist
             |    FROM enc, qs WHERE vec_id <> query_id))
             |  WHERE rk <= 3)
             |SELECT ex.query_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS recall_at_3
             |FROM exact ex LEFT JOIN approx ap
             |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
             |GROUP BY ex.query_id""".stripMargin),
      "SQ8 recall audit: recall@3 of scalar-quantized asymmetric serving vs exact integer-L2 brute force over the same broadcast query set — the quantization-distortion measurement that certifies the SQ8 storage tier."
    ),
    QueryDef(
      "v19_ivfsq8_ann",
      (s, d) => {
        // IVF+SQ8 — the SQ8 tier's SERVING rung, parallel to v10's IVF+PQ:
        // the broadcast coarse codebook routes each query to its nprobe
        // nearest cells, and only vectors in probed cells are ranked by
        // SQ8 asymmetric distance (exact integer L2 between the raw query
        // vector and the candidate's dequantized reconstruction). This is
        // the index shape a deployment picks when PQ's distortion is too
        // lossy for its rerank budget but raw vectors are too big to
        // probe: per-vector serving state = one cell id + 64 SQ8 codes
        // (1 B/dim) + the shared per-dim stats row. Scale shape: reuses
        // the SHARED routed assignment (index build runs once), the
        // 10-query probe set broadcasts, candidate work per query is
        // nprobe/C of the corpus, and the rank<=3 window collapses to
        // WindowGroupLimit partial top-k — the v10 economics with the SQ8
        // storage tier swapped in. Candidates dequantize INLINE against
        // the broadcast stats row (production reads the codes straight
        // out of the inverted lists — no corpus-wide reconstruction
        // join). Determinism: same integer-exact quantize/dequantize as
        // v17; no doubles in the output row.
        val queries = quantized(s, d).filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("q").as("qq"))
        val probes = probeRanking(queries, cellSeed(s, d)).filter(col("prk") <= NumProbe)
        val cand = withSq8Recon(seedAssigned(s, d).select(col("vec_id"), col("q"), col("cell"))
          .join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("query_id")), s, d)
        neighbors(topK(withL2(cand, "qq", "xh", "adist"), "adist", 3, asc = true), col("adist"))
      },
      Some(s"""WITH base AS ($quantizedSql),
             |$sq8ReconSql,
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q"), "ha", "assigned")},
             |probes AS (SELECT query_id, qq, cell FROM (
             |    SELECT b.vec_id AS query_id, b.q AS qq, c.cid AS cell,
             |      row_number() OVER (PARTITION BY b.vec_id
             |        ORDER BY ${l2ListSql("b.q", "c.cq")} ASC, c.cid ASC) AS prk
             |    FROM base b CROSS JOIN cent c WHERE b.vec_id < 10) WHERE prk <= $NumProbe),
             |ad AS (SELECT p.query_id, a.vec_id,
             |    CAST(list_sum(list_transform(range(1, $Dim + 1), i ->
             |      (p.qq[i] - e.xh[i]) * (p.qq[i] - e.xh[i]))) AS BIGINT) AS adist
             |  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
             |  JOIN enc e ON e.vec_id = a.vec_id)
             |SELECT query_id, rk, neighbor_id, adist FROM (
             |  SELECT query_id, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM ad) WHERE rk <= 3""".stripMargin),
      "IVF+SQ8 serving: broadcast coarse codebook routes queries to nprobe=2 cells; candidates ranked by integer-exact SQ8 asymmetric distance — the index shape for deployments needing less distortion than PQ at 1 B/dim serving state."
    ),
    QueryDef(
      "v20_centroid_drift",
      (s, d) => {
        // Centroid-drift audit — the RETRAIN TRIGGER for an incrementally
        // maintained index (the fourth tuning table, closing the loop the
        // incremental pipeline opens: mergeIvfDeltaUpsert keeps lists
        // current, but the codebook itself ages as deltas shift content).
        // Per cell: exact squared L2 between the cell's true mean and its
        // codebook centroid, computed ENTIRELY in integer space via the
        // n-scaled identity ‖n·c − Σq‖² = n²(c·c) − 2n(c·Σq) + (Σq·Σq).
        // The per-dim sums come from the LongVecSum aggregator — one
        // map-side partial-combined shuffle, ≤ numCells result rows =
        // metadata scale; each per-dim sum is Long-exact to n ≈ 9e15
        // vectors/cell. The three dot terms and the n-scaled combination
        // run in DECIMAL(38,0) on that post-shuffle frame (Long dots
        // would overflow silently once a cell holds ≳1.8e5 vectors — the
        // skewed-cell case at 100 TB geometry; decimal keeps the identity
        // exact to n ≈ 4e14 per cell at |q| ≤ 2048, dim 64 — the n²·cc
        // and ss terms hit decimal(38)'s ~1e38 ceiling there, four-plus
        // orders beyond any real cell; past it Spark's non-ANSI decimal
        // NULLs while DuckDB's HUGEINT errors, so the bound is the
        // contract's edge, not a silent-divergence risk below it — and
        // costs nothing at numCells rows). True drift = dsc / n², one double
        // divide at the end (exact integers → identical IEEE doubles on
        // both engines — the house contract; the oracle mirrors with
        // HUGEINT). The global top-10 is
        // sort+limit, which the planner turns into TakeOrderedAndProject
        // (per-partition top-k + a 10-row driver merge — no partition-less
        // window, the catalog plan-audit rule); the (drift, cell) order
        // is total, so the selected SET is deterministic without a rank
        // column. Deployment reading: drifted cells re-seed locally
        // (their vectors re-cluster) before global retrain is worth
        // 100 TB of re-assignment; empty/near-empty drifted cells say
        // shrink the codebook instead.
        val quot = col("dsc").cast("double") /
          (col("n_vecs").cast("double") * col("n_vecs").cast("double"))
        cellDrift(s, d)
          .orderBy(quot.desc, col("cell").asc)
          .limit(10)
          .select(col("cell"), col("n_vecs"), round(quot, 6).as("drift"))
      },
      Some(s"""$driftSumsSql,
             |drift AS (SELECT t.cell, t.n_vecs,
             |    (CAST(t.n_vecs AS HUGEINT) * t.n_vecs * d.cc
             |      - 2 * CAST(t.n_vecs AS HUGEINT) * d.cs + d.ss) AS dsc
             |  FROM cnt t JOIN dots d ON d.cell = t.cell)
             |SELECT cell, n_vecs,
             |  round(CAST(dsc AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * n_vecs), 6) AS drift
             |FROM drift
             |ORDER BY CAST(dsc AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * n_vecs) DESC, cell ASC
             |LIMIT 10""".stripMargin),
      "IVF centroid-drift audit: exact integer n-scaled mean-to-centroid squared L2 per cell over the shared routed assignment, top-10 drifted cells — the retrain trigger for an incrementally maintained index."
    ),
    QueryDef(
      "v21_drift_reseed",
      (s, d) => {
        // Drift RE-SEED — v20's deployment rule executed: the top-10
        // drifted cells take a LOCAL Lloyd step (centroid := the cell's
        // per-dim truncated mean, membership kept) instead of a global
        // retrain; every other cell's centroid and every inverted list is
        // untouched, so the maintenance cost is O(drifted cells) codebook
        // rows — no 100 TB re-assignment. The certification the query
        // emits: drift_before vs drift_after per reseeded cell, both from
        // the SAME per-cell (count, Σq) sums the v20 audit already
        // shuffles (≤ numCells rows — the reseed adds zero data-file
        // I/O). With c' = trunc(Σq/n) per dim (mod-subtract division —
        // identical trunc semantics on both engines), the after-residual
        // is n·c'_d − Σq_d = −(Σq_d mod n), so drift_after =
        // Σ_d (Σq_d mod n)² / n² < dim/1 — the drop is to quantization
        // noise of the integer grid, certified exactly. Arithmetic in
        // DECIMAL(38,0) like v20, same n ≈ 4e14 exactness edge (Long
        // residual squares alone overflow once n ≳ 3e9); the oracle
        // mirrors with HUGEINT.
        val n2d = col("n_vecs").cast("double") * col("n_vecs").cast("double")
        val before = col("dsc").cast("double") / n2d
        val after = col("asc").cast("double") / n2d
        cellDrift(s, d)
          .withColumn("asc", aggregate(
            transform(col("sv"), x => {
              val r = (x % col("n_vecs")).cast("decimal(19,0)"); r * r
            }),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"), (acc, v) => acc + v))
          .orderBy(before.desc, col("cell").asc)
          .limit(10)
          .select(col("cell"), col("n_vecs"),
            round(before, 6).as("drift_before"), round(after, 6).as("drift_after"))
      },
      Some(s"""$driftSumsSql,
             |aftr AS (SELECT s.cell,
             |    CAST(sum(CAST(s.sv % t.n_vecs AS HUGEINT) * (s.sv % t.n_vecs)) AS HUGEINT) AS asc2
             |  FROM sums s JOIN cnt t ON t.cell = s.cell GROUP BY s.cell),
             |drift AS (SELECT t.cell, t.n_vecs,
             |    (CAST(t.n_vecs AS HUGEINT) * t.n_vecs * d.cc
             |      - 2 * CAST(t.n_vecs AS HUGEINT) * d.cs + d.ss) AS dsc,
             |    a.asc2
             |  FROM cnt t JOIN dots d ON d.cell = t.cell JOIN aftr a ON a.cell = t.cell)
             |SELECT cell, n_vecs,
             |  round(CAST(dsc AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * n_vecs), 6) AS drift_before,
             |  round(CAST(asc2 AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * n_vecs), 6) AS drift_after
             |FROM drift
             |ORDER BY CAST(dsc AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * n_vecs) DESC, cell ASC
             |LIMIT 10""".stripMargin),
      "Drift re-seed: the top-10 drifted cells take a local Lloyd step (centroid := per-dim truncated mean, membership kept) — drift_before vs drift_after certified exactly from the same per-cell sums the v20 audit shuffles, O(drifted-cells) codebook rows touched, zero list I/O."
    ),
    QueryDef(
      "v22_filtered_ann",
      (s, d) => {
        // FILTERED vector search — ANN with a metadata predicate, the
        // production RAG/retrieval shape ("nearest neighbors WHERE
        // label = X") that plain top-k serving can't answer: each query
        // wants its top-3 among vectors sharing ITS OWN label. Shape:
        // the shared IVF routing confines candidates to nprobe cells
        // (broadcast probe table → pushed cell locality), then the label
        // predicate PRE-FILTERS the candidate set before any distance
        // arithmetic — at serving scale the label column lives IN the
        // inverted-list payload (writeIvfClustered carries arbitrary
        // payload columns), so the filter is a scan-level pushdown and
        // the pk join below disappears; in-session the catalog joins the
        // label back by pk so the whole v-family keeps sharing ONE
        // materialized assignment. Distance is the exact integer
        // identity ‖a−q‖² = n2a − 2·a·q + n2q (codegen'd LongDot — no
        // per-dim explode); top-3 per query is a query-partitioned
        // WindowGroupLimit. The classic filtered-ANN caveat applies and
        // is visible in the output: a query whose probed cells hold
        // fewer than 3 same-label vectors returns fewer rows — raising
        // nprobe for selective predicates is the serving knob (v14's
        // sweep machinery measures that trade; v24_adaptive_nprobe is the
        // serving rule that closes the caveat, picking np per query from
        // the per-(cell,label) router histogram).
        val queries = quantized(s, d).filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
            col("q").as("qq"), inorm2(col("q")).as("qn2"))
        val probes = probeRanking(queries, cellSeed(s, d)).filter(col("prk") <= NumProbe)
        val cand = probedSameLabel(seedAssigned(s, d).select(col("vec_id"), col("q"), col("n2"), col("cell")),
          probes, quantized(s, d).select(col("vec_id"), col("label")), "label")
        neighbors(topK(withAdist(cand), "adist", 3, asc = true), col("adist"))
      },
      Some(s"""WITH base AS (SELECT vec_id, label, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "fa", "assigned")},
             |probes AS (SELECT query_id, qlabel, qq, qn2, cell FROM (
             |    SELECT b.vec_id AS query_id, b.label AS qlabel, b.q AS qq, b.n2 AS qn2,
             |      c.cid AS cell,
             |      row_number() OVER (PARTITION BY b.vec_id
             |        ORDER BY ${l2ListSql("b.q", "c.cq")} ASC, c.cid ASC) AS prk
             |    FROM base b CROSS JOIN cent c WHERE b.vec_id < 8) WHERE prk <= $NumProbe),
             |cand AS (SELECT p.query_id, a.vec_id,
             |    CAST(a.n2 - 2 * ${idotSql("a.q", "p.qq")} + p.qn2 AS BIGINT) AS adist
             |  FROM assigned a
             |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
             |  JOIN base l ON l.vec_id = a.vec_id AND l.label = p.qlabel)
             |SELECT query_id, rk, neighbor_id, adist FROM (
             |  SELECT query_id, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM cand) WHERE rk <= 3""".stripMargin),
      "Filtered vector search: top-3 same-label neighbors per query through the shared IVF routing — broadcast probes confine candidates to nprobe cells, the label predicate pre-filters before distance arithmetic (payload-column pushdown at serving scale), exact integer L2 rank."
    ),
    QueryDef(
      "v23_filtered_recall",
      (s, d) => {
        // Filtered-ANN index-quality audit — the recall gate for v22, the
        // same measurement discipline every serving rung in the family
        // carries (v3→v11 LSH, v6→v14 nprobe, v17→v18 SQ8): recall@3 of
        // the nprobe-confined SAME-LABEL search against exact
        // label-filtered brute force over the same broadcast query set.
        // This is the number that exposes the filtered-search failure
        // mode the v22 scaladoc names: a selective predicate thins each
        // probed cell's matching candidates, so recall degrades FASTER
        // with selectivity than unfiltered recall does with nprobe — the
        // audit tells the operator when to raise nprobe (or partition
        // the index by the predicate column) for a given label. Both
        // rank windows are query-partitioned WindowGroupLimits; the
        // recall join runs on 2×(k × n_queries) rank rows, metadata-
        // scale at any corpus size.
        val base = quantized(s, d).withColumn("n2", inorm2(col("q")))
        val queries = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
            col("q").as("qq"), col("n2").as("qn2"))
        def top3(cand: DataFrame) = ids(topK(withAdist(cand), "adist", 3, asc = true))
        val exact = top3(base.join(broadcast(queries),
          col("label") === col("qlabel") && col("vec_id") =!= col("query_id")))
        val probes = probeRanking(queries, cellSeed(s, d)).filter(col("prk") <= NumProbe)
        val approx = top3(probedSameLabel(
          seedAssigned(s, d).select(col("vec_id"), col("q"), col("n2"), col("cell")),
          probes, quantized(s, d).select(col("vec_id"), col("label")), "label"))
        recall(exact, approx, 3)
      },
      Some(s"""WITH base AS (SELECT vec_id, label, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "fr", "assigned")},
             |qs AS (SELECT vec_id AS query_id, label AS qlabel, q AS qq, n2 AS qn2
             |  FROM base WHERE vec_id < 8),
             |exact AS (SELECT query_id, neighbor_id FROM (
             |  SELECT q.query_id, b.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY CAST(b.n2 - 2 * ${idotSql("b.q", "q.qq")} + q.qn2 AS BIGINT) ASC,
             |        b.vec_id ASC) AS rk
             |  FROM qs q JOIN base b ON b.label = q.qlabel AND b.vec_id <> q.query_id)
             |  WHERE rk <= 3),
             |probes AS (SELECT query_id, qlabel, qq, qn2, cell FROM (
             |    SELECT q.query_id, q.qlabel, q.qq, q.qn2, c.cid AS cell,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY ${l2ListSql("q.qq", "c.cq")} ASC, c.cid ASC) AS prk
             |    FROM qs q CROSS JOIN cent c) WHERE prk <= $NumProbe),
             |approx AS (SELECT query_id, neighbor_id FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY CAST(a.n2 - 2 * ${idotSql("a.q", "p.qq")} + p.qn2 AS BIGINT) ASC,
             |        a.vec_id ASC) AS rk
             |  FROM assigned a
             |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
             |  JOIN base l ON l.vec_id = a.vec_id AND l.label = p.qlabel)
             |  WHERE rk <= 3),
             |na AS (SELECT query_id, count(*) AS n_approx FROM approx GROUP BY query_id)
             |SELECT e.query_id, e.n_exact, coalesce(na.n_approx, 0) AS n_approx, e.n_hit,
             |  round(CAST(e.n_hit AS DOUBLE) / e.n_exact, 6) AS recall_at_3
             |FROM (
             |  SELECT ex.query_id, count(*) AS n_exact,
             |    CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
             |  FROM exact ex LEFT JOIN approx ap
             |    ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
             |  GROUP BY ex.query_id) e
             |LEFT JOIN na ON na.query_id = e.query_id""".stripMargin),
      "Filtered-ANN recall audit: recall@3 of the nprobe-confined same-label search vs exact label-filtered brute force — the gate that tells the operator when predicate selectivity demands a higher nprobe (or a predicate-partitioned index)."
    ),
    QueryDef(
      "v24_adaptive_nprobe",
      (s, d) => {
        // ADAPTIVE nprobe — the serving rule that CLOSES v22's documented
        // caveat (a selective predicate thins each probed cell's matching
        // candidates, so a fixed nprobe returns < k rows for rare labels).
        // The router holds a per-(cell, label) candidate HISTOGRAM — C ×
        // |labels| rows, metadata-scale at any corpus size, advanced by the
        // same delta the merge applies to the lists
        // (IncrementalPipeline.updateHistogram) — and [[escalate]]s each
        // query to the smallest ranked-cell prefix holding k same-label
        // candidates (floored at NumProbe, capped at C). A starved query
        // reads just enough extra cells, and every query gets its full
        // min(k, available) results — the result-count guarantee a
        // fixed-nprobe plan cannot make. Output carries np_used per query
        // so the artifact shows the escalation curve.
        val assigned = seedAssigned(s, d).select(col("vec_id"), col("q"), col("n2"), col("cell"))
        val labels = quantized(s, d).select(col("vec_id"), col("label"))
        val labeled = assigned.join(labels, Seq("vec_id"))
        val hist = labeled.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n_cl"))
          .withColumnRenamed("label", "qlabel")
        val queries = labeled.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
            col("q").as("qq"), col("n2").as("qn2"), col("cell").as("qcell"))
        val probes = escalate(probeRanking(queries, cellSeed(s, d)), hist, 3)
        neighbors(topK(withAdist(probedSameLabel(assigned, probes, labels, "label")), "adist", 3, asc = true),
          col("adist"), col("np_used"))
      },
      Some(s"""WITH base AS (SELECT vec_id, label, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "an", "assigned")},
             |lab AS (SELECT a.vec_id, a.q, a.n2, a.cell, b.label
             |  FROM assigned a JOIN base b ON b.vec_id = a.vec_id),
             |hist AS (SELECT cell, label AS qlabel, count(*) AS n_cl FROM lab GROUP BY cell, label),
             |qs AS (SELECT vec_id AS query_id, label AS qlabel, q AS qq, n2 AS qn2, cell AS qcell
             |  FROM lab WHERE vec_id < 8),
             |ranked AS (SELECT q.query_id, q.qlabel, q.qq, q.qn2, q.qcell, c.cid AS cell,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY ${l2ListSql("q.qq", "c.cq")} ASC, c.cid ASC) AS prk
             |  FROM qs q CROSS JOIN cent c),
             |cm AS (SELECT r.query_id, r.qlabel, r.qq, r.qn2, r.cell, r.prk,
             |    sum(COALESCE(h.n_cl, 0) - CASE WHEN r.cell = r.qcell THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY r.query_id ORDER BY r.prk) AS cum
             |  FROM ranked r LEFT JOIN hist h ON h.cell = r.cell AND h.qlabel = r.qlabel),
             |np AS (SELECT query_id,
             |    greatest($NumProbe, COALESCE(min(CASE WHEN cum >= 3 THEN prk END), max(prk))) AS np_used
             |  FROM cm GROUP BY query_id),
             |probes AS (SELECT c.query_id, c.qlabel, c.qq, c.qn2, c.cell, n.np_used
             |  FROM cm c JOIN np n ON n.query_id = c.query_id WHERE c.prk <= n.np_used),
             |cand AS (SELECT p.query_id, p.np_used, a.vec_id,
             |    CAST(a.n2 - 2 * ${idotSql("a.q", "p.qq")} + p.qn2 AS BIGINT) AS adist
             |  FROM assigned a
             |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
             |  JOIN base l ON l.vec_id = a.vec_id AND l.label = p.qlabel)
             |SELECT query_id, np_used, rk, neighbor_id, adist FROM (
             |  SELECT query_id, np_used, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM cand) WHERE rk <= 3""".stripMargin),
      "Adaptive-nprobe filtered search: per-query probe count picked from the per-(cell,label) router histogram as the smallest ranked-cell prefix holding k same-label candidates, floored at the recall-tuned nprobe (escalate-only, capped at C) — every query gets min(k, available) results, closing the fixed-nprobe selectivity caveat without trading dense-label recall."
    ),
    QueryDef(
      "v25_histogram_fold",
      (s, d) => {
        // The v24 router histogram's MAINTENANCE path under the oracle
        // gate: one synthetic maintenance day (movers, retractions,
        // in-place re-embeds — each class a deterministic vec_id residue)
        // is folded into the day-0 histogram by the PRODUCT function
        // ([[IncrementalPipeline.updateHistogram]] — the same fold the
        // incremental loop runs after every merge), and DuckDB recomputes
        // the day-1 histogram directly from the day-1 corpus. Hash
        // equality certifies the fold arithmetic end to end: decrement at
        // victim coordinates, increment at assigned coordinates, exact
        // cancellation for in-place re-embeds, and the zero-drop rule
        // (a (cell,label) pair emptied by the day must VANISH, not
        // linger at 0 — the recompute never emits empty groups, so a
        // lingering zero is a row-count mismatch). The fold itself is two
        // metadata-scale aggregates plus one outer join on (cell,label) —
        // at 100 TB it touches delta-sized and histogram-sized tables
        // only, never the corpus; this query's corpus-sized recompute of
        // hist0 stands in for the persisted histogram the loop maintains.
        val labeled = seedAssigned(s, d).select(col("vec_id"), col("cell"))
          .join(quantized(s, d).select(col("vec_id"), col("label")), Seq("vec_id"))
        val hist0 = labeled.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n_cl"))
        // C as a broadcast 1-row aggregate (no driver action) so the
        // mover rule (cell+1 mod C) stays in-plan
        val cTot = broadcast(cellSeed(s, d).agg(count(lit(1)).as("c_tot")))
        // the day: vec_id%14==3 moves one cell over, vec_id%14==10 is
        // retracted, vec_id%7==5 re-embeds in place (same coordinates)
        val victims = labeled.filter(col("vec_id") % 7 === 3 || col("vec_id") % 7 === 5)
        val movers = labeled.filter(col("vec_id") % 14 === 3).crossJoin(cTot)
          .select(col("vec_id"), pmod(col("cell") + 1, col("c_tot")).as("cell"), col("label"))
        val inplace = labeled.filter(col("vec_id") % 7 === 5)
          .select(col("vec_id"), col("cell"), col("label"))
        IncrementalPipeline.updateHistogram(hist0, victims, movers.unionByName(inplace))
          .select(col("cell"), col("label"), col("n_cl"))
      },
      Some(s"""WITH base AS (SELECT vec_id, label, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "an", "assigned")},
             |lab AS (SELECT a.vec_id, a.cell, b.label
             |  FROM assigned a JOIN base b ON b.vec_id = a.vec_id),
             |ct AS (SELECT count(*) AS c FROM cent),
             |fin AS (
             |  SELECT cell, label FROM lab WHERE vec_id % 7 <> 3 AND vec_id % 7 <> 5
             |  UNION ALL
             |  SELECT (l.cell + 1) % ct.c AS cell, l.label FROM lab l CROSS JOIN ct WHERE l.vec_id % 14 = 3
             |  UNION ALL
             |  SELECT cell, label FROM lab WHERE vec_id % 7 = 5)
             |SELECT cell, label, count(*) AS n_cl FROM fin GROUP BY cell, label""".stripMargin),
      "Router-histogram incremental fold: one maintenance day's victims/assigned delta folded into the per-(cell,label) candidate counts by the same updateHistogram the incremental loop runs, oracle-checked against a direct recompute of the day-1 corpus — certifying decrement/increment placement, in-place cancellation, and the zero-drop rule under the hash gate."
    ),
    QueryDef(
      "v26_rare_label_dispatch",
      (s, d) => {
        // TIERED dispatch — the serving rule v24's escalation curve showed
        // was still missing: for a RARE label (a 120-row class scattered
        // over 1000 cells) IVF cell routing carries NO signal, so nprobe
        // escalation fills k results with candidates that are not the true
        // same-label neighbors (AnnDemo measured recall 0.0 for the
        // 0.002-selectivity class even at np 10→34). The engine already
        // owns the right tool for that regime: the label-PARTITIONED
        // inverted lists behind v22 ([[graft.layout.Layout
        // .writePartitionedIvf]] — exact within label, directory-pruned).
        // This query pins the DISPATCH rule between the two tiers:
        //
        //   avail(label) = router-histogram label mass − self
        //   avail ≤ RareMass → EXACT tier: scan the label's own partition
        //     (≤ RareMass rows by construction — BOUNDED I/O, recall 1.0
        //     by definition; at serving scale readPartitionedIvf resolves
        //     the one subdirectory, in-catalog the same set arrives via a
        //     broadcast flabel-join against the shared assignment)
        //   avail > RareMass → IVF tier: v24's adaptive rule unchanged
        //     (histogram-prefix np, escalate-only above the recall floor)
        //
        // The histogram the router already maintains (v24/v25) answers the
        // dispatch predicate for free — mass is its per-label rollup,
        // |labels| rows. Rarity is synthesized deterministically (the
        // testdata's labels are uniform): vec_id % 50 == 7 rows move to
        // fine classes 100 + vec_id % 3, giving three ~3-member classes
        // beside the ~50-member dense ones; query 7 lands rare, 0–6 dense,
        // so both tiers sit under the one hash gate. Output carries the
        // tier and np_used (0 = exact-tier partition scan) so the artifact
        // shows which rule served each query.
        // labeled assignment + histogram are SHARED serving state
        // ([[fineLabeled]]/[[fineHist]] — the persisted index-side tables
        // v22/v24/v25 maintain), not per-query subplans
        val labeled = fineLabeled(s, d)
        // the dispatch predicate: the router histogram's per-label rollup
        val mass = fineHist(s, d).groupBy(col("qlabel")).agg(sum(col("n_cl")).as("n_label"))
        val queries = labeled.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("flabel").as("qlabel"),
            col("q").as("qq"), col("n2").as("qn2"), col("cell").as("qcell"))
          .join(broadcast(mass), Seq("qlabel"))
          .withColumn("avail", col("n_label") - 1)
        tiered(s, d, queries, col("avail") <= RareMass, 3)
      },
      Some(s"""WITH base AS (SELECT vec_id, label, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "rd", "assigned")},
             |lab AS (SELECT a.vec_id, a.q, a.n2, a.cell,
             |    CAST(CASE WHEN a.vec_id % 50 = 7 THEN 100 + a.vec_id % 3 ELSE b.label END AS BIGINT) AS flabel
             |  FROM assigned a JOIN base b ON b.vec_id = a.vec_id),
             |hist AS (SELECT cell, flabel AS qlabel, count(*) AS n_cl FROM lab GROUP BY cell, flabel),
             |mass AS (SELECT qlabel, CAST(sum(n_cl) AS BIGINT) AS n_label FROM hist GROUP BY qlabel),
             |qs AS (SELECT l.vec_id AS query_id, l.flabel AS qlabel, l.q AS qq, l.n2 AS qn2,
             |    l.cell AS qcell, m.n_label - 1 AS avail
             |  FROM lab l JOIN mass m ON m.qlabel = l.flabel WHERE l.vec_id < 8),
             |exact_cand AS (SELECT q.query_id, l.vec_id,
             |    CAST(l.n2 - 2 * ${idotSql("l.q", "q.qq")} + q.qn2 AS BIGINT) AS adist
             |  FROM qs q JOIN lab l ON l.flabel = q.qlabel AND l.vec_id <> q.query_id
             |  WHERE q.avail <= $RareMass),
             |ex AS (SELECT query_id, 'exact' AS tier, CAST(0 AS BIGINT) AS np_used,
             |    CAST(rk AS BIGINT) AS rk, neighbor_id, adist FROM (
             |  SELECT query_id, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM exact_cand) WHERE rk <= 3),
             |ranked AS (SELECT q.query_id, q.qlabel, q.qq, q.qn2, q.qcell, c.cid AS cell,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY ${l2ListSql("q.qq", "c.cq")} ASC, c.cid ASC) AS prk
             |  FROM qs q CROSS JOIN cent c WHERE q.avail > $RareMass),
             |cm AS (SELECT r.query_id, r.qlabel, r.qq, r.qn2, r.cell, r.prk,
             |    sum(COALESCE(h.n_cl, 0) - CASE WHEN r.cell = r.qcell THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY r.query_id ORDER BY r.prk) AS cum
             |  FROM ranked r LEFT JOIN hist h ON h.cell = r.cell AND h.qlabel = r.qlabel),
             |np AS (SELECT query_id,
             |    greatest($NumProbe, COALESCE(min(CASE WHEN cum >= 3 THEN prk END), max(prk))) AS np_used
             |  FROM cm GROUP BY query_id),
             |probes AS (SELECT c.query_id, c.qlabel, c.qq, c.qn2, c.cell, n.np_used
             |  FROM cm c JOIN np n ON n.query_id = c.query_id WHERE c.prk <= n.np_used),
             |ivf_cand AS (SELECT p.query_id, p.np_used, a.vec_id,
             |    CAST(a.n2 - 2 * ${idotSql("a.q", "p.qq")} + p.qn2 AS BIGINT) AS adist
             |  FROM assigned a
             |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
             |  JOIN lab l ON l.vec_id = a.vec_id AND l.flabel = p.qlabel),
             |iv AS (SELECT query_id, 'ivf' AS tier, CAST(np_used AS BIGINT) AS np_used,
             |    CAST(rk AS BIGINT) AS rk, neighbor_id, adist FROM (
             |  SELECT query_id, np_used, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM ivf_cand) WHERE rk <= 3)
             |SELECT * FROM ex UNION ALL SELECT * FROM iv""".stripMargin),
      "Tiered rare-label dispatch: the router histogram's per-label mass routes rare labels (avail <= threshold) to the exact label-partitioned tier (bounded rows, recall 1.0 by construction — v22's partitioned-list layout at serving scale) and dense labels to v24's adaptive-nprobe rule — closing the scattered-rare-label regime where IVF cell routing carries no signal."
    ),
    QueryDef(
      "v27_mass_coverage_router",
      (s, d) => {
        // MASS-COVERAGE escalation — the serving rule that closes the
        // regime v24/v26 still miss: a MID-selectivity label whose probed
        // cells hold ≥ k same-label candidates (so count-coverage never
        // escalates) but whose TRUE neighbors sit in unprobed cells —
        // candidate count is blind to candidate quality (the 100tb-preset
        // AnnDemo measured recall 0.0 for the 0.048-selectivity class
        // with np stuck at the floor: 3 candidates filled k). The fix is
        // the natural extension of v24's histogram rule: probe until the
        // cumulative same-label mass over the distance-ranked cell prefix
        // reaches α·k (MassCoverK), not merely k — the exact rerank then
        // chooses k results out of ~α× more same-label candidates than it
        // returns, giving routing error room to hide. Dispatch (v26's
        // tier rule, extended twice): the exact label-partitioned tier
        // serves a label that is rare (avail ≤ RareMass), OR whose total
        // mass cannot cover α·k (escalating toward an unreachable
        // coverage target would walk np to C for nothing), OR whose
        // PER-CELL density avail/C sits below k — the scattered-mid
        // regime AnnDemo measured at recall 0.0 even past np 16: when a
        // cell's expected same-label mass is under k, cell membership is
        // routing noise w.r.t. the label and no prefix depth recovers
        // quality, while the label partition reads < k·C rows for recall
        // 1.0 by construction (at capacity geometry k·C = 3e5 of 1e10
        // rows — only genuinely scattered classes qualify, and their
        // partitions are bounded). Same shapes as v24/v26: histogram +
        // probes broadcast, C as a broadcast 1-row count, one window over
        // queries × C ranked rows (metadata at any corpus size), exact
        // integer rerank over the probed cells only.
        //
        // CATALOG shape vs SERVING shape: this exact tier scans the cached
        // labeled corpus with the exact-tier queries broadcast, while the
        // SERVING path (AnnDemo/Layout) dispatches the same tier to the
        // label-partitioned parquet layout and reads only the query label's
        // partitions (measured bounded: rows_read 120–2880 of the corpus,
        // tier "partitioned", ann_demo_last.json). The catalog keeps the
        // scan shape deliberately: the DuckDB oracle replays the identical
        // full-scan predicate, so the row/hash compare checks the TIER
        // SEMANTICS (which neighbors an exact-tier query must return)
        // rather than the storage layout, and the layout's partition
        // pruning is asserted where the layout exists — in the serving demo
        // and LayoutSpec. Cost at catalog scale is a one-pass scan of the
        // session-cached labeled frame; at 100 TB the serving path is the
        // shape that runs.
        // shared serving state, same registrations v26 reads (the
        // persisted labeled index + the maintained router histogram)
        val labeled = fineLabeled(s, d)
        val mass = fineHist(s, d).groupBy(col("qlabel")).agg(sum(col("n_cl")).as("n_label"))
        // C as a broadcast 1-row count, so the density guard stays in-plan
        val cTot = broadcast(cellSeed(s, d).agg(count(lit(1)).as("c_tot")))
        val queries = labeled.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("flabel").as("qlabel"),
            col("q").as("qq"), col("n2").as("qn2"), col("cell").as("qcell"))
          .join(broadcast(mass), Seq("qlabel"))
          .withColumn("avail", col("n_label") - 1)
          .crossJoin(cTot)
          // rare ∪ can't-cover-α·k ∪ density-below-k → the exact tier
          .withColumn("exact_tier",
            col("avail") <= greatest(lit(ExactTierMax.toLong), lit(3L) * col("c_tot") - 1L))
        tiered(s, d, queries, col("exact_tier"), MassCoverK)
      },
      Some(s"""WITH base AS (SELECT vec_id, label, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "mc", "assigned")},
             |lab AS (SELECT a.vec_id, a.q, a.n2, a.cell,
             |    CAST(CASE WHEN a.vec_id % 50 = 7 THEN 100 + a.vec_id % 3 ELSE b.label END AS BIGINT) AS flabel
             |  FROM assigned a JOIN base b ON b.vec_id = a.vec_id),
             |hist AS (SELECT cell, flabel AS qlabel, count(*) AS n_cl FROM lab GROUP BY cell, flabel),
             |mass AS (SELECT qlabel, CAST(sum(n_cl) AS BIGINT) AS n_label FROM hist GROUP BY qlabel),
             |ct AS (SELECT count(*) AS c_tot FROM cent),
             |qs AS (SELECT l.vec_id AS query_id, l.flabel AS qlabel, l.q AS qq, l.n2 AS qn2,
             |    l.cell AS qcell, m.n_label - 1 AS avail,
             |    (m.n_label - 1 <= greatest($ExactTierMax, 3 * ct.c_tot - 1)) AS exact_tier
             |  FROM lab l JOIN mass m ON m.qlabel = l.flabel CROSS JOIN ct WHERE l.vec_id < 8),
             |exact_cand AS (SELECT q.query_id, l.vec_id,
             |    CAST(l.n2 - 2 * ${idotSql("l.q", "q.qq")} + q.qn2 AS BIGINT) AS adist
             |  FROM qs q JOIN lab l ON l.flabel = q.qlabel AND l.vec_id <> q.query_id
             |  WHERE q.exact_tier),
             |ex AS (SELECT query_id, 'exact' AS tier, CAST(0 AS BIGINT) AS np_used,
             |    CAST(rk AS BIGINT) AS rk, neighbor_id, adist FROM (
             |  SELECT query_id, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM exact_cand) WHERE rk <= 3),
             |ranked AS (SELECT q.query_id, q.qlabel, q.qq, q.qn2, q.qcell, c.cid AS cell,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY ${l2ListSql("q.qq", "c.cq")} ASC, c.cid ASC) AS prk
             |  FROM qs q CROSS JOIN cent c WHERE NOT q.exact_tier),
             |cm AS (SELECT r.query_id, r.qlabel, r.qq, r.qn2, r.cell, r.prk,
             |    sum(COALESCE(h.n_cl, 0) - CASE WHEN r.cell = r.qcell THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY r.query_id ORDER BY r.prk) AS cum
             |  FROM ranked r LEFT JOIN hist h ON h.cell = r.cell AND h.qlabel = r.qlabel),
             |np AS (SELECT query_id,
             |    greatest($NumProbe, COALESCE(min(CASE WHEN cum >= $MassCoverK THEN prk END), max(prk))) AS np_used
             |  FROM cm GROUP BY query_id),
             |probes AS (SELECT c.query_id, c.qlabel, c.qq, c.qn2, c.cell, n.np_used
             |  FROM cm c JOIN np n ON n.query_id = c.query_id WHERE c.prk <= n.np_used),
             |ivf_cand AS (SELECT p.query_id, p.np_used, a.vec_id,
             |    CAST(a.n2 - 2 * ${idotSql("a.q", "p.qq")} + p.qn2 AS BIGINT) AS adist
             |  FROM assigned a
             |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
             |  JOIN lab l ON l.vec_id = a.vec_id AND l.flabel = p.qlabel),
             |iv AS (SELECT query_id, 'ivf' AS tier, CAST(np_used AS BIGINT) AS np_used,
             |    CAST(rk AS BIGINT) AS rk, neighbor_id, adist FROM (
             |  SELECT query_id, np_used, vec_id AS neighbor_id, adist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rk
             |  FROM ivf_cand) WHERE rk <= 3)
             |SELECT * FROM ex UNION ALL SELECT * FROM iv""".stripMargin),
      "Mass-coverage adaptive router: probe until cumulative router-histogram label mass reaches ALPHA*k (not merely k candidates — count coverage is blind to candidate quality), dispatching to the exact label-partitioned tier any label that is rare, cannot cover the target, or whose per-cell density sits below k (the scattered-mid regime where cell routing carries no label signal and recall stays 0 at any np) — v24's escalation and v26's dispatch unified under one quality-aware rule."
    ),
    QueryDef(
      "v28_calibrated_probe_depth",
      (s, d) => {
        // CALIBRATED dense-tier depth — the calibration serving rule pinned
        // under the oracle gate. For labels the tiered dispatch keeps on
        // the IVF tier, mass coverage (v27) saturates instantly — a dense
        // label covers α·k inside any one cell — yet the probe depth a
        // recall target actually needs is index- and query-set-dependent
        // (AnnDemo measured recall@3 0.083 for the dense class at the
        // routed preset's np floor), and admissible distance bounds never
        // prune on near-uniform vectors (branch-and-bound measured
        // degenerating to np = C; see IvfCentroids.probeRanking). So the
        // router CALIBRATES: a disjoint same-tier calibration query set
        // with sampled exact ground truth yields the coverage-vs-depth
        // curve, and serving picks one grid step past the smallest depth
        // whose coverage meets the deployment's recall target. Coverage
        // IS served recall for an exact reranker: a ground-truth neighbor
        // whose cell is probed outranks every non-GT candidate by
        // definition. Cost shape at 100 TB: |cal| brute-force GT passes
        // per maintenance cycle (bounded, amortized — the same cost class
        // as the router histogram's audit), then the curve and the chosen
        // depth are pure metadata arithmetic: needs = |cal|·k rows, the
        // grid an in-plan literal array, no corpus access after GT.
        val labeled = fineLabeled(s, d)
        val calQ = labeled.filter(col("vec_id") >= 16 && col("vec_id") < 24
            && col("flabel") < 100)
          .select(col("vec_id").as("query_id"), col("flabel").as("qlabel"),
            col("q").as("qq"), col("n2").as("qn2"))
        // sampled exact ground truth: same-label top-3 per calibration query
        val gt = topK(withAdist(labeled.join(broadcast(calQ),
            col("flabel") === col("qlabel") && col("vec_id") =!= col("query_id"))), "adist", 3, asc = true)
          .select(col("query_id"), col("qq"), col("cell"))
        // np needed per neighbor = its cell's rank in the exact probe order
        val ranked = probeRanking(calQ, cellSeed(s, d)).select(col("query_id"), col("cell"), col("prk"))
        val needs = gt.join(ranked, Seq("query_id", "cell"))
          .select(col("query_id"), col("prk").as("np_needed"))
        // the coverage curve over the serving grid (in-plan literal), and
        // the chosen depth: one grid step past the smallest point meeting
        // the deployment target (margin — calibration transfers
        // approximately); an unreachable target serves at the deepest step
        // INTEGER curve: covered-count numerator, not a fraction — |cal|·k
        // is 24, whose reciprocal is not dyadic, so a double fraction
        // would gamble the hash gate on last-digit rounding agreement;
        // the target test is the exact integer form covered·5 ≥ total·4
        // (coverage ≥ 0.8)
        val grid = Seq(2L, 4L, 8L, 16L, 32L, 64L, 128L)
        val curve = needs
          .select(explode(array(grid.map(lit): _*)).as("np"), col("np_needed"))
          .groupBy(col("np"))
          .agg(sum(when(col("np_needed") <= col("np"), 1L).otherwise(0L)).as("covered"),
            count(lit(1)).as("total"))
        val chosen = broadcast(curve
          .agg(coalesce(min(when(col("covered") * 5 >= col("total") * 4, col("np"))),
            lit(grid.last)).as("min_np")))
        val npCal = broadcast(curve.crossJoin(chosen)
          .agg(coalesce(min(when(col("np") > col("min_np"), col("np"))),
            lit(grid.last)).as("np_cal")))
        curve.crossJoin(npCal)
          .select(col("np"), col("covered"), col("total"), col("np_cal"))
      },
      Some(s"""WITH base AS (SELECT vec_id, label, q, ${inorm2Sql("q")} AS n2 FROM ($quantizedSql)),
             |cent AS (SELECT vec_id AS cid, q AS cq FROM base WHERE vec_id < ${cellCapSql("base")}),
             |${assignSql("base", "cent", Seq("q", "n2"), "cd", "assigned")},
             |lab AS (SELECT a.vec_id, a.q, a.n2, a.cell,
             |    CAST(CASE WHEN a.vec_id % 50 = 7 THEN 100 + a.vec_id % 3 ELSE b.label END AS BIGINT) AS flabel
             |  FROM assigned a JOIN base b ON b.vec_id = a.vec_id),
             |calq AS (SELECT vec_id AS query_id, flabel AS qlabel, q AS qq, n2 AS qn2
             |  FROM lab WHERE vec_id >= 16 AND vec_id < 24 AND flabel < 100),
             |gt AS (SELECT query_id, qq, cell FROM (
             |  SELECT c.query_id, c.qq, l.cell,
             |    row_number() OVER (PARTITION BY c.query_id
             |      ORDER BY CAST(l.n2 - 2 * ${idotSql("l.q", "c.qq")} + c.qn2 AS BIGINT) ASC, l.vec_id ASC) AS rk
             |  FROM lab l JOIN calq c ON l.flabel = c.qlabel AND l.vec_id <> c.query_id)
             |  WHERE rk <= 3),
             |ranked AS (SELECT c.query_id, ct.cid AS cell,
             |    row_number() OVER (PARTITION BY c.query_id
             |      ORDER BY ${l2ListSql("c.qq", "ct.cq")} ASC, ct.cid ASC) AS prk
             |  FROM calq c CROSS JOIN cent ct),
             |needs AS (SELECT g.query_id, r.prk AS np_needed
             |  FROM gt g JOIN ranked r ON r.query_id = g.query_id AND r.cell = g.cell),
             |grid AS (SELECT CAST(np AS BIGINT) AS np FROM (VALUES (2),(4),(8),(16),(32),(64),(128)) AS t(np)),
             |curve AS (SELECT g.np,
             |    CAST(sum(CASE WHEN n.np_needed <= g.np THEN 1 ELSE 0 END) AS BIGINT) AS covered,
             |    CAST(count(*) AS BIGINT) AS total
             |  FROM grid g CROSS JOIN needs n GROUP BY g.np),
             |chosen AS (SELECT CAST(COALESCE(min(CASE WHEN covered * 5 >= total * 4 THEN np END), 128) AS BIGINT) AS min_np FROM curve),
             |npcal AS (SELECT CAST(COALESCE(min(CASE WHEN c.np > ch.min_np THEN c.np END), 128) AS BIGINT) AS np_cal
             |  FROM curve c CROSS JOIN chosen ch)
             |SELECT c.np, c.covered, c.total, p.np_cal FROM curve c CROSS JOIN npcal p""".stripMargin),
      "Calibrated dense-tier probe depth: a disjoint same-tier calibration set with sampled exact ground truth yields the coverage-vs-depth curve (coverage == served recall for an exact reranker), and serving picks one grid step past the smallest depth meeting the deployment recall target — the calibration rule that closed the dense-label recall hole mass coverage and admissible distance bounds both miss (AnnDemo: common-class recall@3 0.083 -> 1.0 at the routed preset)."
    )
  )
}
