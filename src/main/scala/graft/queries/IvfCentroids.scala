package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Offline IVF centroid trainer: deterministic sampled-Lloyd k-means over
  * quantized integer vectors.
  *
  * Every step is exact integer (or single-IEEE-op) arithmetic, so training
  * is bit-reproducible across engines, partitionings, and runs — the same
  * determinism contract as the rest of the embedding stack:
  *  - init: the k lowest-vec_id vectors (deterministic seed);
  *  - assign: nearest centroid by exact integer squared L2, ties broken by
  *    centroid id;
  *  - update: element-wise floor(sum / n) over the assigned sample (sums and
  *    counts are exact; the one divide is a single IEEE op on magnitudes far
  *    inside double exactness); empty cells keep their previous centroid;
  *  - sample: `vec_id % sampleMod == 0` — deterministic, and at 100 TB the
  *    sample is what makes Lloyd tractable (full-corpus assignment happens
  *    once at index-build time, not per iteration).
  *
  * At scale this runs as its own job ([[save]]) and the serving path loads
  * the codebook parquet ([[load]]) as a broadcast dimension; the v6 query
  * trains inline on the (tiny) sample so the DuckDB oracle can mirror the
  * unrolled iterations in SQL.
  */
object IvfCentroids {

  /** Exact integer squared L2 via ‖a−b‖² = ‖a‖² + ‖b‖² − 2·a·b (three
    * codegen'd LongDot loops, no per-row zipped array).
    */
  def l2(a: Column, b: Column): Column =
    graft.functions.longDot(a, a) + graft.functions.longDot(b, b) -
      lit(2L) * graft.functions.longDot(a, b)

  /** Train on `quantized` (`vec_id: long, q: array<long>`): k centroids as
    * (cid, cq). Plans `iters` unrolled assign+update rounds — iters is a
    * small constant (Lloyd on a sample converges in a few rounds; the plan
    * grows linearly with it).
    */
  def train(quantized: DataFrame, k: Int, iters: Int, sampleMod: Int): DataFrame =
    train(quantized,
      quantized.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("q").as("cq")),
      iters, sampleMod)

  /** Train from an explicit `(cid, cq)` seed — the entry point for
    * data-adaptive cell budgets (the caller caps the seed by corpus size).
    *
    * `materializeRound` is handed each completed round's centroids (round
    * index 1..iters) and may return a materialized handle: Lloyd rounds are
    * SEQUENTIAL by nature, and a later round's plan references the previous
    * round's table several times (the routed assignment + the empty-cell
    * left join) — left lazy, the per-round tree multiplies per reference.
    * The catalog's query layer passes a [[SharedCaches]] registration
    * (per-round k-row caches, released with everything else); the default
    * is identity for callers that train tiny codebooks.
    */
  def train(quantized: DataFrame, seed: DataFrame, iters: Int, sampleMod: Int,
            materializeRound: (Int, DataFrame) => DataFrame = (_, df) => df,
            routed: Boolean = graft.GraftConfig.active.ivfRouted): DataFrame = {
    val sample = quantized.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("q"))
    var cent = seed
    for (round <- 1 to iters) {
      // routing-depth-dispatched assignment (see [[assign]]; default =
      // preset flag): the flat sample×cent argmin costs m·C distance
      // terms per round, which at the capacity preset's (n/2)^(3/4) cell
      // geometry is the single superlinear term of the whole training
      // job; there, routing through √C coarse groups drops it to ~2m√C
      // (Lloyd with approximate routed assignment — the standard large-k
      // trick; the update step is unchanged and exact). CAUTION, measured
      // on the ×30 AnnDemo corpus: routed TRAINING degrades the centroids
      // themselves, not just the routing (2/24 true-neighbor cell coverage@np16 vs 12/24
      // flat-trained at identical routed final assignment), and because
      // Lloyd runs on the bounded sample, flat training at full scan
      // width costs seconds at any corpus scale — AnnDemo now trains
      // flat at every preset and routes only the corpus-sized final
      // assignment. Routed training remains the oracle-pinned capacity
      // MODE for the catalog (v6's SQL mirror dispatches with it), where
      // the gate certifies its arithmetic, not its index quality.
      val assigned = assign(sample, cent, Seq("q"), routed)
        .select(col("cell").as("cid"), col("q"))
      val means = assigned.groupBy(col("cid"))
        .agg(graft.functions.LongVecSum.column(col("q")).as("sv"), count(lit(1)).as("n"))
        .select(col("cid"),
          transform(col("sv"), x => floor(x.cast("double") / col("n")).cast("long")).as("mq"))
      cent = materializeRound(round,
        cent.join(means, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("mq"), col("cq")).as("cq")))
    }
    // No unconditional .cache() here: train() runs at query-CONSTRUCTION
    // time for every build of v6 (Verify, Bench, plan sweeps), so an
    // unregistered cache would leak a CacheManager entry per build —
    // materialization policy belongs to the caller (the materializeRound
    // hook / the SharedCaches registration in the query layer). At real
    // scale the codebook is persisted via [[save]] and served from
    // parquet, not recomputed per query.
    cent
  }

  /** First-`k` seed `(cid, cq)` capped at `least(k, max(1,
    * floor(sqrt(x·sqrt(x)))))` with x = n/2 — i.e. C = (n/2)^(3/4), the
    * cell geometry for TWO-LEVEL routed assignment ([[assignHier]]).
    *
    * Cost model. Cell count C trades the two halves of every IVF-family
    * query against each other: routed assignment costs ~2n√C distance
    * terms (√C coarse probes + ~C/√C fine candidates per vector), and
    * within-cell work (SemDeDup pairs, probe rerank) costs ~n²/(2C).
    * The true balance point of 2n√C + n²/(2C) is C = (n/2)^(2/3) — both
    * halves O(n^(4/3)) — but a cube-root cap is an ORACLE HAZARD: IEEE 754
    * specifies correct rounding for sqrt only, not pow/cbrt, so
    * `floor(pow(x, 2.0/3.0))` can legally differ by one cell between
    * Spark's libm and DuckDB's, and a one-cell cap divergence fails every
    * gate row downstream. C = x^(3/4) = sqrt(x·sqrt(x)) is the nearest
    * sqrt-composable (dyadic) exponent: every op in the cap (one divide,
    * one multiply, two sqrts, floor) is correctly rounded and therefore
    * bit-identical on both engines. Resulting exponents: assignment
    * O(n^(11/8)), within-cell O(n^(5/4)) — both strictly below the
    * flat-argmin √-geometry's O(n^(3/2)) (and far below the constant-
    * occupancy cap's O(n²) assignment that the ×10 full-catalog bench
    * caught in round 8). At true corpus scale the remaining n^(11/8) is
    * an index-BUILD cost paid once via [[save]], amortized over serving;
    * deeper fixed-depth routing trees (the hierarchical-k-means/IMI
    * family, b-ary levels → n·b·log_b C ≈ O(n log n)) are the next rung
    * and drop in behind the same assignHier seam.
    *
    * Also the small-corpus guard: without the cap, a capacity-sized `k`
    * against a small corpus seeds EVERY vector as a centroid and
    * assignment goes quadratic. Declarative (broadcast 1-row count;
    * `count(lit(1))` references no columns, so the parquet scan answers
    * from footer row counts). The configured budget `k` binds only past
    * x = k^(4/3) (NumCells=1e5 → n ≈ 9·10⁶ vectors), where the
    * broadcast-size ceiling takes over.
    */
  def cappedSeed(quantized: DataFrame, k: Int): DataFrame = {
    val cap = quantized.groupBy().agg(
      least(lit(k.toLong),
        greatest(lit(1L),
          floor(sqrt((count(lit(1)) / 2.0) * sqrt(count(lit(1)) / 2.0))).cast("long"))).as("cell_cap"))
    quantized.crossJoin(broadcast(cap))
      .filter(col("vec_id") < col("cell_cap"))
      .select(col("vec_id").as("cid"), col("q").as("cq"))
  }

  /** Two-level routed nearest-centroid assignment — the IMI/coarse-quantizer
    * shape: route each vector to its nearest of ~√C COARSE centroids (the
    * lowest-cid √C cells), then argmin only over the fine centroids whose
    * own nearest coarse is that group. ~2√C distance terms per vector
    * instead of the flat argmin's C.
    *
    * Input: `base` with (`vec_id`, payload columns — must include `q`);
    * `cent` = (cid, cq). Output: vec_id, payload, `cell`.
    *
    * Exactness contract: NOT the global argmin (a vector whose true nearest
    * fine centroid routes to a different coarse group gets its in-group
    * nearest instead) — an approximation the IVF family already embraces;
    * what matters for the gate is that the oracle replays the identical
    * two-level rule ([[EmbeddingQueries]] `hierAssignSql`), and for scale
    * that cluster quality is preserved (cells stay balanced; the
    * IvfCentroidsSpec recall gate pins it).
    *
    * Determinism: both levels tie-break by ascending centroid id via one
    * min_by over a (dist, id) struct — a total order; and both levels use
    * the SAME rule, so a routed-to group is never empty (coarse centroid g
    * routes to itself unless its position duplicates a lower gid — in which
    * case every vector equidistant to both also tie-breaks to the lower gid
    * and g is simply never chosen). Shapes: three broadcast joins + two
    * partial-aggregating argmins — no window over the corpus, no shuffle
    * wider than one row per vector.
    */
  /** Preset-dispatched corpus→cell assignment: flat exact argmin at the
    * demo routing depth, two-level coarse→fine at the capacity depth —
    * see `GraftConfig.ivfRouted` for the cost model. Query code and oracle
    * SQL ([[EmbeddingQueries]] `assignSql`) dispatch on the same flag.
    *
    * THE NEXT ROUTING RUNG (design note — not needed at the current
    * budget): the two rungs implemented here cost n·C (flat) and ~2n·√C
    * (two-level). Past C ≈ 1e6 cells the next rung is a b-ary routing
    * TREE — hierarchical k-means with branching factor b (equivalently an
    * inverted multi-index): log_b C levels, n·b·log_b C distance terms
    * per assignment pass (b=32, C=1e6 → ~4 levels, 128 terms/vector vs
    * 2000 for two-level). It slots in BEHIND THE SAME SEAM: a drop-in
    * with [[assignHier]]'s signature `(base, cent, payload) → (vec_id,
    * payload…, cell)` whose routing tables (level-k centroid → children)
    * are, like `centg` below, centroid-count work materialized once and
    * broadcast — the corpus side stays one map-only pass + partial-agg
    * argmin per level, no shuffle wider than one row per vector. The
    * contract every rung must satisfy is pinned executable in
    * IvfCentroidsSpec ("routing-rung seam contract"): exactly one output
    * row per input vector, `cell` drawn from `cent.cid`, payload columns
    * passed through byte-identical, deterministic under rerun (total-order
    * tie-breaks at every level), and cluster quality preserved (the
    * recall@3 gate). The dispatcher then grows a third branch on a cell-
    * budget threshold, and the oracle mirrors it the way `hierAssignSql`
    * mirrors rung two — at C ≤ 1e5 (the 100 TB preset) two-level routing
    * is strictly cheaper, so rung three stays a documented seam, not code.
    */
  /** PRECONDITION (all assign variants): `base.vec_id` must be UNIQUE.
    * The skinny-argmin shape emits one (vec_id, cell) row per DISTINCT
    * vec_id and joins the payload back on it — duplicate vec_ids would
    * mix distances across rows inside [[argminCell]] and fan the
    * join-back out to duplicates² rows. Every caller keys `base` by a
    * primary key (embeddings.vec_id, centroid cid remaps); a non-keyed
    * frame must be deduplicated first. Checked (one cheap count-distinct
    * pass) when `spark.graft.debug.assign=true` so a future non-keyed
    * caller fails loudly instead of producing a fanned-out assignment.
    */
  def assign(base: DataFrame, cent: DataFrame, payload: Seq[String],
      routed: Boolean = graft.GraftConfig.active.ivfRouted): DataFrame = {
    if (base.sparkSession.conf.getOption("spark.graft.debug.assign")
        .exists(_.toBoolean)) {
      val Array(n, d) = base.agg(count(lit(1)), countDistinct(col("vec_id")))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      require(n == d, s"assign() requires unique vec_id in base: $n rows, $d distinct")
    }
    if (routed) assignHier(base, cent, payload)
    else assignFlat(base, cent, payload)
  }

  /** SKINNY argmin over a (vec_id, dist, cid) stream: min(struct(dist,
    * cid)) — a 16-byte aggregation state, ties to the lowest cid by the
    * struct's lexicographic order (the one total order every assignment
    * level uses). Shared by [[assignFlat]] and [[assignHier]].
    *
    * Why NOT min_by(struct(payload…), …) carrying the payload through the
    * aggregation (the shape this replaced): an aggregate whose VALUE
    * holds the 64-long vector re-materializes that array per JOINED ROW
    * (the buffer projection copies the struct on every update check, and
    * the blown-up join is n·C rows) — measured at 41 s for one Lloyd
    * round's 1.5e7 joined rows where the bare join+distance pass costs
    * 2.7 s, a 15× interpretive-copy tax. The payload instead rides a
    * separate vec_id join-back ([[attachCell]]): one exchange of n skinny
    * rows, and the argmin aggregation state is two longs.
    */
  private def argminCell(joined: DataFrame, distCol: Column, idCol: Column): DataFrame =
    joined
      .withColumn("dist", distCol)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), idCol.as("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))

  /** Payload join-back for [[argminCell]]: one inner hash join on the
    * unique vec_id — n skinny rows shuffled, vs the array-copy-per-joined-
    * row tax of carrying the payload through the argmin aggregation.
    */
  private def attachCell(base: DataFrame, cells: DataFrame,
      payload: Seq[String], out: String = "cell"): DataFrame =
    base.join(cells, Seq("vec_id"))
      .select(col("vec_id") +: payload.map(col) :+ col("cell").as(out): _*)

  /** Flat exact nearest-centroid assignment: one broadcast join + one
    * partial-aggregating skinny argmin (n·C distance terms, ties to the
    * lowest cid via a (dist, cid) struct min — the same total order as
    * [[assignHier]]'s two levels) + the payload join-back. Cheapest shape
    * while the codebook is small; the capacity preset routes instead.
    */
  def assignFlat(base: DataFrame, cent: DataFrame, payload: Seq[String]): DataFrame = {
    require(payload.contains("q"), "assignFlat payload must carry q for distances")
    val cells = argminCell(base.select(col("vec_id"), col("q")).join(broadcast(cent)),
      l2(col("q"), col("cq")), col("cid"))
    attachCell(base, cells, payload)
  }

  def assignHier(base: DataFrame, cent: DataFrame, payload: Seq[String],
      routeWidth: Int = graft.GraftConfig.active.ivfRouteWidth): DataFrame = {
    require(payload.contains("q"), "assignHier payload must carry q for level-2 distances")
    val gcap = cent.groupBy().agg(
      greatest(lit(1L), ceil(sqrt(count(lit(1)))).cast("long")).as("gcap"))
    val coarse = cent.crossJoin(broadcast(gcap))
      .filter(col("cid") < col("gcap"))
      .select(col("cid").as("gid"), col("cq").as("gq"))
    // fine centroid -> its coarse group (centroid-count work only; the
    // payload-in-aggregate tax is acceptable here — C rows, not n)
    val centg = cent.join(broadcast(coarse))
      .withColumn("gdist", l2(col("cq"), col("gq")))
      .groupBy(col("cid"))
      .agg(min_by(struct(col("cq"), col("gid")), struct(col("gdist"), col("gid"))).as("m"))
      .select(col("m.gid").as("gid"), col("cid"), col("m.cq").as("cq"))
    // level 1: per-vector TOP-W coarse groups (W = ivfRouteWidth — the
    // multiprobe width; see GraftConfig for the measured W=1 routing-loss
    // numbers) in ONE map-side pass: the coarse table rides as a
    // broadcast 1-row ARRAY and transform/array_sort/slice compute each
    // vector's W nearest groups with no shuffle at all. Why not the
    // obvious alternatives — a per-vector window over vec_id would
    // shuffle all n·√C ranked rows (scale-killer), and W sequential
    // argmin aggregations would shuffle n rows W times; the array form
    // keeps level 1 shuffle-free and O(√C log √C) compute per vector.
    // array_sort on struct(gdist, gid) is the same lexicographic
    // (dist, id)-ascending total order as every other assignment level.
    val routeW = routeWidth
    val coarseArr = broadcast(
      coarse.agg(collect_list(struct(col("gid"), col("gq"))).as("groups")))
    val skinny = base.select(col("vec_id"), col("q"))
    val topg = skinny.crossJoin(coarseArr)
      .select(col("vec_id"), col("q"),
        explode(slice(array_sort(transform(col("groups"),
            g => struct(l2(col("q"), g("gq")).as("gdist"), g("gid").as("gid")))),
          1, routeW)).as("g"))
      .select(col("vec_id"), col("q"), col("g.gid").as("gid"))
    // level 2: argmin over the W routed groups' union of fine centroids
    // (~W·√C distance terms — the cells of distinct groups are disjoint,
    // cg maps each cell to exactly one group), then one payload join-back
    // on the unique vec_id
    val cells = argminCell(
      topg.join(broadcast(centg), Seq("gid")),
      l2(col("q"), col("cq")), col("cid"))
    attachCell(base, cells, payload)
  }

  // ------------------------------------------------- the IVF search core
  // Every v-query and AnnDemo's serving legs compose the same five steps:
  // probe ranking → (escalation) → candidate scoring → per-query top-k →
  // (recall against an exact arm). Column conventions: a query frame
  // carries `query_id` and its vector `qq` (plus `qn2` = ‖qq‖² where the
  // score needs it); a candidate row carries `vec_id`, `q`, `n2`. The
  // probe-policy differences between queries (fixed NumProbe, count or
  // mass escalation, calibrated depth) are the arguments each call site
  // passes — there is no policy object.

  /** The catalog's recall-tuned probe floor: IVF cells probed per query
    * at fixed nprobe, and the floor [[escalate]] never goes under.
    */
  val NumProbe = 2

  /** Query-side PROBE RANKING: every cell of `cent` (cid, cq) ranked per
    * `query_id` in exact (L2(qq, cq), cid)-ascending order — output is the
    * query frame's columns + `cell` + `prk` (1-based). Cost: queries × C
    * ranked rows, router metadata at any corpus size (the corpus is never
    * touched); a `prk <= np` filter on the result turns the window into a
    * WindowGroupLimit partial top-np.
    *
    * Two alternatives were measured and REJECTED on the ×30 demo corpus
    * at the routed preset (true-neighbor cell coverage@np16, common
    * class, flat-trained codebook, W=4 routed assignment — exact order
    * scored 12/24):
    *  - GROUP-MAJOR ranking (coarse groups by L2(q, gq), cells within
    *    each group by L2(q, cq), mirroring the assignment's visit order):
    *    5–8/24 — spending the whole probe budget inside the query's own
    *    coarse group loses more cross-group neighbors than routing
    *    consistency recovers;
    *  - BRANCH-AND-BOUND escalation on per-cell radii (stop when the
    *    next cell's admissible lower bound exceeds the current k-th
    *    distance): on near-uniform vectors every cell radius exceeds the
    *    query–centroid distances, the bound never prunes, and the walk
    *    degenerates to a full scan (np = C measured on every query).
    * The remaining routing loss is paid at ASSIGNMENT time instead
    * (ivfRouteWidth multiprobe — see [[assignHier]]), where W× work is a
    * map-side constant rather than a per-query read amplification.
    */
  def probeRanking(queries: DataFrame, cent: DataFrame): DataFrame =
    queries.join(broadcast(cent))
      .withColumn("prk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(l2(col("qq"), col("cq")).asc, col("cid").asc)))
      .select(queries.columns.map(col) ++ Seq(col("cid").as("cell"), col("prk")): _*)

  /** Histogram ESCALATION — per-query probe depth as a policy (the
    * continuously-adaptive-search view: depth is chosen per query, not per
    * deployment). `ranked` is a [[probeRanking]] of queries carrying
    * `qlabel` and their own cell `qcell`; `hist` is the router's
    * per-(cell, label) candidate histogram `(cell, qlabel, n_cl)`. The
    * cumulative same-label mass `cum` runs over the distance-ranked cell
    * prefix (the query's own vector excluded from its cell's count), and
    * `np_used` is the first prefix whose mass reaches `target`:
    *  - FLOORED at [[NumProbe]] — escalate-only: shrinking below the
    *    recall-tuned floor for dense labels would trade recall for I/O
    *    behind the operator's back (AnnDemo's selectivity rung measured
    *    exactly that regression before the floor);
    *  - CAPPED at C (the deepest prefix) when the target is unreachable.
    * A deployment without the histogram runs the same rule as bounded
    * doubling escalation (probe 2, 4, 8… cells); the histogram form is
    * that walk's fixpoint computed in one shot, which is what makes it
    * oracle-expressible. Returns the PROBE TABLE: the ranked rows with
    * `prk <= np_used`, as the query's columns (less the routing-only
    * `qcell`) + cell + np_used; histogram and depth table ride as
    * broadcasts — metadata at any corpus size.
    */
  def escalate(ranked: DataFrame, hist: DataFrame, target: Int): DataFrame = {
    val cum = ranked.join(broadcast(hist), Seq("cell", "qlabel"), "left")
      .withColumn("m", coalesce(col("n_cl"), lit(0L)) -
        when(col("cell") === col("qcell"), lit(1L)).otherwise(lit(0L)))
      .withColumn("cum", sum(col("m")).over(
        Window.partitionBy(col("query_id")).orderBy(col("prk"))))
    val np = cum.groupBy(col("query_id")).agg(
      greatest(lit(NumProbe.toLong),
        coalesce(min(when(col("cum") >= target, col("prk"))), max(col("prk"))).cast("long"))
        .as("np_used"))
    cum.join(broadcast(np), Seq("query_id")).filter(col("prk") <= col("np_used"))
      .select((ranked.columns.filterNot(Set("qcell", "prk")) :+ "np_used").map(col): _*)
  }

  /** Cosine from exact integer parts; the only float ops are two sqrts,
    * one multiply, one divide — identical on every engine.
    */
  def cosine(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    graft.functions.longDot(a, b).cast("double") /
      (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** Asymmetric exact-integer L2 of candidate `q` (norm `n2`) to query
    * `qq` (norm `qn2`): ‖q−qq‖² = n2 − 2·q·qq + qn2 — one codegen'd
    * LongDot per candidate, both norms precomputed.
    */
  def adist(q: Column, n2: Column, qq: Column, qn2: Column): Column =
    n2 - lit(2L) * graft.functions.longDot(q, qq) + qn2

  /** Candidate rows (q, n2) scored by cosine to their query (qq, qn2):
    * adds `cos`.
    */
  def withCos(cand: DataFrame): DataFrame =
    cand.withColumn("cos", cosine(col("q"), col("qq"), col("n2"), col("qn2")))

  /** Candidate rows (q, n2) scored by asymmetric L2 to their query (qq,
    * qn2): adds `adist`.
    */
  def withAdist(cand: DataFrame): DataFrame =
    cand.withColumn("adist", adist(col("q"), col("n2"), col("qq"), col("qn2")))

  /** Squared L2 between two integer arrays as a named column `out`, via a
    * materialized `diff` column (the SQ8 rungs: the query's exact vector
    * against a dequantized reconstruction).
    */
  def withL2(df: DataFrame, a: String, b: String, out: String): DataFrame =
    df.withColumn("diff", zip_with(col(a), col(b), (x, y) => x - y))
      .withColumn(out, graft.functions.longDot(col("diff"), col("diff")))

  /** The SQ8 per-dim stats row `(mns, rng)` of `vecs.q` — one partial-
    * aggregated row, broadcast back to every consumer (the scalar-join
    * pattern); the codes are meaningless without it.
    */
  def sq8Stats(vecs: DataFrame, dim: Int): DataFrame = {
    val aggs = (0 until dim).map(i => min(element_at(col("q"), i + 1)).as(s"mn$i")) ++
      (0 until dim).map(i => max(element_at(col("q"), i + 1)).as(s"mx$i"))
    vecs.agg(aggs.head, aggs.tail: _*).select(
      array((0 until dim).map(i => col(s"mn$i")): _*).as("mns"),
      array((0 until dim).map(i => col(s"mx$i") - col(s"mn$i")): _*).as("rng"))
  }

  /** SQ8 affine 8-bit codes of `q` against the stats row: code =
    * (x−mn)·255 div rng via mod-subtract exact division (operands
    * nonnegative and ≤ ~1e6, so the IEEE divide of exact multiples is
    * exact on every engine).
    */
  def sq8Encode(q: Column, mns: Column, rng: Column): Column = {
    val dq = zip_with(q, mns, (x, m) => x - m)
    zip_with(dq, rng, (dd, r) =>
      when(r === 0L, 0L).otherwise((((dd * 255L) - ((dd * 255L) % r)) / r).cast("long")))
  }

  /** Integer-exact SQ8 reconstruction: mn + code·rng div 255. */
  def sq8Decode(codes: Column, mns: Column, rng: Column): Column =
    zip_with(mns, zip_with(codes, rng, (ci, r) =>
      (((ci * r) - ((ci * r) % 255L)) / 255L).cast("long")), (m, v) => m + v)

  /** The SQ8 round trip of `q` — what a serving tier that stores codes
    * reads back.
    */
  def sq8Dequant(q: Column, mns: Column, rng: Column): Column =
    sq8Decode(sq8Encode(q, mns, rng), mns, rng)

  /** PQ asymmetric-distance lookups: `codes` rows (…, sub, code) joined to
    * the per-query broadcast distance table `dtable` (query_id, sub, code,
    * qd) on `keys`; the approximate distance `adist` per (query_id,
    * vec_id) is the sum of one table lookup per subspace — original
    * vectors are never touched.
    */
  def pqAdc(codes: DataFrame, dtable: DataFrame, keys: Seq[String]): DataFrame =
    codes.join(broadcast(dtable), keys)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd")).cast("long").as("adist"))

  /** Per-query TOP-k: rows of `cand` ranked per `query_id` by (`score`,
    * vec_id) — ascending score for distances, descending for
    * similarities, the vec_id tiebreak making the order total so the
    * selected set is engine- and partitioning-independent. Adds `rk`
    * (1-based int). A query with fewer than k candidates keeps them all.
    *
    * Shape: the `rk <= k` filter over row_number is rewritten by Spark
    * into a WindowGroupLimit PARTIAL top-k below the query_id exchange
    * and a final one above it — distributed top-k from partition-local
    * partial top-k, so the shuffle carries at most k × n_queries rows per
    * input partition and the corpus × queries candidate expansion never
    * shuffles (asserted per query in PlanSpec).
    */
  def topK(cand: DataFrame, score: String, k: Int, asc: Boolean): DataFrame =
    cand.withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(if (asc) col(score).asc else col(score).desc, col("vec_id").asc)))
      .filter(col("rk") <= k)

  /** RECALL@k of an approximate arm against an exact one, both
    * `(keys…, neighbor_id)` top-k frames: per key, `n_exact`, `n_approx`
    * (0 when the approximate arm returned nothing), `n_hit` and
    * `recall_at_<k>` = n_hit / n_exact (round 6).
    *
    * Both rank frames are bounded at k × n_queries rows BY CONSTRUCTION
    * ([[topK]] over a plan-bounded query set), so they ride as broadcasts
    * and the assembly is two BroadcastHashJoins instead of exchange +
    * sort + SortMergeJoin pairs over tiny inputs — the planner cannot see
    * that bound alone (row counts are unknown after a window).
    */
  def recall(exact: DataFrame, approx: DataFrame, k: Int,
      keys: Seq[String] = Seq("query_id")): DataFrame = {
    val nApprox = approx.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_approx"))
    exact
      .join(broadcast(approx.withColumn("hit", lit(1L))), keys :+ "neighbor_id", "left")
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
      .join(broadcast(nApprox), keys, "left")
      .select(keys.map(col) ++ Seq(col("n_exact"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as(s"recall_at_$k")): _*)
  }

  /** Offline job: train and persist the codebook parquet. The seed is
    * corpus-capped — the at-scale entry point must not reproduce the
    * quadratic first-k blowup the query layer guards against.
    */
  def save(quantized: DataFrame, path: String, k: Int, iters: Int, sampleMod: Int): Unit =
    train(quantized, cappedSeed(quantized, k), iters, sampleMod)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** [[save]] with explicit routing depth and a per-stage time profile —
    * the attribution the day-0 build story needs (a lazy [[train]] plan
    * executes entirely inside the final write, so stage costs are
    * invisible; here each Lloyd round is materialized under its own
    * timer). Returns (seedS, per-round seconds, writeS); identical
    * centroids to [[save]] at the same routing depth (materialization
    * policy only). The checkpointed round tables are released by the
    * context cleaner once unreferenced.
    */
  def saveProfiled(quantized: DataFrame, path: String, k: Int, iters: Int,
      sampleMod: Int, routed: Boolean): (Double, Seq[Double], Double) = {
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val roundS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var tRound = 0L
    val (seed, seedS) = timed(cappedSeed(quantized, k).localCheckpoint(eager = true))
    tRound = System.nanoTime()
    val trained = train(quantized, seed, iters, sampleMod,
      materializeRound = (_, df) => {
        val m = df.localCheckpoint(eager = true)
        roundS += (System.nanoTime() - tRound) / 1e9
        tRound = System.nanoTime()
        m
      },
      routed = routed)
    val (_, writeS) = timed(
      trained.coalesce(1).write.mode("overwrite").parquet(path))
    (seedS, roundS.toSeq, writeS)
  }

  /** Serving path: load a trained codebook (broadcast it at the join site). */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("cid"), col("cq"))

  // --------------------------------------------- versioned publication
  // The codebook is the one piece of serving state EVERY query reads, so
  // maintenance rewrites (the v21 drift re-seed, periodic retrains) need
  // reader isolation like the inverted lists get from the layout manifest.
  // Same recipe, smaller: revision dirs `v<N>/` + empty marker files
  // `_graft_codebook-<N>` whose existence IS the commit (markers are
  // created after the parquet lands, so a reader resolving the max marker
  // never opens a half-written revision). GC keeps one previous revision
  // (the same one-merge grace window as the layout), and sweeps
  // marker-less dirs a crashed publish left behind.

  private def cbVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    (if (fs.exists(dir)) fs.listStatus(dir) else Array.empty[org.apache.hadoop.fs.FileStatus])
      .toIndexedSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("_graft_codebook-"))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("_graft_codebook-").toLong).toOption)
      .sorted

  /** Publish a codebook revision `(cid, cq)`: parquet to `v<N>/`, then the
    * marker commit; prunes revisions < N-1. Returns N.
    */
  def publish(cb: DataFrame, path: String): Long = {
    import org.apache.hadoop.fs.Path
    val spark = cb.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path)
    val next = cbVersions(fs, dir).lastOption.getOrElse(0L) + 1
    cb.select(col("cid"), col("cq"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/v$next")
    fs.create(new Path(dir, s"_graft_codebook-$next"), true).close() // COMMIT
    // GC: retain N and N-1; sweep older revisions and orphaned dirs
    // (a crashed publish's marker-less parquet)
    val keep = Set(next, next - 1)
    cbVersions(fs, dir).filterNot(keep).foreach { v =>
      fs.delete(new Path(dir, s"_graft_codebook-$v"), false)
      fs.delete(new Path(dir, s"v$v"), true)
    }
    fs.listStatus(dir).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("v") &&
        scala.util.Try(st.getPath.getName.stripPrefix("v").toLong).toOption
          .exists(v => !keep(v) && !fs.exists(new Path(dir, s"_graft_codebook-$v"))))
      .foreach(st => fs.delete(st.getPath, true))
    next
  }

  /** Resolve the current committed revision (the max marker) and load it. */
  def loadCurrent(spark: SparkSession, path: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    load(spark, s"$path/v${currentRevision(spark, path)}")
  }

  /** The current committed revision number (the max marker) — what a
    * reader pins before a long scan so a concurrent [[publish]] cannot
    * swap centroids under it mid-read (the revision's files survive one
    * publish — the same grace window the layout manifest gives).
    */
  def currentRevision(spark: SparkSession, path: String): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    cbVersions(fs, new org.apache.hadoop.fs.Path(path)).lastOption.getOrElse(
      sys.error(s"no committed codebook revision at $path"))
  }

  /** The v21 drift re-seed as a LIBRARY step, for composition into the
    * incremental maintenance loop (the catalog's v21_drift_reseed query is
    * the oracle-checked form of the same rule): per cell, the truncated
    * member mean `mq = floor(sum/n)` is derived from one pass of exact
    * integer sums over `assigned` (`vec_id, q, cell` — the inverted lists
    * or the materialized assignment); the `topK` cells with the largest
    * excess ‖mq − cq‖² (the parallel-axis gap between serving centroid and
    * member mean — exactly the avg-distance reduction a local Lloyd step
    * recovers) take the step `cq := mq`, MEMBERSHIP KEPT (no list rewrite,
    * no reassignment — O(drifted-cells) codebook rows touched, zero list
    * I/O). Returns (newCodebook, driftReport) where the report carries
    * `(cid, drift)` for the reseeded cells; the caller commits the new
    * codebook through [[publish]] so in-flight readers keep their pinned
    * revision.
    */
  def reseedDrifted(assigned: DataFrame, codebook: DataFrame,
      topK: Int): (DataFrame, DataFrame) = {
    val means = assigned.groupBy(col("cell"))
      .agg(graft.functions.LongVecSum.column(col("q")).as("sv"), count(lit(1)).as("n"))
      .select(col("cell").as("cid"),
        transform(col("sv"), x => floor(x.cast("double") / col("n")).cast("long")).as("mq"))
    val drifted = codebook.join(means, Seq("cid"))
      .withColumn("drift", l2(col("mq"), col("cq")))
      .filter(col("drift") > 0L)
      .orderBy(col("drift").desc, col("cid").asc)
      .limit(topK)
    val newCb = codebook.join(drifted.select(col("cid"), col("mq")), Seq("cid"), "left")
      .select(col("cid"), coalesce(col("mq"), col("cq")).as("cq"))
    (newCb, drifted.select(col("cid"), col("drift")))
  }
}
