package graft.queries

import graft.Tables
import graft.vlm.{GeoFunctions, QaPrimitives}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Oracle-checked queries exercising the VLM domain engine's geometry and
  * QA-assembly kernels over the driver's testdata tables: synthetic 9-DoF
  * boxes are derived deterministically from lineitem columns, run through
  * the *same* column functions / UDFs the QA tasks use, and cross-validated
  * against closed-form SQL in DuckDB.
  *
  * Determinism: boxes are axis-aligned (zero rotation) in the UDF-checked
  * queries, so every value is plain +,-,*,/,sqrt — IEEE-identical across
  * engines with no trig-libm skew; the min-vertex-distance oracle uses the
  * independent per-axis least-of-4 closed form (valid for axis-aligned
  * corners), so the 8×8 UDF is verified against *different* math.
  */
object DomainQueries extends QueryModule {

  /** Synthetic box columns from lineitem: center spread over ±few meters,
    * dims in (0, ~2.2]. All exact decimal-derived doubles.
    */
  private def syntheticBoxes(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 2000)
      .select(
        col("l_orderkey").as("frame_id"),
        col("l_linenumber").as("idx"),
        // /7 keeps pairwise x-diffs off the 0.1 classifier-threshold lattice
        // (multiples of 1/7), so vertex-mean fp noise can't flip comparisons
        ((col("l_quantity") - 25) / 7).as("x"),
        (col("l_discount") * 10 - 0.5).as("y"),
        (col("l_linenumber") + lit(2.0)).as("z"),
        (col("l_tax") * 2 + 0.2).as("xl"),
        ((col("l_quantity") % 7) / 10 + 0.3).as("yl"),
        ((col("l_linenumber") % 3) / 2.0 + 0.4).as("zl")
      )

  private val syntheticBoxesSql =
    """SELECT l_orderkey AS frame_id, l_linenumber AS idx,
      |  (l_quantity - 25) / 7 AS x, l_discount * 10 - 0.5 AS y, l_linenumber + 2.0 AS z,
      |  l_tax * 2 + 0.2 AS xl, (l_quantity % 7) / 10 + 0.3 AS yl, (l_linenumber % 3) / 2.0 + 0.4 AS zl
      |FROM lineitem WHERE l_orderkey <= 2000""".stripMargin

  /** The per-box deterministic prediction shift shared by g23 and g24: the
    * `add_sym <= add` cross-query invariant (ApSweepSpec) holds only while
    * both queries translate by the SAME shift — one definition each side.
    */
  private def shiftCols: (Column, Column, Column) = (
    (col("frame_id") % 10).cast("double") / 100,
    (col("idx") % 5).cast("double") / 50,
    ((col("frame_id") + col("idx")) % 20).cast("double") / 20)

  private val shiftSelectSql =
    """CAST(frame_id % 10 AS DOUBLE) / 100 AS dx,
      |      CAST(idx % 5 AS DOUBLE) / 50 AS dy,
      |      CAST((frame_id + idx) % 20 AS DOUBLE) / 20 AS dz""".stripMargin

  /** DuckDB mirror of [[apSweep]] — the threshold sweep, cumulative-PR
    * windows, and VOC integration, shared by g22 (hit when m >= t) and g23
    * (hit when m <= t) so the machinery can never drift between them.
    * `scoredCte` must yield `(frame_id, m)`; a `b` CTE with the synthetic
    * boxes is in scope.
    */
  private def apSweepSql(scoredCte: String, bins: Int, greater: Boolean): String = {
    val div = bins - 1
    val cmp = if (greater) ">=" else "<="
    s"""WITH b AS ($syntheticBoxesSql),
       |scored AS ($scoredCte),
       |sw AS (SELECT frame_id, m, unnest(range(0, $bins)) AS ti FROM scored),
       |pf AS (SELECT ti, frame_id,
       |    CAST(sum(CASE WHEN m $cmp ti / $div.0 THEN 1 ELSE 0 END) AS BIGINT) AS hit,
       |    count(*) AS n
       |  FROM sw GROUP BY ti, frame_id),
       |pr AS (SELECT ti, frame_id,
       |    CAST(sum(hit) OVER wc AS BIGINT) AS tp,
       |    CAST(sum(n - hit) OVER wc AS BIGINT) AS fp,
       |    CAST(sum(n) OVER (PARTITION BY ti) AS BIGINT) AS total
       |  FROM pf
       |  WINDOW wc AS (PARTITION BY ti ORDER BY frame_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |pr2 AS (SELECT *, CAST(tp AS DOUBLE) / total AS recall,
       |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS prec
       |  FROM pr),
       |pr3 AS (SELECT *,
       |    max(prec) OVER (PARTITION BY ti ORDER BY frame_id ASC
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS monoprec,
       |    recall - lag(recall, 1, 0.0) OVER (PARTITION BY ti ORDER BY frame_id ASC) AS delta
       |  FROM pr2),
       |final AS (SELECT ti,
       |    max(total) AS n_instances, max(tp) AS tp_total, max(fp) AS fp_total,
       |    round(CAST(sum(CAST(round(delta * monoprec * 1e9) AS BIGINT)) AS BIGINT) / 1e9, 6) AS ap
       |  FROM pr3 GROUP BY ti)
       |SELECT CAST(ti AS BIGINT) AS ti, ti / $div.0 AS threshold,
       |  n_instances, tp_total, fp_total, ap
       |FROM final""".stripMargin
  }

  /** VOC-style average precision over a detection-metric threshold sweep —
    * the Objectron evaluation loop (metrics.py:31-99 HitMiss/
    * AveragePrecision, eval.py:139-186) as one relational program. Input:
    * `(frame_id, iou)`, one row per prediction with its matched-GT metric
    * (0 for unmatched), predictions 1:1 with GT instances. Per the
    * reference: at each of `bins` thresholds t_i = i/(bins−1), a
    * prediction is a hit iff iou ≥ t_i; hits/misses accumulate over frames
    * in frame order into cumulative tp/fp; AP numerically integrates the
    * monotonically-decreased precision over recall changes (the inserted
    * (0,0) / appended (1,0) sentinel points contribute exactly the
    * lag-default-0 first delta and nothing, respectively).
    *
    * Engine parity: recall/precision/suffix-max are identical IEEE ops on
    * exact integer tp/fp/total; the order-sensitive Σ delta×precision is
    * scaled to integer nano-units per term first, so the sum is
    * order-independent. Scale shape: the sweep multiplies rows by the
    * constant `bins`; the cumulative-PR pass runs SEGMENTED by default
    * ([[segmentedCumPr]] — two-level prefix sums, parallelism = bins ×
    * segments), with the per-threshold single-task window kept as the
    * small-N path (`segments = 1`).
    */
  def apSweep(scored: DataFrame, bins: Int, greater: Boolean = true, segments: Int = 0): DataFrame = {
    // the reference's two hit directions (metrics.py record_hit_miss):
    // IoU-style hits at metric >= t, error-style (pixel/ADD) at metric <= t
    val threshold = col("ti").cast("double") / (bins - 1)
    val isHit = if (greater) col("iou") >= threshold else col("iou") <= threshold
    val segs = if (segments > 0) segments else PipelineFns.autoSegments(scored.sparkSession)
    // non-integral frame ids can't be range-bucketed monotonically (a
    // failed cast would null the segment key and silently drop rows at
    // the offset join) — those take the single-task path, which orders by
    // the column's own type and is correct for any orderable frame id
    val integralFrameId = scored.schema("frame_id").dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val singlePath = segs <= 1 || !integralFrameId
    val exploded = scored
      .select(col("frame_id"), col("iou"),
        explode(sequence(lit(0), lit(bins - 1))).as("ti"))
    // Single-window path: ONE explicit exchange on ti, shared by every
    // downstream op. `repartition(bins, ti)` is exempt from AQE
    // coalescing — the implicit ti exchange it replaces carries so few
    // BYTES at a bounded eval size that byte-based coalescing folded all
    // `bins` window partitions into ONE task (r18 measured the final job
    // of g22/g26 serializing ~0.8 s of window machinery on 1 of 32
    // cores). HashPartitioning(ti) satisfies the (ti, frame_id) groupBy,
    // the ti-partitioned windows, AND the final per-ti aggregation, so
    // the whole sweep runs with a single shuffle and `bins`-way
    // parallelism whatever the byte count.
    val perFrame =
      (if (singlePath) exploded.repartition(bins, col("ti")) else exploded)
        .groupBy(col("ti"), col("frame_id"))
        .agg(
          sum(when(isHit, 1L).otherwise(0L)).as("hit"),
          count(lit(1)).as("n"))
    val cumulated =
      if (singlePath) singleTaskCumPr(perFrame)
      else segmentedCumPr(scored, perFrame, segs)
    cumulated
      .withColumn("term", round(col("delta") * col("monoprec") * 1e9, 0).cast("long"))
      .groupBy(col("ti"))
      .agg(
        max(col("total")).as("n_instances"),
        max(col("tp")).as("tp_total"), // cumulative, so max = final
        max(col("fp")).as("fp_total"),
        round(sum(col("term")).cast("double") / 1e9, 6).as("ap"))
      .select(col("ti").cast("long").as("ti"),
        (col("ti").cast("double") / (bins - 1)).as("threshold"),
        col("n_instances"), col("tp_total"), col("fp_total"), col("ap"))
  }

  /** The small-N cumulative-PR shape: per-threshold windows. One task per
    * threshold — fine for a metadata-scale eval set, a hard parallelism
    * ceiling (= bins) past it; [[segmentedCumPr]] is the scale path.
    */
  private def singleTaskCumPr(perFrame: DataFrame): DataFrame = {
    val wCum = Window.partitionBy(col("ti")).orderBy(col("frame_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("ti"))
    val wSeq = Window.partitionBy(col("ti")).orderBy(col("frame_id").asc)
    val wSuffix = Window.partitionBy(col("ti")).orderBy(col("frame_id").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    perFrame
      .withColumn("tp", sum(col("hit")).over(wCum))
      .withColumn("fp", sum(col("n") - col("hit")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("recall", col("tp").cast("double") / col("total"))
      .withColumn("prec",
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))).otherwise(lit(0.0)))
      .withColumn("monoprec", max(col("prec")).over(wSuffix))
      .withColumn("delta", col("recall") - lag(col("recall"), 1, 0.0).over(wSeq))
  }

  /** Segmented (two-level) cumulative PR — the same doubles as
    * [[singleTaskCumPr]] from finer-partitioned windows, lifting the
    * one-task-per-threshold ceiling.
    *
    * Every serialized quantity is reconstructed exactly: tp/fp are INTEGER
    * prefix sums (segment-local sum + per-segment offsets, like
    * [[PipelineFns.segmentedCumSum]]); recall/precision divide the exact
    * same integers as the single-level windows, so the IEEE results are
    * bit-identical; the suffix-max of precision composes as
    * max(local suffix-max, max over LATER segments) — max is selection,
    * not arithmetic, so also exact; and lag(recall) at a segment's first
    * row is the previous segment's last recall = otp/total, the identical
    * division. Only metadata-scale frames (bins × segments rows) ever pass
    * through a per-threshold serialized window.
    */
  private def segmentedCumPr(scored: DataFrame, perFrame: DataFrame, segments: Int): DataFrame = {
    // segment bounds from the pre-explode eval set: one tiny broadcast row
    val bounds = scored.agg(
      min(col("frame_id")).cast("long").as("fmin"),
      max(col("frame_id")).cast("long").as("fmax"))
    val withSeg = perFrame.crossJoin(broadcast(bounds))
      .withColumn("seg",
        PipelineFns.segmentOf(col("frame_id").cast("long"), col("fmin"), col("fmax"), segments))
      .drop("fmin", "fmax")
    val wLoc = Window.partitionBy(col("ti"), col("seg")).orderBy(col("frame_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withSeg
      .withColumn("ltp", sum(col("hit")).over(wLoc))
      .withColumn("lfp", sum(col("n") - col("hit")).over(wLoc))
    // per-segment totals + exclusive prefix offsets: bins × segments rows,
    // aggregated map-side (local is already partitioned by (ti, seg))
    val segTot = local.groupBy(col("ti"), col("seg"))
      .agg(sum(col("hit")).as("shit"), sum(col("n")).as("sn"))
    val wOff = Window.partitionBy(col("ti")).orderBy(col("seg").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTi = Window.partitionBy(col("ti"))
    val offsets = segTot
      .withColumn("otp", coalesce(sum(col("shit")).over(wOff), lit(0L)))
      .withColumn("ofp", coalesce(sum(col("sn") - col("shit")).over(wOff), lit(0L)))
      .withColumn("total", sum(col("sn")).over(wTi))
      .select(col("ti"), col("seg"), col("otp"), col("ofp"), col("total"))
    val wLocSuffix = Window.partitionBy(col("ti"), col("seg")).orderBy(col("frame_id").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wLocSeq = Window.partitionBy(col("ti"), col("seg")).orderBy(col("frame_id").asc)
    val pr = local.join(broadcast(offsets), Seq("ti", "seg"))
      .withColumn("tp", col("ltp") + col("otp"))
      .withColumn("fp", col("lfp") + col("ofp"))
      .withColumn("recall", col("tp").cast("double") / col("total"))
      .withColumn("prec",
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))).otherwise(lit(0.0)))
      .withColumn("lsuffix", max(col("prec")).over(wLocSuffix))
      .withColumn("lprev", lag(col("recall"), 1).over(wLocSeq))
    // cross-segment suffix max of precision: per-segment maxima (map-side
    // again), strictly-later-segment running max, broadcast back
    val segMax = pr.groupBy(col("ti"), col("seg")).agg(max(col("prec")).as("segmax"))
    val wLater = Window.partitionBy(col("ti")).orderBy(col("seg").asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val later = segMax
      .withColumn("latermax", max(col("segmax")).over(wLater))
      .select(col("ti"), col("seg"), col("latermax"))
    pr.join(broadcast(later), Seq("ti", "seg"))
      .withColumn("monoprec", greatest(col("lsuffix"), coalesce(col("latermax"), col("lsuffix"))))
      // first row of a segment: previous row lives in the prior segment,
      // whose last recall is exactly otp/total (and 0/total = 0.0 for the
      // very first row — the single-level lag default)
      .withColumn("delta",
        col("recall") - coalesce(col("lprev"), col("otp").cast("double") / col("total")))
  }

  override val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "g1_box_metrics",
      (s, d) =>
        syntheticBoxes(s, d).select(
          col("frame_id"), col("idx"),
          round(GeoFunctions.centerDistanceCol(col("x"), col("y"), col("z")), 6).as("center_dist"),
          round(GeoFunctions.maxDimCol(col("xl"), col("yl"), col("zl")), 6).as("max_dim"),
          round(GeoFunctions.normalizeAngleCol(col("frame_id") % 720 - 360), 6).as("norm_angle")
        ),
      Some(s"""SELECT frame_id, idx,
             |  round(sqrt(x*x + y*y + z*z), 6) AS center_dist,
             |  round(greatest(xl, greatest(yl, zl)), 6) AS max_dim,
             |  round((CASE WHEN ((frame_id % 720 - 360) % 360 + 360) % 360 > 180
             |    THEN ((frame_id % 720 - 360) % 360 + 360) % 360 - 360
             |    ELSE ((frame_id % 720 - 360) % 360 + 360) % 360 END) / 180.0, 6) AS norm_angle
             |FROM ($syntheticBoxesSql)""".stripMargin),
      "Geometry kernels G4/G9/A11 (normalize-angle, ‖center‖ camera distance, max dim) as native column math (geometry.py:401-421, utils.py:28-43)."
    ),
    QueryDef(
      "g2_pair_min_distance",
      (s, d) => {
        // the QA engine's J8 pair shape: per-frame i<j self-join, min 8×8
        // vertex distance via the production UDF over axis-aligned vertices
        val b = syntheticBoxes(s, d).withColumn(
          "verts",
          GeoFunctions.bboxVerticesCol(
            col("x"), col("y"), col("z"), col("xl"), col("yl"), col("zl"),
            lit(0.0), lit(0.0), lit(0.0)))
        val a = b.select(col("frame_id"), col("idx").as("i"), col("verts").as("v1"))
        val c = b.select(col("frame_id").as("frame_id2"), col("idx").as("j"), col("verts").as("v2"))
        a.join(c, col("frame_id") === col("frame_id2") && col("i") < col("j"))
          .select(
            col("frame_id"), col("i"), col("j"),
            round(GeoFunctions.minBoxDistanceCol(col("v1"), col("v2")), 6).as("min_dist"))
      },
      Some(s"""WITH b AS ($syntheticBoxesSql)
             |SELECT a.frame_id, a.idx AS i, c.idx AS j,
             |  round(sqrt(
             |    least((a.x - a.xl/2 - c.x + c.xl/2)*(a.x - a.xl/2 - c.x + c.xl/2),
             |          (a.x - a.xl/2 - c.x - c.xl/2)*(a.x - a.xl/2 - c.x - c.xl/2),
             |          (a.x + a.xl/2 - c.x + c.xl/2)*(a.x + a.xl/2 - c.x + c.xl/2),
             |          (a.x + a.xl/2 - c.x - c.xl/2)*(a.x + a.xl/2 - c.x - c.xl/2)) +
             |    least((a.y - a.yl/2 - c.y + c.yl/2)*(a.y - a.yl/2 - c.y + c.yl/2),
             |          (a.y - a.yl/2 - c.y - c.yl/2)*(a.y - a.yl/2 - c.y - c.yl/2),
             |          (a.y + a.yl/2 - c.y + c.yl/2)*(a.y + a.yl/2 - c.y + c.yl/2),
             |          (a.y + a.yl/2 - c.y - c.yl/2)*(a.y + a.yl/2 - c.y - c.yl/2)) +
             |    least((a.z - a.zl/2 - c.z + c.zl/2)*(a.z - a.zl/2 - c.z + c.zl/2),
             |          (a.z - a.zl/2 - c.z - c.zl/2)*(a.z - a.zl/2 - c.z - c.zl/2),
             |          (a.z + a.zl/2 - c.z + c.zl/2)*(a.z + a.zl/2 - c.z + c.zl/2),
             |          (a.z + a.zl/2 - c.z - c.zl/2)*(a.z + a.zl/2 - c.z - c.zl/2))
             |  ), 6) AS min_dist
             |FROM b a JOIN b c ON a.frame_id = c.frame_id AND a.idx < c.idx""".stripMargin),
      "Min 8×8 vertex distance UDF (geometry.py:98-118) verified against the independent per-axis least-of-4 closed form for axis-aligned boxes."
    ),
    QueryDef(
      "g3_relative_position",
      (s, d) => {
        // enhanced_relative_position center-diff classification through the
        // production expression (identity extrinsics → camera frame = world frame)
        val idExtr = array(
          array(lit(1.0), lit(0.0), lit(0.0), lit(0.0)),
          array(lit(0.0), lit(1.0), lit(0.0), lit(0.0)),
          array(lit(0.0), lit(0.0), lit(1.0), lit(0.0)),
          array(lit(0.0), lit(0.0), lit(0.0), lit(1.0)))
        val b = syntheticBoxes(s, d).withColumn(
          "verts",
          GeoFunctions.toCameraFrameCol(
            GeoFunctions.bboxVerticesCol(
              col("x"), col("y"), col("z"), col("xl"), col("yl"), col("zl"),
              lit(0.0), lit(0.0), lit(0.0)),
            idExtr))
        val a = b.select(col("frame_id"), col("idx").as("i"), col("verts").as("v1"))
        val c = b.select(col("frame_id").as("frame_id2"), col("idx").as("j"), col("verts").as("v2"))
        a.join(c, col("frame_id") === col("frame_id2") && col("i") < col("j"))
          .withColumn("rp", GeoFunctions.relativePositionCol(col("v1"), col("v2")))
          .groupBy(col("rp").getField("_1").as("depth_rel"), col("rp").getField("_2").as("horizontal_rel"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""WITH b AS ($syntheticBoxesSql)
             |SELECT depth_rel, horizontal_rel, count(*) AS n FROM (
             |  SELECT
             |    CASE WHEN abs(a.z - c.z) < 0.1 THEN 'Same depth'
             |         WHEN a.z - c.z < 0 THEN 'Nearer' ELSE 'Farther' END AS depth_rel,
             |    CASE WHEN abs(a.x - c.x) < 0.1 THEN 'Same horizontal position'
             |         WHEN a.x - c.x < 0 THEN 'Left' ELSE 'Right' END AS horizontal_rel
             |  FROM b a JOIN b c ON a.frame_id = c.frame_id AND a.idx < c.idx)
             |GROUP BY depth_rel, horizontal_rel""".stripMargin),
      "Relative-position classifier expression (geometry.py:424-495) vs closed-form center-diff CASE logic; vertex means reduce to centers for axis-aligned boxes."
    ),
    QueryDef(
      "g4_project_2d",
      (s, d) =>
        syntheticBoxes(s, d)
          .filter(col("z") > 0)
          .select(
            col("frame_id"), col("idx"),
            round(lit(500) * col("x") / col("z") + 320, 6).as("u"),
            round(lit(500) * col("y") / col("z") + 240, 6).as("v"))
          .filter(col("u").between(0, 640) && col("v").between(0, 480)),
      Some(s"""SELECT frame_id, idx,
             |  round(500 * x / z + 320, 6) AS u, round(500 * y / z + 240, 6) AS v
             |FROM ($syntheticBoxesSql) WHERE z > 0
             |  AND round(500 * x / z + 320, 6) BETWEEN 0 AND 640
             |  AND round(500 * y / z + 240, 6) BETWEEN 0 AND 480""".stripMargin),
      "Pinhole 3D→2D projection with image clipping (build_label_codebook_fast.py:238-280 / G18)."
    ),
    QueryDef(
      "qa1_multiple_choice_assembly",
      (s, d) => {
        // full QA multiple-choice assembly through the production primitives:
        // seeded distractors (percent range 0.4–1.8, clamp, collision nudge),
        // seeded shuffle, letter recovery — the object_3d_size pipeline shape
        // on synthetic "sizes"
        val base = syntheticBoxes(s, d)
          .filter(col("idx") === 1)
          .withColumn("size_cm", GeoFunctions.maxDimCol(col("xl"), col("yl"), col("zl")) * 100)
          .withColumn("seed", concat(lit("qa1|"), col("frame_id")))
          .withColumn("ans", round(col("size_cm"), 1))
          .withColumn(
            "opts",
            array(
              round(col("size_cm"), 1) +:
                (1 to 3).map(k => round(QaPrimitives.distractor(col("size_cm"), col("seed"), k, (0.4, 1.8)), 1)): _*
            ).cast("array<string>"))
        QaPrimitives.shuffleToLetter(base, col("opts"), col("ans").cast("string"), col("seed"))
          .select(
            col("frame_id"),
            col("_letter").as("answer"),
            concat_ws("|", col("_shuffled")).as("options"),
            col("ans").cast("string").as("answer_value"))
      },
      Some("""WITH base AS (
             |  SELECT frame_id, size_cm, concat('qa1|', CAST(frame_id AS VARCHAR)) AS seed,
             |    round(size_cm, 1) AS ans
             |  FROM (SELECT l_orderkey AS frame_id,
             |      greatest(l_tax * 2 + 0.2, greatest((l_quantity % 7) / 10 + 0.3, (l_linenumber % 3) / 2.0 + 0.4)) * 100 AS size_cm
             |    FROM lineitem WHERE l_orderkey <= 2000 AND l_linenumber = 1)),
             |opts AS (
             |  SELECT frame_id, seed, ans,
             |    [CAST(ans AS VARCHAR),
             |     CAST(round(CASE WHEN greatest(size_cm * (0.4 + (CAST(concat('0x', substring(md5(concat(seed, ':d1')), 1, 15)) AS BIGINT) / 1152921504606846976.0) * 1.4), 0.1) = size_cm THEN size_cm * 1.2 ELSE greatest(size_cm * (0.4 + (CAST(concat('0x', substring(md5(concat(seed, ':d1')), 1, 15)) AS BIGINT) / 1152921504606846976.0) * 1.4), 0.1) END, 1) AS VARCHAR),
             |     CAST(round(CASE WHEN greatest(size_cm * (0.4 + (CAST(concat('0x', substring(md5(concat(seed, ':d2')), 1, 15)) AS BIGINT) / 1152921504606846976.0) * 1.4), 0.1) = size_cm THEN size_cm * 1.2 ELSE greatest(size_cm * (0.4 + (CAST(concat('0x', substring(md5(concat(seed, ':d2')), 1, 15)) AS BIGINT) / 1152921504606846976.0) * 1.4), 0.1) END, 1) AS VARCHAR),
             |     CAST(round(CASE WHEN greatest(size_cm * (0.4 + (CAST(concat('0x', substring(md5(concat(seed, ':d3')), 1, 15)) AS BIGINT) / 1152921504606846976.0) * 1.4), 0.1) = size_cm THEN size_cm * 1.2 ELSE greatest(size_cm * (0.4 + (CAST(concat('0x', substring(md5(concat(seed, ':d3')), 1, 15)) AS BIGINT) / 1152921504606846976.0) * 1.4), 0.1) END, 1) AS VARCHAR)
             |    ] AS o
             |  FROM base),
             |shuf AS (
             |  SELECT frame_id, ans,
             |    list_transform(
             |      list_sort(list_transform(range(1, 5), i ->
             |        struct_pack(k := md5(concat(seed, ':s', CAST(i - 1 AS VARCHAR))), v := o[i]))),
             |      x -> x.v) AS shuffled
             |  FROM opts)
             |SELECT frame_id,
             |  substring('ABCDEFGH', CAST(list_position(shuffled, CAST(ans AS VARCHAR)) AS INTEGER), 1) AS answer,
             |  array_to_string(shuffled, '|') AS options,
             |  CAST(ans AS VARCHAR) AS answer_value
             |FROM shuf""".stripMargin),
      "Full multiple-choice QA assembly (qa_base.py:68-137): seeded distractors + shuffle + letter recovery, replayed in DuckDB."
    ),
    QueryDef(
      "g21_box_iou",
      (s, d) => {
        // G21: the generic oriented-box IoU kernel (half-space intersection,
        // Box3d.iou) over the per-frame i<j pair shape. Boxes here are
        // axis-aligned, so the oracle is the INDEPENDENT per-axis
        // overlap-product closed form; rotated configurations are validated
        // engine-side in Box3dSpec against the seeded sampling estimator
        // (iou.py:36-70). Round(4) bins are wide relative to the float noise
        // between the two algorithms; most pairs are exactly 0 on both.
        val b = syntheticBoxes(s, d).withColumn(
          "box",
          array(col("x"), col("y"), col("z"), col("xl"), col("yl"), col("zl"),
            lit(0.0), lit(0.0), lit(0.0)))
        val a = b.select(col("frame_id"), col("idx").as("i"), col("box").as("b1"))
        val c = b.select(col("frame_id").as("frame_id2"), col("idx").as("j"), col("box").as("b2"))
        a.join(c, col("frame_id") === col("frame_id2") && col("i") < col("j"))
          .select(
            col("frame_id"), col("i"), col("j"),
            round(GeoFunctions.boxIouUdf(col("b1"), col("b2")), 4).as("iou"))
      },
      Some(s"""WITH b AS ($syntheticBoxesSql)
             |SELECT frame_id, i, j, round(CASE WHEN union_v > 0 THEN inter / union_v ELSE 0 END, 4) AS iou
             |FROM (
             |  SELECT a.frame_id, a.idx AS i, c.idx AS j,
             |    greatest(0, least(a.x + a.xl/2, c.x + c.xl/2) - greatest(a.x - a.xl/2, c.x - c.xl/2)) *
             |    greatest(0, least(a.y + a.yl/2, c.y + c.yl/2) - greatest(a.y - a.yl/2, c.y - c.yl/2)) *
             |    greatest(0, least(a.z + a.zl/2, c.z + c.zl/2) - greatest(a.z - a.zl/2, c.z - c.zl/2)) AS inter,
             |    a.xl * a.yl * a.zl + c.xl * c.yl * c.zl -
             |    greatest(0, least(a.x + a.xl/2, c.x + c.xl/2) - greatest(a.x - a.xl/2, c.x - c.xl/2)) *
             |    greatest(0, least(a.y + a.yl/2, c.y + c.yl/2) - greatest(a.y - a.yl/2, c.y - c.yl/2)) *
             |    greatest(0, least(a.z + a.zl/2, c.z + c.zl/2) - greatest(a.z - a.zl/2, c.z - c.zl/2)) AS union_v
             |  FROM b a JOIN b c ON a.frame_id = c.frame_id AND a.idx < c.idx)""".stripMargin),
      "Exact oriented-box IoU (G21; iou.py:22-33 via Box3d half-space intersection) validated against the independent axis-aligned overlap-product closed form."
    ),
    QueryDef(
      "g22_ap_sweep",
      (s, d) => {
        // G22: the Objectron 3D-detection AP evaluation (metrics.py:31-99,
        // eval.py:139-186) end-to-end: deterministic "predictions" are the
        // GT boxes translated by the reference's own fake-result shift
        // (+0.01, +0.02, +0.5 — eval.py:117-128), matched 1:1; IoU through
        // the production half-space kernel (boxIouUdf, round(4) bridging
        // to the closed-form oracle exactly as g21 validates); then the
        // 21-bin threshold sweep → cumulative PR → VOC AP integration in
        // [[apSweep]]. Small boxes lose all z-overlap under the 0.5 shift,
        // so the sweep exercises both hit and miss branches at every
        // threshold.
        val scored = syntheticBoxes(s, d).select(
          col("frame_id"),
          round(GeoFunctions.boxIouUdf(
            array(col("x"), col("y"), col("z"), col("xl"), col("yl"), col("zl"),
              lit(0.0), lit(0.0), lit(0.0)),
            array(col("x") + 0.01, col("y") + 0.02, col("z") + 0.5,
              col("xl"), col("yl"), col("zl"),
              lit(0.0), lit(0.0), lit(0.0))), 4).as("iou"))
        // segments = 1: the eval set is PLAN-BOUNDED (l_orderkey <= 2000
        // caps it at ~2000 frames × 7 lines at ANY corpus scale), so the
        // per-threshold single-task windows hold ≤ 14k rows forever and
        // the two-level segmented machinery — bounds agg, per-segment
        // offsets/suffix-max, two broadcast joins back — is pure plan/job
        // overhead (r18 measured it as ~¾ of the query's wall time at 13
        // driver-serialized jobs). Unbounded cumulative-PR callers keep
        // the segmented default; exact-parity of the two paths is pinned
        // by ApSweepSpec.
        apSweep(scored, 21, segments = 1)
      },
      Some(apSweepSql(
        """SELECT frame_id,
          |    round(CASE WHEN 2 * vol - iv > 0 THEN iv / (2 * vol - iv) ELSE 0 END, 4) AS m
          |  FROM (
          |    SELECT frame_id, xl * yl * zl AS vol,
          |      greatest(0, least(x + xl/2, x + 0.01 + xl/2) - greatest(x - xl/2, x + 0.01 - xl/2)) *
          |      greatest(0, least(y + yl/2, y + 0.02 + yl/2) - greatest(y - yl/2, y + 0.02 - yl/2)) *
          |      greatest(0, least(z + zl/2, z + 0.5 + zl/2) - greatest(z - zl/2, z + 0.5 - zl/2)) AS iv
          |    FROM b)""".stripMargin, 21, greater = true)),
      "Objectron 3D-detection AP over a 21-bin IoU sweep (metrics.py HitMiss/AveragePrecision, eval.py loop): per-frame hits, cumulative PR in frame order, VOC integration with monotone precision — windows partitioned per threshold."
    ),
    QueryDef(
      "g23_ap_add_sweep",
      (s, d) => {
        // G22's sibling: the ADD (average keypoint distance) AP family —
        // the reference's error-style metric where a prediction HITS at
        // metric <= threshold (metrics.py record_hit_miss greater=False;
        // eval.py _add_thresholds = linspace(0, 1 m, 21)). Prediction =
        // GT translated by a per-box deterministic shift; for axis-aligned
        // equal-dim boxes every vertex moves by exactly that shift, so ADD
        // is its norm — closed-form on both engines, with the threshold
        // machinery identical to g22's under the flipped comparison.
        val (dx, dy, dz) = shiftCols
        val scored = syntheticBoxes(s, d).select(
          col("frame_id"),
          round(sqrt(dx * dx + dy * dy + dz * dz), 4).as("iou"))
        // segments = 1: plan-bounded eval set — see g22
        apSweep(scored, 21, greater = false, segments = 1)
      },
      Some(apSweepSql(
        s"""SELECT frame_id, round(sqrt(dx*dx + dy*dy + dz*dz), 4) AS m
          |  FROM (SELECT frame_id,
          |      $shiftSelectSql
          |    FROM b)""".stripMargin, 21, greater = false)),
      "Objectron ADD (average keypoint distance) AP sweep — the error-style hit direction (metric <= threshold), same cumulative-PR/VOC machinery as g22."
    ),
    QueryDef(
      "g25_viewpoint_sweep",
      (s, d) => {
        // The Objectron viewpoint-error leg of the eval loop (eval.py
        // azimuth error): angle between the GT and predicted view
        // directions in the azimuth (xy) plane, camera at origin,
        // prediction = center translated by the deterministic per-box
        // shift. Measured as the angle's COSINE, not degrees: cosine has a
        // closed form in +,×,÷,sqrt — all correctly-rounded IEEE ops that
        // both engines compute bit-identically — where acos/atan2 are
        // library-rounded transcendentals with no cross-engine guarantee
        // (the t14 no-transcendentals rule). Hit at cos >= t, swept over
        // the same 21 bins / cumulative-PR / VOC machinery as g22.
        // Degenerate guard: a center on the z-axis has no azimuth; the
        // pair scores cos = 1 (no azimuth error), identically both sides.
        // `+ 0.0` before round: the numerator can be an IEEE -0.0.
        val (dx, dy, _) = shiftCols
        val x2 = col("x") + dx
        val y2 = col("y") + dy
        val rho1 = col("x") * col("x") + col("y") * col("y")
        val rho2 = x2 * x2 + y2 * y2
        val cosAz = when(rho1 * rho2 > 0,
          (col("x") * x2 + col("y") * y2) / sqrt(rho1 * rho2)).otherwise(lit(1.0))
        val scored = syntheticBoxes(s, d).select(
          col("frame_id"), round(cosAz + lit(0.0), 4).as("iou"))
        // segments = 1: plan-bounded eval set — see g22
        apSweep(scored, 21, segments = 1)
      },
      Some(apSweepSql(
        s"""SELECT frame_id,
          |    round(CASE WHEN (x*x + y*y) * ((x+dx)*(x+dx) + (y+dy)*(y+dy)) > 0
          |      THEN (x*(x+dx) + y*(y+dy)) / sqrt((x*x + y*y) * ((x+dx)*(x+dx) + (y+dy)*(y+dy)))
          |      ELSE 1.0 END + 0.0, 4) AS m
          |  FROM (SELECT frame_id, x, y,
          |      $shiftSelectSql
          |    FROM b)""".stripMargin, 21, greater = true)),
      "Objectron viewpoint (azimuth) AP sweep: GT-vs-predicted view-direction angle as its transcendental-free cosine, hit at cos >= t, over the shared cumulative-PR/VOC machinery."
    ),
    QueryDef(
      "g26_polar_sweep",
      (s, d) => {
        // g25's sibling: the POLAR (elevation) viewpoint error. With
        // θ measured from the +z axis, cos θ = z/r and sin θ = ρ/r with
        // ρ = sqrt(x²+y²) >= 0, so the error angle's cosine has the closed
        // form cos(θ1−θ2) = (z1·z2 + ρ1·ρ2)/(r1·r2) — again only
        // +,×,÷,sqrt (no transcendentals; see g25). Degenerate guard: a
        // zero-length center vector has no polar angle; the pair scores 1.
        val (dx, dy, dz) = shiftCols
        val x2 = col("x") + dx
        val y2 = col("y") + dy
        val z2 = col("z") + dz
        val rho1 = sqrt(col("x") * col("x") + col("y") * col("y"))
        val rho2 = sqrt(x2 * x2 + y2 * y2)
        val r1 = sqrt(col("x") * col("x") + col("y") * col("y") + col("z") * col("z"))
        val r2 = sqrt(x2 * x2 + y2 * y2 + z2 * z2)
        val cosPolar = when(r1 * r2 > 0,
          (col("z") * z2 + rho1 * rho2) / (r1 * r2)).otherwise(lit(1.0))
        val scored = syntheticBoxes(s, d).select(
          col("frame_id"), round(cosPolar + lit(0.0), 4).as("iou"))
        // segments = 1: plan-bounded eval set — see g22
        apSweep(scored, 21, segments = 1)
      },
      Some(apSweepSql(
        s"""SELECT frame_id,
          |    round(CASE WHEN sqrt(x*x + y*y + z*z) * sqrt((x+dx)*(x+dx) + (y+dy)*(y+dy) + (z+dz)*(z+dz)) > 0
          |      THEN (z*(z+dz) + sqrt(x*x + y*y) * sqrt((x+dx)*(x+dx) + (y+dy)*(y+dy)))
          |        / (sqrt(x*x + y*y + z*z) * sqrt((x+dx)*(x+dx) + (y+dy)*(y+dy) + (z+dz)*(z+dz)))
          |      ELSE 1.0 END + 0.0, 4) AS m
          |  FROM (SELECT frame_id, x, y, z,
          |      $shiftSelectSql
          |    FROM b)""".stripMargin, 21, greater = true)),
      "Objectron viewpoint (polar/elevation) AP sweep: error-angle cosine via (z1·z2 + ρ1·ρ2)/(r1·r2) — transcendental-free — over the shared cumulative-PR/VOC machinery."
    ),
    QueryDef(
      "g24_add_sym",
      (s, d) => {
        // The PoseCNN symmetric average-distance metric (ADD-S,
        // eval.py:298-312): for each predicted keypoint, distance to the
        // NEAREST ground-truth keypoint, averaged over the 9 keypoints
        // (center + 8 corners) — the metric for symmetric objects where
        // vertex correspondence is meaningless. Keypoints are built as
        // index-parallel coordinate arrays; the 9×9 min runs inside one
        // row (no join), and the mean is summed in 1e-6-scaled integers so
        // the result is association-order-free on both engines. ADD
        // (1:1 correspondence) rides along: under a pure translation it is
        // exactly the shift norm, giving the add_sym <= add invariant a
        // closed form to be checked against.
        val (dx, dy, dz) = shiftCols
        // keypoint k: 0 = center, 1..8 = corners, sign order (x: k<=4?-:+
        // mirrored below in SQL via the same literal tables)
        val sxs = Seq(0, -1, -1, -1, -1, 1, 1, 1, 1)
        val sys = Seq(0, -1, -1, 1, 1, -1, -1, 1, 1)
        val szs = Seq(0, -1, 1, -1, 1, -1, 1, -1, 1)
        def coords(c: Column, half: Column, signs: Seq[Int]) =
          array(signs.map(sg => c + lit(sg) * half / 2): _*)
        def shifted(c: Column, half: Column, signs: Seq[Int], shift: Column) =
          array(signs.map(sg => c + lit(sg) * half / 2 + shift): _*)
        // Stage the six 9-element coordinate arrays in their own projection:
        // the 9x9 lambda below references each array 81 times, and inlining
        // the constructors into every use (what CollapseProject would do to a
        // cheap alias) made the per-row tree ~500 array builds — staged, each
        // is built once per row and the inner loop reads bound columns.
        val staged = syntheticBoxes(s, d).select(
          col("frame_id"), col("idx"),
          dx.as("dx"), dy.as("dy"), dz.as("dz"),
          coords(col("x"), col("xl"), sxs).as("gxs"),
          coords(col("y"), col("yl"), sys).as("gys"),
          coords(col("z"), col("zl"), szs).as("gzs"),
          shifted(col("x"), col("xl"), sxs, dx).as("pxs"),
          shifted(col("y"), col("yl"), sys, dy).as("pys"),
          shifted(col("z"), col("zl"), szs, dz).as("pzs"))
        val idxs = sequence(lit(1), lit(9))
        def at(a: String, i: Column) = element_at(col(a), i.cast("int"))
        val minDist = (i: Column) => array_min(transform(idxs, j =>
          sqrt(
            (at("pxs", i) - at("gxs", j)) * (at("pxs", i) - at("gxs", j)) +
              (at("pys", i) - at("gys", j)) * (at("pys", i) - at("gys", j)) +
              (at("pzs", i) - at("gzs", j)) * (at("pzs", i) - at("gzs", j)))))
        staged.select(
          col("frame_id"), col("idx"),
          round(sqrt(col("dx") * col("dx") + col("dy") * col("dy") +
            col("dz") * col("dz")), 4).as("add"),
          round(
            aggregate(
              transform(idxs, i => round(minDist(i) * 1e6, 0).cast("long")),
              lit(0L), (acc, v) => acc + v).cast("double") / 1e6 / 9, 4).as("add_sym"))
      },
      Some(s"""WITH b AS ($syntheticBoxesSql),
             |k AS (SELECT frame_id, idx, x, y, z, xl, yl, zl,
             |    $shiftSelectSql,
             |    [0.0, -1, -1, -1, -1, 1, 1, 1, 1] AS sxs,
             |    [0.0, -1, -1, 1, 1, -1, -1, 1, 1] AS sys,
             |    [0.0, -1, 1, -1, 1, -1, 1, -1, 1] AS szs
             |  FROM b),
             |v AS (SELECT frame_id, idx, dx, dy, dz,
             |    list_transform(sxs, sg -> x + sg * xl / 2) AS gxs,
             |    list_transform(sys, sg -> y + sg * yl / 2) AS gys,
             |    list_transform(szs, sg -> z + sg * zl / 2) AS gzs,
             |    list_transform(sxs, sg -> x + sg * xl / 2 + dx) AS pxs,
             |    list_transform(sys, sg -> y + sg * yl / 2 + dy) AS pys,
             |    list_transform(szs, sg -> z + sg * zl / 2 + dz) AS pzs
             |  FROM k)
             |SELECT frame_id, idx,
             |  round(sqrt(dx*dx + dy*dy + dz*dz), 4) AS add,
             |  round(CAST(list_sum(list_transform(range(1, 10), i ->
             |      CAST(round(list_min(list_transform(range(1, 10), j -> sqrt(
             |        (pxs[CAST(i AS INT)] - gxs[CAST(j AS INT)]) * (pxs[CAST(i AS INT)] - gxs[CAST(j AS INT)]) +
             |        (pys[CAST(i AS INT)] - gys[CAST(j AS INT)]) * (pys[CAST(i AS INT)] - gys[CAST(j AS INT)]) +
             |        (pzs[CAST(i AS INT)] - gzs[CAST(j AS INT)]) * (pzs[CAST(i AS INT)] - gzs[CAST(j AS INT)])))) * 1e6) AS BIGINT))) AS BIGINT) / 1e6 / 9, 4) AS add_sym
             |FROM v""".stripMargin),
      "ADD-S symmetric average distance (PoseCNN via eval.py): per predicted keypoint the nearest-GT-keypoint distance, 9x9 in-row min, scaled-integer mean — with 1:1 ADD alongside."
    ),
    QueryDef(
      "g5_cam_box_distance",
      (s, d) => {
        // A10 (min camera→vertex distance) + the F3-style distance gate,
        // through the production native expression. Camera position is an
        // exact rational per frame. Axis-aligned vertices make the oracle
        // the per-axis min-of-2 factorized closed form — independent math
        // from the 8-vertex loop in the expression.
        val cam = array(
          ((col("frame_id") % 11) - 5) / 3.0,
          ((col("frame_id") % 7) - 3) / 2.0,
          lit(-1.0))
        syntheticBoxes(s, d)
          .withColumn(
            "verts",
            GeoFunctions.bboxVerticesCol(
              col("x"), col("y"), col("z"), col("xl"), col("yl"), col("zl"),
              lit(0.0), lit(0.0), lit(0.0)))
          .withColumn("cam_dist",
            round(GeoFunctions.cameraToBoxDistanceCol(cam, col("verts")), 6))
          .filter(col("cam_dist").between(0.5, 20.0))
          .select(col("frame_id"), col("idx"), col("cam_dist"))
      },
      Some(s"""SELECT frame_id, idx, cam_dist FROM (
             |  SELECT frame_id, idx, round(sqrt(
             |    least((cx - (x - xl/2)) * (cx - (x - xl/2)), (cx - (x + xl/2)) * (cx - (x + xl/2))) +
             |    least((cy - (y - yl/2)) * (cy - (y - yl/2)), (cy - (y + yl/2)) * (cy - (y + yl/2))) +
             |    least((cz - (z - zl/2)) * (cz - (z - zl/2)), (cz - (z + zl/2)) * (cz - (z + zl/2)))
             |  ), 6) AS cam_dist
             |  FROM (SELECT b.*,
             |      ((frame_id % 11) - 5) / 3.0 AS cx, ((frame_id % 7) - 3) / 2.0 AS cy, -1.0 AS cz
             |    FROM ($syntheticBoxesSql) b))
             |WHERE cam_dist BETWEEN 0.5 AND 20.0""".stripMargin),
      "Min camera→vertex distance (A10, geometry.py:165-189) + F3 distance gate, verified against the factorized per-axis min-of-2 closed form for axis-aligned corners."
    ),
    QueryDef(
      "g6_orientation_basis",
      (s, d) => {
        // G8: camera orientation basis extraction from 4×4 extrinsics —
        // rotation columns in the OpenCV convention plus derived up/back
        // negations. Extrinsics entries are exact rationals (no trig), so
        // the oracle re-derives the columns symbolically.
        val e = syntheticBoxes(s, d)
          .filter(col("idx") === 1)
          .withColumn("extr", array(
            array(col("x") / 10, col("y") / 10, col("z") / 10, lit(1.0)),
            array(col("y") / 5, col("z") / 5, col("x") / 5, lit(2.0)),
            array(col("z") / 2, col("x") / 2, col("y") / 2, lit(3.0)),
            array(lit(0.0), lit(0.0), lit(0.0), lit(1.0))))
          .withColumn("basis", GeoFunctions.cameraOrientationUdf(col("extr")))
        e.select(
          col("frame_id"),
          round(col("basis._1")(0), 6).as("right_x"),
          round(col("basis._2")(1), 6).as("down_y"),
          // + 0.0 flushes IEEE negative zero (DuckDB's round keeps the
          // sign of -0.0, Spark's normalizes; adding +0 makes both +0.0)
          round(col("basis._3")(2) + lit(0.0), 6).as("up_z"),
          round(col("basis._4")(0), 6).as("fwd_x"),
          round(col("basis._5")(1) + lit(0.0), 6).as("back_y"))
      },
      Some(s"""SELECT frame_id,
             |  round(x / 10, 6) AS right_x,
             |  round(z / 5, 6) AS down_y,
             |  round(-(x / 2) + 0.0, 6) AS up_z,
             |  round(z / 10, 6) AS fwd_x,
             |  round(-(x / 5) + 0.0, 6) AS back_y
             |FROM ($syntheticBoxesSql) WHERE idx = 1""".stripMargin),
      "Camera orientation basis vectors (G8, geometry.py:367-398): rotation-column extraction + up/back negation, symbolically re-derived in the oracle."
    ),
    QueryDef(
      "g7_vertex_extremes_relpos",
      (s, d) => {
        // G10 legacy variant: vertex-EXTREMES relative position (strict
        // separation beyond threshold; overlapping extents → NULL axis) —
        // the reference keeps this alongside the enhanced center-diff
        // classifier that g3 checks.
        val b = syntheticBoxes(s, d).withColumn(
          "verts",
          GeoFunctions.bboxVerticesCol(
            col("x"), col("y"), col("z"), col("xl"), col("yl"), col("zl"),
            lit(0.0), lit(0.0), lit(0.0)))
        val a = b.select(col("frame_id"), col("idx").as("i"), col("verts").as("v1"))
        val c = b.select(col("frame_id").as("frame_id2"), col("idx").as("j"), col("verts").as("v2"))
        a.join(c, col("frame_id") === col("frame_id2") && col("i") < col("j"))
          .withColumn("rp", GeoFunctions.vertexExtremesRelPosUdf(col("v1"), col("v2")))
          .groupBy(
            col("rp._1").as("depth_rel"),
            col("rp._2").as("horizontal_rel"),
            col("rp._3").as("vertical_rel"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""WITH b AS ($syntheticBoxesSql)
             |SELECT depth_rel, horizontal_rel, vertical_rel, count(*) AS n FROM (
             |  SELECT
             |    CASE WHEN a.z + a.zl/2 < c.z - c.zl/2 - 0.1 THEN 'Near'
             |         WHEN a.z - a.zl/2 > c.z + c.zl/2 + 0.1 THEN 'Far' END AS depth_rel,
             |    CASE WHEN a.x + a.xl/2 < c.x - c.xl/2 - 0.1 THEN 'Left'
             |         WHEN a.x - a.xl/2 > c.x + c.xl/2 + 0.1 THEN 'Right' END AS horizontal_rel,
             |    CASE WHEN a.y + a.yl/2 < c.y - c.yl/2 - 0.1 THEN 'Up'
             |         WHEN a.y - a.yl/2 > c.y + c.yl/2 + 0.1 THEN 'Down' END AS vertical_rel
             |  FROM b a JOIN b c ON a.frame_id = c.frame_id AND a.idx < c.idx)
             |GROUP BY depth_rel, horizontal_rel, vertical_rel""".stripMargin),
      "G10 legacy vertex-extremes classifier (geometry.py:222-269): strict axis separation beyond threshold, NULL on overlap — axis extents reduce to center±half-dim closed forms for axis-aligned boxes."
    ),
    QueryDef(
      "g8_2d_gates",
      (s, d) => {
        // The 2D-task gate stack in one oracle-checked pass (F5 min-area,
        // F6 per-frame count bounds, F13 non-finite rejection): synthetic
        // 2D boxes with a deliberately infinite depth on zero-discount rows
        // exercise the finite gate; count bounds use a frame-partition
        // window (no second aggregation pass).
        val boxes = Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 2000)
          .select(
            col("l_orderkey").as("frame_id"),
            col("l_linenumber").as("idx"),
            (col("l_quantity") * 12).as("w"),
            (col("l_tax") * 100 + 2).as("h"),
            when(col("l_discount") === 0, lit(Double.PositiveInfinity))
              .otherwise(col("l_extendedprice") / 1000).as("depth_mean"))
        boxes
          .withColumn("n_frame", count(lit(1)).over(Window.partitionBy(col("frame_id"))))
          .filter(
            col("w") * col("h") >= 100 &&
              col("n_frame").between(1, 20) &&
              col("depth_mean") < Double.PositiveInfinity &&
              col("depth_mean") > Double.NegativeInfinity &&
              !isnan(col("depth_mean")))
          .select(col("frame_id"), col("idx"),
            round(col("w") * col("h"), 6).as("area"),
            round(col("depth_mean"), 6).as("depth_mean"))
      },
      Some("""SELECT frame_id, idx, round(w * h, 6) AS area, round(depth_mean, 6) AS depth_mean
             |FROM (
             |  SELECT *, count(*) OVER (PARTITION BY frame_id) AS n_frame FROM (
             |    SELECT l_orderkey AS frame_id, l_linenumber AS idx,
             |      l_quantity * 12 AS w, l_tax * 100 + 2 AS h,
             |      CASE WHEN l_discount = 0 THEN CAST('inf' AS DOUBLE)
             |           ELSE l_extendedprice / 1000 END AS depth_mean
             |    FROM lineitem WHERE l_orderkey <= 2000))
             |WHERE w * h >= 100 AND n_frame BETWEEN 1 AND 20 AND isfinite(depth_mean)""".stripMargin),
      "The 2D gate stack (F5 min-area, F6 per-frame count bounds, F13 infinite-value rejection) in one pass — window-counted bounds, finite-depth predicate with injected infinities."
    )
  )
}
