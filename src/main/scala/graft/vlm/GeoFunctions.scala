package graft.vlm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level API over the [[Geo]] kernels.
  *
  * Split per SURVEY.md §7.3: anything expressible as built-in column math
  * is plain column composition (normalize-angle, center distance, max
  * dimension, seeded randomness, depth stats, camera position); the
  * hot-path kernels (vertices, 8×8 min distance, camera distance, frame
  * transform, relative position) are native ArrayData expressions in
  * [[graft.functions]]; only cold kernels (camera orientation,
  * vertex-extremes relative position, box IoU, quaternion conversion)
  * remain Scala UDFs.
  */
object GeoFunctions {

  // ---------------------------------------------------------------- native
  /** normalize_angle as pure column math (data_processing/utils.py:28-43). */
  def normalizeAngleCol(deg: Column): Column =
    (pmod(deg, lit(360)) - when(pmod(deg, lit(360)) > 180, 360).otherwise(0)) / 180.0

  /** ‖(x,y,z)‖ — camera-space distance for camera-frame boxes
    * (geometry.py:401-421).
    */
  def centerDistanceCol(x: Column, y: Column, z: Column): Column =
    sqrt(x * x + y * y + z * z)

  /** Camera position E[:3, 3] of a 4×4 camera-to-world extrinsics, null
    * unless 4×4 — [[Geo.cameraPosition]] as column math
    * (geometry.py:135-162).
    */
  def cameraPositionCol(extrinsics: Column): Column =
    when(size(extrinsics) === 4 && forall(extrinsics, row => size(row) === 4),
      array((0 until 3).map(i => extrinsics(i)(3)): _*))

  /** Max box dimension (geometry.py:121-132). */
  def maxDimCol(xl: Column, yl: Column, zl: Column): Column =
    greatest(xl, yl, zl)

  /** Deterministic uniform in [0,1) keyed on a seed string column — the
    * engine's replacement for the reference's unseeded `random` (SURVEY §7.3
    * M3): reproducible across runs, engines, and partitionings.
    */
  def seededUniform(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("double") / lit(1152921504606846976.0) // 2^60

  /** `class_N` → readable name, fallback `object_N`; pure column version of
    * Geo.parseClassCategory with an empty codebook
    * (class_mapping.py:87-103).
    */
  def parseClassCategoryCol(category: Column): Column =
    when(
      category.startsWith("class_") && regexp_extract(category, "^class_([0-9]+)$", 1) =!= "",
      concat(lit("object_"), regexp_extract(category, "^class_([0-9]+)$", 1))
    ).otherwise(category)

  /** A5: depth statistics from a sampled depth-value array — valid-pixel
    * mask (0 < d < 100, finite; utils.py:104-106) then count/min/max/exact
    * median/mean as one in-row column program (no shuffle). At raster scale
    * the landing-zone job feeds this the per-frame sample column;
    * `percentile_approx` replaces the exact median when samples exceed
    * row-size budgets (SURVEY §2.9).
    */
  def depthStatsCol(depths: Column, totalPixels: Column): Column = {
    val valid = sort_array(filter(depths, d => d > 0 && d < 100 && !isnan(d)))
    val n = size(valid)
    val median = when(n === 0, lit(null).cast("double"))
      .when(pmod(n, lit(2)) === 1, element_at(valid, ((n + 1) / 2).cast("int")))
      .otherwise((element_at(valid, (n / 2).cast("int")) + element_at(valid, (n / 2 + 1).cast("int"))) / 2.0)
    struct(
      (n > 0).as("present"),
      n.cast("long").as("valid_pixels"),
      totalPixels.cast("long").as("total_pixels"),
      array_min(valid).as("min"),
      array_max(valid).as("max"),
      median.as("median"),
      when(n > 0, aggregate(valid, lit(0.0), (acc, d) => acc + d) / n).as("mean")
    )
  }

  // ------------------------------------------- native geometry expressions
  /** 8 oriented-box vertices (geometry.py:60-95) — native expression; the
    * UDF form paid nested-Seq conversion per row (see
    * [[graft.functions.BoxVertices]]).
    */
  def bboxVerticesCol(
      x: Column, y: Column, z: Column, xl: Column, yl: Column, zl: Column,
      pitch: Column, yaw: Column, roll: Column): Column =
    graft.functions.boxVertices(array(x, y, z, xl, yl, zl, pitch, yaw, roll))

  /** Min 8×8 vertex distance between two boxes (geometry.py:98-118) —
    * native expression ([[graft.functions.MinBoxDistance]]).
    */
  def minBoxDistanceCol(a: Column, b: Column): Column =
    graft.functions.minBoxDistance(a, b)

  /** Min camera→vertex distance from an explicit camera position
    * (geometry.py:165-189) — native expression.
    */
  def cameraToBoxDistanceCol(cam: Column, vertices: Column): Column =
    graft.functions.cameraToBoxDistance(cam, vertices)

  /** World→camera transform of box vertices: inv(extrinsics) applied to the
    * 8 vertices (geometry.py:192-219) — native expression.
    */
  def toCameraFrameCol(vertices: Column, extrinsics: Column): Column =
    graft.functions.toCameraFrame(vertices, extrinsics)

  /** Enhanced relative position of box 1 w.r.t. box 2 from camera-frame
    * vertices: struct(_1 depth, _2 horizontal, _3 vertical relation, _4
    * center distance) (geometry.py:424-495) — native expression
    * ([[graft.functions.RelativePosition]]).
    */
  def relativePositionCol(a: Column, b: Column): Column =
    graft.functions.relativePosition(a, b)

  // ------------------------------------------------------------------ UDFs

  /** G8 camera orientation basis vectors from 4×4 extrinsics: struct of
    * (right, down, up, forward, back) world vectors
    * (geometry.py:367-398).
    */
  val cameraOrientationUdf = udf {
    (extrinsics: Seq[Seq[Double]]) =>
      Geo.cameraOrientation(extrinsics.map(_.toArray).toArray).map { m =>
        (m("right").toSeq, m("down").toSeq, m("up").toSeq, m("forward").toSeq, m("back").toSeq)
      }
  }

  /** G10 legacy vertex-extremes relative position: struct(depth,
    * horizontal, vertical) with NULL per axis when extents overlap within
    * the threshold (geometry.py:222-269).
    */
  val vertexExtremesRelPosUdf = udf {
    (a: Seq[Seq[Double]], b: Seq[Seq[Double]]) =>
      val (d, h, v) = Geo.vertexExtremesRelativePosition(
        a.map(_.toArray).toArray, b.map(_.toArray).toArray)
      (d.orNull, h.orNull, v.orNull)
  }

  /** G21 exact oriented-box IoU. Each argument is a 9-DoF box as
    * [cx, cy, cz, xl, yl, zl, pitch, yaw, roll] (radians).
    */
  val boxIouUdf = udf {
    (a: Seq[Double], b: Seq[Double]) =>
      Box3d.iou(
        Box3d.Box.fromCenterDimsEuler(a(0), a(1), a(2), a(3), a(4), a(5), a(6), a(7), a(8)),
        Box3d.Box.fromCenterDimsEuler(b(0), b(1), b(2), b(3), b(4), b(5), b(6), b(7), b(8)))
  }
}
