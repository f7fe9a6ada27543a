package graft.vlm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-side dataset readers (SURVEY.md §2.1): the native formats that are
  * directly Spark-readable. The binary formats have readers of their own:
  * HDF5 in [[Hdf5Lite]], Objectron protobuf in [[ObjectronPb]] and
  * [[TfRecords]]; pickle (S10) stays a landing-zone conversion
  * (`tools/embodiedscan_to_parquet.py`).
  */
object RawSources {

  // ---- S3: COCO labels.json — one document, three logical tables ---------

  /** One multiLine JSON scan of a COCO annotation file; the three logical
    * tables are projections of the same cached read
    * (coco_processor.py:234-259).
    */
  final case class CocoTables(images: DataFrame, annotations: DataFrame, categories: DataFrame)

  def readCoco(spark: SparkSession, path: String): CocoTables = {
    val doc = spark.read.option("multiLine", true).json(path).cache()
    CocoTables(
      images = doc.select(explode(col("images")).as("i")).select(col("i.*")),
      annotations = doc.select(explode(col("annotations")).as("a")).select(col("a.*")),
      categories = doc.select(explode(col("categories")).as("c")).select(col("c.*"))
    )
  }

  /** J4: images ⋈ annotations on image_id, annotations ⋈ categories on
    * category_id (categories broadcast — 80 rows), re-assembled into
    * unified frames with 2D boxes (coco_processor.py:281-335). The camera
    * focal is the reference's 0.7·width estimate (coco_processor.py:223).
    */
  def cocoToFrames(t: CocoTables, split: String = "val"): DataFrame = {
    val anns = t.annotations
      .join(broadcast(t.categories.select(col("id").as("category_id"), col("name"))), Seq("category_id"))
      .select(
        col("image_id"),
        struct(
          col("bbox")(0).cast("double").as("x"),
          col("bbox")(1).cast("double").as("y"),
          col("bbox")(2).cast("double").as("w"),
          col("bbox")(3).cast("double").as("h"),
          col("area").cast("double").as("area"),
          col("name").as("category"),
          col("id").cast("long").as("instance_id"),
          col("iscrowd").cast("int").as("iscrowd")
        ).as("bbox2d")
      )
      .groupBy(col("image_id"))
      .agg(collect_list(col("bbox2d")).as("bounding_boxes_2d"))
    t.images
      .select(
        col("id").as("image_id_raw"),
        col("file_name"),
        col("width").cast("int").as("image_width"),
        col("height").cast("int").as("image_height")
      )
      .join(anns, col("image_id_raw") === col("image_id"), "left")
      .select(
        lit("coco").as("dataset"),
        lit(split).as("split"),
        col("image_id_raw").cast("string").as("image_id"),
        col("file_name").as("filename"),
        lit("pseudo").as("depth_type"),
        struct(
          (col("image_width") * 0.7).as("fx"),
          (col("image_width") * 0.7).as("fy"),
          (col("image_width") / 2.0).as("cx"),
          (col("image_height") / 2.0).as("cy"),
          col("image_width"), col("image_height"),
          array(
            array(col("image_width") * 0.7, lit(0.0), col("image_width") / 2.0),
            array(lit(0.0), col("image_width") * 0.7, col("image_height") / 2.0),
            array(lit(0.0), lit(0.0), lit(1.0))
          ).as("intrinsics"),
          lit(null).cast("array<array<double>>").as("extrinsics")
        ).as("camera"),
        coalesce(col("bounding_boxes_2d"), array().cast(org.apache.spark.sql.types.ArrayType(FrameSchema.bbox2dType))).as("bounding_boxes_2d")
      )
  }

  // ---- S4: SUN RGB-D intrinsics.txt --------------------------------------

  /** Whitespace-matrix intrinsics files: strip `%` comment lines, parse the
    * nine floats row-major, return (file, fx, fy, cx, cy)
    * (sunrgbd_processor.py:22-36). `wholetext` keeps one row per file, so a
    * directory of scenes parses in one scan.
    */
  def readIntrinsics(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", true).text(path)
      .select(input_file_name().as("file"), col("value"))
      .withColumn("nums",
        filter(
          transform(
            split(regexp_replace(col("value"), "(?m)^%.*$", ""), "\\s+"),
            s => when(s.rlike("^-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?$"), s.cast("double"))
          ),
          x => x.isNotNull
        ))
      .filter(size(col("nums")) >= 9)
      .select(
        col("file"),
        col("nums")(0).as("fx"), col("nums")(4).as("fy"),
        col("nums")(2).as("cx"), col("nums")(5).as("cy")
      )

  // ---- S5: SUN RGB-D extrinsics directory --------------------------------

  /** Pick the lexicographically-last timestamped file per scene directory,
    * parse its 3×4-or-4×4 row-major matrix, pad the bottom row
    * (sunrgbd_processor.py:39-86). Scene = parent directory of the file.
    */
  def readExtrinsics(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", true).text(s"$dir/*.txt")
      .select(input_file_name().as("file"), col("value"))
      .withColumn("scene", regexp_extract(col("file"), "^(.*)/[^/]+$", 1))
      .groupBy(col("scene"))
      .agg(max_by(col("value"), col("file")).as("content"), max(col("file")).as("file"))
      .withColumn("nums",
        filter(
          transform(split(trim(col("content")), "\\s+"),
            s => when(s.rlike("^-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?$"), s.cast("double"))),
          x => x.isNotNull
        ))
      .filter(size(col("nums")).isin(12, 16))
      .withColumn("extrinsics",
        when(size(col("nums")) === 16,
          array((0 until 4).map(r => array((0 until 4).map(c => col("nums")(4 * r + c)): _*)): _*))
          .otherwise(
            array(
              array(col("nums")(0), col("nums")(1), col("nums")(2), col("nums")(3)),
              array(col("nums")(4), col("nums")(5), col("nums")(6), col("nums")(7)),
              array(col("nums")(8), col("nums")(9), col("nums")(10), col("nums")(11)),
              array(lit(0.0), lit(0.0), lit(0.0), lit(1.0))
            )))
      .select(col("scene"), col("file"), col("extrinsics"))

  // ---- S6: SUN RGB-D annotation3Dfinal/index.json ------------------------

  /** Polygon annotations → 9-DoF boxes: explode objects, keep only
    * rectangle polygons with 4 X/Z ground-plane points (F9), recover the
    * axis-aligned box (center = coordinate means, dims = extents, zero
    * rotation — SUN RGB-D provides none) and strip `:modifier` suffixes
    * from category names (sunrgbd_processor.py:89-127). Pure column math —
    * no UDF.
    */
  def readSunrgbdAnnotations(spark: SparkSession, path: String): DataFrame = {
    val doc = spark.read.option("multiLine", true).json(path)
      .withColumn("_source_file", input_file_name())
    doc
      .select(col("_source_file"), posexplode(col("objects")).as(Seq("obj_idx", "obj")))
      .filter(col("obj").isNotNull && size(col("obj.polygon")) > 0)
      .withColumn("poly", col("obj.polygon")(0))
      .filter(col("poly.rectangle") === true) // F9
      .filter(size(col("poly.X")) === 4 && size(col("poly.Z")) === 4) // F9
      .select(
        col("_source_file"),
        col("obj_idx"),
        split(coalesce(col("obj.name"), lit("unknown")), ":")(0).as("category"), // M1 cleanup
        (aggregate(col("poly.X"), lit(0.0), (a, x) => a + x.cast("double")) / 4).as("x"),
        ((col("poly.Ymin").cast("double") + col("poly.Ymax").cast("double")) / 2).as("y"),
        (aggregate(col("poly.Z"), lit(0.0), (a, x) => a + x.cast("double")) / 4).as("z"),
        (array_max(col("poly.X")) - array_min(col("poly.X"))).cast("double").as("xl"),
        abs(col("poly.Ymax").cast("double") - col("poly.Ymin").cast("double")).as("yl"),
        (array_max(col("poly.Z")) - array_min(col("poly.Z"))).cast("double").as("zl"),
        lit(0.0).as("pitch"), lit(0.0).as("yaw"), lit(0.0).as("roll")
      )
  }

  // ---- F15: SUN RGB-D end-to-end unified-frame processor -----------------

  /** Compose S4 (intrinsics.txt) + S5 (extrinsics dir) + S6 (polygon
    * annotations → boxes) + S11 (16-bit PNG depth → A5 stats) into unified
    * frames, matching sunrgbd_processor.py:130-248. Scene identity is the
    * scene DIRECTORY; the expected layout is
    * `root/<sensor>/<dataset>/<scene_id>/` containing `intrinsics.txt`,
    * `extrinsics/`, `annotation3Dfinal/index.json`, and `depth/` PNGs.
    *
    * Gating mirrors the reference: intrinsics and a depth raster are
    * required (scene skipped otherwise, :144-155), extrinsics and boxes are
    * optional (:163-164, "continue even if no bboxes"). Image dimensions
    * fall back to the reference's 640×480 default (:212-215) since image
    * payloads are not part of the relational landing. Every stage is a
    * whole-directory scan — one Spark job for all scenes, not a
    * per-scene loop.
    */
  def sunrgbdToFrames(spark: SparkSession, root: String): DataFrame = {
    def normPath(c: Column): Column = regexp_replace(c, "^file:/+", "/")
    val bbox3dDdl =
      "array<struct<category:string,x:double,y:double,z:double," +
        "xl:double,yl:double,zl:double,pitch:double,yaw:double,roll:double>>"

    val intr = readIntrinsics(spark, s"$root/*/*/*/intrinsics.txt")
      .withColumn("scene_dir", regexp_extract(normPath(col("file")), "^(.*)/intrinsics\\.txt$", 1))
      .drop("file")
    val extr = readExtrinsics(spark, s"$root/*/*/*/extrinsics")
      .withColumn("scene_dir", regexp_extract(normPath(col("scene")), "^(.*)/extrinsics$", 1))
      .select(col("scene_dir"), col("extrinsics"))
    val boxes = readSunrgbdAnnotations(spark, s"$root/*/*/*/annotation3Dfinal/index.json")
      .withColumn("scene_dir",
        regexp_extract(normPath(col("_source_file")), "^(.*)/annotation3Dfinal/index\\.json$", 1))
      .groupBy(col("scene_dir"))
      .agg(sort_array(collect_list(struct(
        col("obj_idx"),
        struct(
          col("category"), col("x"), col("y"), col("z"),
          col("xl"), col("yl"), col("zl"),
          col("pitch"), col("yaw"), col("roll")
        ).as("box")))).as("ordered"))
      .select(col("scene_dir"), transform(col("ordered"), x => x.getField("box")).as("bounding_boxes_3d"))
    val depth = LandingZone.fullDepthStats(spark, s"$root/*/*/*/depth/*.png")
      .withColumn("scene_dir", regexp_extract(normPath(col("path")), "^(.*)/depth/[^/]+$", 1))
      .select(col("scene_dir"), normPath(col("path")).as("depth_path"), col("depth_stats"))

    intr
      .join(depth, Seq("scene_dir"))
      .join(extr, Seq("scene_dir"), "left")
      .join(boxes, Seq("scene_dir"), "left")
      .select(
        lit("sunrgbd").as("dataset"),
        concat_ws("_",
          regexp_extract(col("scene_dir"), "([^/]+)/[^/]+/[^/]+$", 1),
          regexp_extract(col("scene_dir"), "[^/]+/([^/]+)/[^/]+$", 1)).as("split"),
        regexp_extract(col("scene_dir"), "([^/]+)$", 1).as("image_id"),
        col("depth_path"),
        lit("depth_png_mm").as("depth_type"),
        struct(
          col("fx"), col("fy"), col("cx"), col("cy"),
          lit(640).as("image_width"), lit(480).as("image_height"),
          array(
            array(col("fx"), lit(0.0), col("cx")),
            array(lit(0.0), col("fy"), col("cy")),
            array(lit(0.0), lit(0.0), lit(1.0))
          ).as("intrinsics"),
          col("extrinsics")
        ).as("camera"),
        col("depth_stats"),
        coalesce(col("bounding_boxes_3d"), array().cast(bbox3dDdl)).as("bounding_boxes_3d")
      )
  }

  // ---- G11: 2D-bbox encoding normalization -------------------------------

  /** Normalize any of the reference's three raw 2D-bbox encodings
    * (geometry.py:272-335) into the engine's single (x, y, w, h, area,
    * category) struct:
    *   - Taskonomy mask-derived: x_min/y_min/x_max/y_max
    *   - COCO: nested bbox_2d {x, y, width, height}
    *   - direct: x/y/w/h
    * Encoding is decided from the SCHEMA (not per row), so the projection
    * is a plain column program; `area` falls back to w·h.
    */
  def normalizeBoxes2d(df: DataFrame, boxesCol: String = "bounding_boxes_2d"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val elem = df.schema(boxesCol).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val names = elem.fieldNames.toSet
    def norm(b: Column): Column = {
      val (x, y, w, h): (Column, Column, Column, Column) =
        if (names.contains("x_min"))
          (b.getField("x_min").cast("double"), b.getField("y_min").cast("double"),
            (b.getField("x_max") - b.getField("x_min")).cast("double"),
            (b.getField("y_max") - b.getField("y_min")).cast("double"))
        else if (names.contains("bbox_2d")) {
          val n = b.getField("bbox_2d")
          (n.getField("x").cast("double"), n.getField("y").cast("double"),
            n.getField("width").cast("double"), n.getField("height").cast("double"))
        } else
          (b.getField("x").cast("double"), b.getField("y").cast("double"),
            b.getField("w").cast("double"), b.getField("h").cast("double"))
      val area =
        if (names.contains("area")) coalesce(b.getField("area").cast("double"), w * h)
        else w * h
      struct(
        x.as("x"), y.as("y"), w.as("w"), h.as("h"),
        area.as("area"),
        coalesce(b.getField("category").cast("string"), lit("unknown")).as("category")
      )
    }
    df.withColumn(boxesCol, transform(col(boxesCol), norm(_)))
  }

  /** G11, row-level variant: a corpus whose box structs MIX the three raw
    * encodings in one schema (a unified-JSON scan unions the fields; each
    * row fills only its own encoding). Per-row precedence exactly as
    * geometry.py:272-296: direct `x/y/w/h` if all present, else the
    * `bbox_2d` sub-struct, else the 4-element COCO `bbox` list; `area` is
    * w·h from the picked params, falling back to a direct `area` field —
    * the QA-time `get_2d_bbox_area` stance (:317-335). NOTE the deliberate
    * contrast with [[normalizeBoxes2d]], which prefers a STORED area: that
    * models the reference's ingest stage (coco_processor keeps the
    * annotation's segmentation area), while this models its QA read stage.
    * Rows matching no encoding yield a null element — the F1 availability
    * gate downstream drops them. Pure column program, no UDF.
    */
  def coalesceBoxes2d(df: DataFrame, boxesCol: String = "bounding_boxes_2d"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val elem = df.schema(boxesCol).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val names = elem.fieldNames.toSet
    def norm(b: Column): Column = {
      // (available?, x, y, w, h) per encoding, in reference precedence order
      val encodings: Seq[(Column, Column, Column, Column, Column)] = Seq(
        if (Set("x", "y", "w", "h").subsetOf(names)) Some((
          b.getField("x").isNotNull && b.getField("y").isNotNull &&
            b.getField("w").isNotNull && b.getField("h").isNotNull,
          b.getField("x"), b.getField("y"), b.getField("w"), b.getField("h")))
        else None,
        if (names.contains("bbox_2d")) Some {
          val n = b.getField("bbox_2d")
          (n.isNotNull && n.getField("x").isNotNull && n.getField("y").isNotNull &&
            n.getField("width").isNotNull && n.getField("height").isNotNull,
            n.getField("x"), n.getField("y"), n.getField("width"), n.getField("height"))
        } else None,
        if (names.contains("bbox")) Some {
          val a = b.getField("bbox")
          (a.isNotNull && size(a) === 4 &&
            a(0).isNotNull && a(1).isNotNull && a(2).isNotNull && a(3).isNotNull,
            a(0), a(1), a(2), a(3))
        } else None
      ).flatten
      require(encodings.nonEmpty, s"no known 2D-bbox encoding among ${names.mkString(", ")}")
      def pick(f: ((Column, Column, Column, Column, Column)) => Column): Column =
        encodings.foldRight(lit(null).cast("double")) { (e, acc) => when(e._1, f(e).cast("double")).otherwise(acc) }
      val (x, y, w, h) = (pick(_._2), pick(_._3), pick(_._4), pick(_._5))
      val anyEncoding = encodings.map(_._1).reduce(_ || _)
      val area =
        if (names.contains("area")) when(anyEncoding, w * h).otherwise(b.getField("area").cast("double"))
        else w * h
      when(anyEncoding || (area.isNotNull),
        struct(
          x.as("x"), y.as("y"), w.as("w"), h.as("h"), area.as("area"),
          (if (names.contains("category")) coalesce(b.getField("category").cast("string"), lit("unknown"))
           else lit("unknown")).as("category")))
    }
    df.withColumn(boxesCol, transform(col(boxesCol), norm(_)))
  }

  // ---- S12: partition discovery from paths -------------------------------

  /** Hive-less partition columns parsed from file paths with regex — the
    * directory-iteration pattern every processor uses
    * (e.g. sunrgbd_processor.py:278-301).
    */
  def withPathPartitions(df: DataFrame, pattern: String, names: Seq[String]): DataFrame =
    names.zipWithIndex.foldLeft(df) { case (acc, (n, i)) =>
      acc.withColumn(n, regexp_extract(input_file_name(), pattern, i + 1))
    }
}
