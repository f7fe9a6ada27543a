package graft.vlm

import org.apache.spark.sql.functions._

/** Nested-schema pruning on the frame-corpus read path (parquet snapshot).
  *
  * The frame documents are deeply nested (camera struct with a 4×4
  * extrinsics array-of-arrays, two bounding-box struct arrays, depth
  * stats); a QA-gate query touching one slice must not drag the whole
  * document through the scan. Spark's nested-schema pruning delivers this
  * today — these specs PIN it for the frame schema, so a refactor that
  * breaks pruning (an opaque UDF over the struct, a conf regression in
  * the session factory, a schema change that defeats the pruner) fails
  * loudly instead of silently multiplying scan bytes at corpus scale.
  */
class NestedPruningSpec extends SparkSpec {

  private lazy val snapshotDir: String = {
    val dir = tempDir("graft-frames-parquet").toString
    graft.PipelineDemo.synthFrames(spark, 200)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def readSchemaOf(df: org.apache.spark.sql.DataFrame): String = {
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.nonEmpty, s"no ReadSchema in plan:\n$p")
    rs
  }

  test("camera-intrinsics profile reads only the referenced camera fields") {
    val frames = spark.read.parquet(snapshotDir)
    // the intrinsics-gate shape (S4/F-gates): fx/fy ratio per frame
    val q = frames.select(
      col("image_id"),
      (col("camera.fx") / col("camera.fy")).as("aspect"))
    val rs = readSchemaOf(q)
    assert(rs.contains("fx") && rs.contains("fy"), rs)
    // the 4×4 extrinsics array and both box arrays must be pruned
    assert(!rs.contains("extrinsics"), rs)
    assert(!rs.contains("bounding_boxes"), rs)
    assert(!rs.contains("depth_stats"), rs)
  }

  test("2D-area gate reads the 2D box array but prunes 3D boxes, camera, depth") {
    val frames = spark.read.parquet(snapshotDir)
    // the F5 min-2D-area gate shape: explode 2D boxes, filter by area
    val q = frames
      .select(col("image_id"), explode(col("bounding_boxes_2d")).as("b2"))
      .filter(col("b2.w") * col("b2.h") >= lit(400.0))
      .select(col("image_id"), col("b2.category"))
    val rs = readSchemaOf(q)
    assert(rs.contains("bounding_boxes_2d"), rs)
    assert(!rs.contains("bounding_boxes_3d"), rs)
    assert(!rs.contains("camera"), rs)
    assert(!rs.contains("depth_stats"), rs)
  }

  test("3D box scan prunes unreferenced box-struct fields from the array element") {
    val frames = spark.read.parquet(snapshotDir)
    // category histogram over 3D boxes: only the category field of the
    // box struct is referenced — the pruner should narrow the ARRAY
    // ELEMENT struct, not just drop sibling columns
    val q = frames
      .select(explode(col("bounding_boxes_3d")).as("bbox"))
      .groupBy(col("bbox.category")).count()
    val rs = readSchemaOf(q)
    assert(rs.contains("category"), rs)
    assert(!rs.contains("yaw") && !rs.contains("pitch"), rs)
    assert(!rs.contains("camera"), rs)
  }
}
