package graft.vlm

import java.io.ByteArrayOutputStream
import java.nio.file.Files

/** Round-trips a synthetic `.pbdata` fixture through the hand-rolled wire
  * reader: encoder below follows the same public protobuf encoding the
  * parser reads (S9/G20).
  */
class ObjectronPbSpec extends SparkSpec {

  // ---- minimal wire-format encoder (test-only) ---------------------------

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(out: ByteArrayOutputStream, field: Int, wire: Int): Unit =
    varint(out, (field.toLong << 3) | wire)
  private def f32(out: ByteArrayOutputStream, f: Float): Unit = {
    val bits = java.lang.Float.floatToIntBits(f)
    (0 until 4).foreach(i => out.write((bits >>> (8 * i)) & 0xff))
  }
  private def f64(out: ByteArrayOutputStream, d: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(d)
    (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt))
  }
  private def msg(out: ByteArrayOutputStream, field: Int)(body: ByteArrayOutputStream => Unit): Unit = {
    val inner = new ByteArrayOutputStream()
    body(inner)
    tag(out, field, 2)
    varint(out, inner.size())
    inner.writeTo(out)
  }
  private def packedFloats(out: ByteArrayOutputStream, field: Int, vs: Seq[Float]): Unit =
    msg(out, field)(b => vs.foreach(f32(b, _)))

  private def point3d(out: ByteArrayOutputStream, field: Int, x: Float, y: Float, z: Float): Unit =
    msg(out, field) { b =>
      tag(b, 1, 5); f32(b, x); tag(b, 2, 5); f32(b, y); tag(b, 3, 5); f32(b, z)
    }

  /** One object: center + 8 axis-aligned corners (Objectron ordering:
    * corner index bit0→x, bit1→z, bit2→y).
    */
  private def obj(out: ByteArrayOutputStream, objectId: Int, center: (Float, Float, Float),
                  w: Float, h: Float, d: Float, visibility: Float): Unit =
    msg(out, 2) { b =>
      tag(b, 1, 0); varint(b, objectId)
      val (cx, cy, cz) = center
      // keypoint 0 = center
      msg(b, 2)(kp => point3d(kp, 2, cx, cy, cz))
      for (i <- 0 until 8) {
        val dx = if ((i & 1) != 0) w else 0f
        val dz = if ((i & 2) != 0) d else 0f
        val dy = if ((i & 4) != 0) h else 0f
        msg(b, 2)(kp => point3d(kp, 2, cx + dx, cy + dy, cz + dz))
      }
      tag(b, 3, 5); f32(b, visibility)
    }

  private def fixture(): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    // frame 0: one object, camera present
    msg(out, 2) { fr =>
      tag(fr, 1, 0); varint(fr, 0) // frame_id
      obj(fr, 7, (1f, 2f, 3f), w = 2f, h = 4f, d = 3f, visibility = 0.9f)
      msg(fr, 3) { cam =>
        tag(cam, 5, 0); varint(cam, 640)
        tag(cam, 6, 0); varint(cam, 480)
        packedFloats(cam, 7, Seq(100f, 0f, 50f, 0f, 110f, 60f, 0f, 0f, 1f))
        packedFloats(cam, 9, (0 until 16).map(_.toFloat))
      }
      tag(fr, 4, 1); f64(fr, 1.25)
    }
    // frame 1: object with only 3 keypoints → dropped by the 9-kp gate
    msg(out, 2) { fr =>
      tag(fr, 1, 0); varint(fr, 1)
      msg(fr, 2) { b =>
        tag(b, 1, 0); varint(b, 8)
        msg(b, 2)(kp => point3d(kp, 2, 0f, 0f, 0f))
      }
    }
    // frame 2: another full object, no camera
    msg(out, 2) { fr =>
      tag(fr, 1, 0); varint(fr, 2)
      obj(fr, 9, (0f, 0f, 0f), w = 1f, h = 1f, d = 1f, visibility = 1f)
    }
    out.toByteArray
  }

  test("parseSequence: frames, keypoint gate, camera fields (S9; annotation_data.proto)") {
    val frames = ObjectronPb.parseSequence(fixture())
    assert(frames.length == 3)
    assert(frames(0).objects.length == 1)
    assert(frames(1).objects.isEmpty) // 3 keypoints < 9
    assert(frames(2).objects.length == 1)
    assert(frames(0).timestamp == 1.25)
    val cam = frames(0).camera.get
    assert(cam.width.contains(640) && cam.height.contains(480))
    assert(cam.intrinsics.toSeq == Seq(100f, 0f, 50f, 0f, 110f, 60f, 0f, 0f, 1f))
    assert(cam.viewMatrix.length == 16)
    val o = frames(0).objects.head
    assert(o.objectId == 7 && math.abs(o.visibility - 0.9f) < 1e-6)
    assert(o.kp3d.length == 9)
  }

  test("boxFromKeypoints: OpenGL->CV center flip + corner-distance dims (G20; objectron_processor.py:158-196)") {
    val frames = ObjectronPb.parseSequence(fixture())
    val b = ObjectronPb.boxFromKeypoints(frames(0).objects.head.kp3d, "shoe", "7", 0.9)
    assert(b.x == 1.0 && b.y == -2.0 && b.z == -3.0) // y, z negated
    assert(b.xl == 2.0 && b.yl == 4.0 && b.zl == 3.0)
    assert(b.pitch == 0.0 && b.yaw == 0.0 && b.roll == 0.0)
  }

  test("a corrupt pbdata file is skipped, not fatal (objectron_processor.py:100-104)") {
    val dir = tempDir("graft-pbdata-corrupt")
    Files.write(dir.resolve("good.pbdata"), fixture())
    Files.write(dir.resolve("bad.pbdata"), Array.fill[Byte](64)(0x7f))
    val df = ObjectronPb.objectronFrames(spark, dir.toString, "shoe", sampleRate = 1)
    assert(df.count() == 2) // the good file's two object-frames survive
  }

  test("objectronFrames: binaryFile -> sampled unified frame rows (S9/F12)") {
    val dir = tempDir("graft-pbdata")
    Files.write(dir.resolve("video_01.pbdata"), fixture())
    val df = ObjectronPb.objectronFrames(spark, dir.toString, "shoe", sampleRate = 1)
    // F15 contract: conforms to the canonical schema and stays collectable
    assert(FrameSchema.conform(df).count() == 2)
    val rows = df.orderBy("image_id").collect()
    // frame 1 has no surviving objects → dropped; frames 0 and 2 remain
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[String]("video_id") == "video_01")
    assert(r0.getAs[String]("image_id") == "video_01_frame_0000")
    val cam0 = r0.getAs[org.apache.spark.sql.Row]("camera")
    assert(cam0.getAs[Double]("fx") == 100.0 && cam0.getAs[Double]("cy") == 60.0)
    assert(cam0.getAs[scala.collection.Seq[_]]("extrinsics").length == 4)
    val boxes = r0.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("bounding_boxes_3d")
    assert(boxes.length == 1 && boxes.head.getAs[String]("category") == "shoe")
    // sampling: rate 2 keeps only the first of the two object-frames
    val sampled = ObjectronPb.objectronFrames(spark, dir.toString, "shoe", sampleRate = 2)
    assert(sampled.count() == 1)
  }
}
