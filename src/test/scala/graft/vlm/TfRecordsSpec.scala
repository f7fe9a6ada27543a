package graft.vlm

import org.apache.spark.sql.functions._

/** TFRecord container + tf.Example/SequenceExample wire parse, verified
  * against fixtures ENCODED BY AN INDEPENDENT HAND-ROLLED WRITER in this
  * spec (tag/varint/packed encodings straight from the proto wire spec),
  * framed with real CRC32C — so reader bugs can't cancel writer bugs via
  * a shared codec.
  */
class TfRecordsSpec extends SparkSpec {

  // ---- minimal proto writer (test-side only) -----------------------------

  private def varint(v: Long): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = v
    while ((x & ~0x7fL) != 0) { out += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
    out += x.toByte
    out.toArray
  }
  private def tag(field: Int, wire: Int): Array[Byte] = varint((field << 3) | wire)
  private def lenDelim(field: Int, payload: Array[Byte]): Array[Byte] =
    tag(field, 2) ++ varint(payload.length) ++ payload
  private def packedFloats(vs: Seq[Float]): Array[Byte] =
    vs.flatMap { f =>
      val b = java.lang.Float.floatToIntBits(f)
      Seq((b & 0xff).toByte, ((b >> 8) & 0xff).toByte, ((b >> 16) & 0xff).toByte, ((b >> 24) & 0xff).toByte)
    }.toArray
  private def floatListFeature(vs: Seq[Float]): Array[Byte] =
    lenDelim(2, lenDelim(1, packedFloats(vs))) // Feature{ float_list=2 { packed value=1 } }
  private def int64ListFeature(vs: Seq[Long]): Array[Byte] =
    lenDelim(3, lenDelim(1, vs.flatMap(varint(_)).toArray))
  private def bytesListFeature(vs: Seq[Array[Byte]]): Array[Byte] =
    lenDelim(1, vs.flatMap(v => lenDelim(1, v)).toArray)
  private def mapEntry(key: String, feature: Array[Byte]): Array[Byte] =
    lenDelim(1, lenDelim(1, key.getBytes("UTF-8")) ++ lenDelim(2, feature))
  private def example(features: Seq[(String, Array[Byte])]): Array[Byte] =
    lenDelim(1, features.flatMap { case (k, f) => mapEntry(k, f) }.toArray)

  private def maskedCrc(b: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32C
    c.update(b, 0, b.length)
    val m = (((c.getValue >>> 15) | (c.getValue << 17)) + 0xa282ead8L) & 0xffffffffL
    Array((m & 0xff).toByte, ((m >> 8) & 0xff).toByte, ((m >> 16) & 0xff).toByte, ((m >> 24) & 0xff).toByte)
  }
  private def tfrecord(recs: Seq[Array[Byte]]): Array[Byte] =
    recs.flatMap { r =>
      val len = (0 until 8).map(i => ((r.length.toLong >> (8 * i)) & 0xff).toByte).toArray
      len ++ maskedCrc(len) ++ r ++ maskedCrc(r)
    }.toArray

  // ---- fixture: 2 instances, one below the 0.1 visibility threshold ------

  private def inst3d(base: Float): Seq[Float] =
    (0 until 27).map(i => base + i * 0.5f)
  private def fixtureExample: Array[Byte] = example(Seq(
    "object/visibility" -> floatListFeature(Seq(0.9f, 0.05f)),
    "point_2d" -> floatListFeature(inst3d(0f) ++ inst3d(100f)),
    "point_3d" -> floatListFeature(inst3d(200f) ++ inst3d(300f)),
    "camera/projection" -> floatListFeature((1 to 16).map(_.toFloat)),
    "camera/view" -> floatListFeature((17 to 32).map(_.toFloat)),
    "plane/center" -> floatListFeature(Seq(1f, 2f, 3f)),
    "plane/normal" -> floatListFeature(Seq(0f, 1f, 0f)),
    "image/id" -> int64ListFeature(Seq(7L)),
    "instance_num" -> int64ListFeature(Seq(2L)),
    "image/encoded" -> bytesListFeature(Seq(Array[Byte](9, 9, 9)))))

  test("TFRecord framing round-trips and CRC corruption fails loudly") {
    val shard = tfrecord(Seq(fixtureExample, fixtureExample))
    val recs = TfRecords.records(shard).toSeq
    assert(recs.size === 2)
    assert(recs.head.toSeq === fixtureExample.toSeq)

    val corrupt = shard.clone()
    corrupt(14) = (corrupt(14) ^ 0x1).toByte // inside record 1's data
    val e = intercept[IllegalArgumentException](TfRecords.records(corrupt).toSeq)
    assert(e.getMessage.contains("CRC"))
  }

  test("a crafted u64 length near 2^63 fails with the corrupt-length message, not an overflow artifact") {
    // length bytes = 0xFF.. (reads as a negative signed long): the bounds
    // arithmetic `dataOff + len + 4` would wrap negative and pass the
    // truncation check — the reader must reject the length itself first
    val evil = Array.fill[Byte](12)(0xFF.toByte) ++ Array[Byte](1, 2, 3)
    val e = intercept[IllegalArgumentException](TfRecords.records(evil).toSeq)
    assert(e.getMessage.contains("corrupt TFRecord length"), e.getMessage)
    // a huge-but-positive length (> shard size) gets the same message
    val big = tfrecord(Seq(fixtureExample)).clone()
    big(6) = 0x7f.toByte // length byte 6: len ≈ 2^55, positive, way past EOF
    val e2 = intercept[IllegalArgumentException](TfRecords.records(big).toSeq)
    assert(e2.getMessage.contains("corrupt TFRecord length"), e2.getMessage)
  }

  test("parseExample decodes all three feature kinds") {
    val fm = TfRecords.parseExample(fixtureExample)
    assert(fm("object/visibility").floats === Seq(0.9f, 0.05f))
    assert(fm("image/id").int64s === Seq(7L))
    assert(fm("image/encoded").bytes.head.toSeq === Seq[Byte](9, 9, 9))
    assert(fm("camera/projection").floats.size === 16)
  }

  test("evalLabel mirrors parser.py: visibility gate, 2D depth-drop, 4x4 matrices") {
    val f = TfRecords.evalLabel("p", 0, TfRecords.parseExample(fixtureExample))
    assert(f.visibilities === Seq(0.9f, 0.05f))
    assert(f.objects.size === 1) // instance 2 fails visibility > 0.1
    val o = f.objects.head
    assert(o.kp3d.size === 9 && o.kp3d.head === Seq(200f, 200.5f, 201f))
    assert(o.kp2d.size === 9 && o.kp2d.head === Seq(0f, 0.5f)) // depth column dropped
    assert(f.projection.get.size === 4 && f.projection.get.head === Seq(1f, 2f, 3f, 4f))
    assert(f.view.get.last === Seq(29f, 30f, 31f, 32f))
    assert(f.plane_center === Seq(1f, 2f, 3f) && f.plane_normal === Seq(0f, 1f, 0f))
    assert(f.image_id === Some(7L) && f.n_instances === Some(2L) && f.image_bytes === 3L)
  }

  test("100 seeded-random feature maps round-trip through encode -> parse") {
    // Sweep the writer/parser pair over random shapes the hand fixtures
    // don't reach: empty lists, single elements, long lists, varint
    // boundary values (including negatives, which encode as 10-byte
    // varints), and NaN/infinity floats (bit-exact through the fixed32
    // path). The writer is this spec's independent encoder, so a parser
    // bug can't cancel against a shared codec.
    val rnd = new scala.util.Random(0x5eed)
    def randKey(): String = "k" + rnd.nextInt(1000)
    def randFeature(): (Array[Byte], TfRecords.Feature) = rnd.nextInt(3) match {
      case 0 =>
        val vs = Seq.fill(rnd.nextInt(5))(Array.fill(rnd.nextInt(8))(rnd.nextInt().toByte))
        (bytesListFeature(vs), TfRecords.Feature(bytes = vs))
      case 1 =>
        val pool = Seq(0f, -1.5f, Float.MaxValue, Float.MinPositiveValue,
          Float.NaN, Float.PositiveInfinity, rnd.nextFloat())
        val vs = Seq.fill(rnd.nextInt(6))(pool(rnd.nextInt(pool.size)))
        (floatListFeature(vs), TfRecords.Feature(floats = vs))
      case 2 =>
        val pool = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, rnd.nextLong())
        val vs = Seq.fill(rnd.nextInt(6))(pool(rnd.nextInt(pool.size)))
        (int64ListFeature(vs), TfRecords.Feature(int64s = vs))
    }
    def sameFloats(a: Seq[Float], b: Seq[Float]) =
      a.size == b.size && a.zip(b).forall { case (x, y) =>
        java.lang.Float.floatToRawIntBits(x) == java.lang.Float.floatToRawIntBits(y)
      }
    for (_ <- 1 to 100) {
      val feats = Seq.fill(rnd.nextInt(6))(randKey() -> randFeature())
        .distinctBy(_._1) // later map keys win in proto; keep keys unique
      val parsed = TfRecords.parseExample(example(feats.map { case (k, (enc, _)) => k -> enc }))
      assert(parsed.keySet == feats.map(_._1).toSet)
      feats.foreach { case (k, (_, expected)) =>
        val got = parsed(k)
        assert(got.bytes.map(_.toSeq) == expected.bytes.map(_.toSeq), s"bytes differ for $k")
        assert(sameFloats(got.floats, expected.floats), s"floats differ for $k")
        assert(got.int64s == expected.int64s, s"int64s differ for $k")
      }
    }
  }

  test("wrong wire type on a matching field number fails loudly, never misparses") {
    // field 1 ("features") with wire type 0 (varint) — a CRC-valid record
    // that is not a tf.Example. Reading the varint VALUE as a byte length
    // would silently slice garbage; the parser must refuse instead.
    val notAnExample = tag(1, 0) ++ varint(42)
    val e = intercept[IllegalArgumentException](TfRecords.parseExample(notAnExample))
    assert(e.getMessage.contains("wire type 0"))
    // same guard inside a feature map entry's value
    val badValue = lenDelim(1, lenDelim(1, "k".getBytes("UTF-8")) ++ tag(2, 5) ++ Array[Byte](1, 2, 3, 4))
    intercept[IllegalArgumentException](TfRecords.parseExample(badValue))
    // and on the SequenceExample context
    val badSeq = tag(1, 5) ++ Array[Byte](1, 2, 3, 4)
    intercept[IllegalArgumentException](TfRecords.parseSequenceExample(badSeq))
  }

  test("split messages merge per proto semantics (repeated field occurrences concatenate)") {
    // a Features message split into two field-1 occurrences: maps union
    val split = lenDelim(1, mapEntry("a", int64ListFeature(Seq(1L)))) ++
      lenDelim(1, mapEntry("b", int64ListFeature(Seq(2L))))
    val fm = TfRecords.parseExample(split)
    assert(fm("a").int64s === Seq(1L) && fm("b").int64s === Seq(2L))
    // a Feature whose float_list arrives in two chunks: values concatenate
    val chunked = lenDelim(1, mapEntry("f",
      lenDelim(2, lenDelim(1, packedFloats(Seq(1f)))) ++
        lenDelim(2, lenDelim(1, packedFloats(Seq(2f, 3f))))))
    assert(TfRecords.parseExample(chunked)("f").floats === Seq(1f, 2f, 3f))
  }

  test("parseSequenceExample: context + ordered per-step feature lists") {
    val steps = Seq(floatListFeature(Seq(1f, 2f)), floatListFeature(Seq(3f, 4f)))
    val featureList = steps.flatMap(f => lenDelim(1, f)).toArray
    val se =
      lenDelim(1, mapEntry("image/width", int64ListFeature(Seq(640L)))) ++ // context
        lenDelim(2, lenDelim(1, // feature_lists { feature_list { key, FeatureList } }
          lenDelim(1, "point_2d".getBytes("UTF-8")) ++ lenDelim(2, featureList)))
    val (ctx, lists) = TfRecords.parseSequenceExample(se)
    assert(ctx("image/width").int64s === Seq(640L))
    assert(lists("point_2d").map(_.floats) === Seq(Seq(1f, 2f), Seq(3f, 4f)))
  }

  test("objectronEvalFrames: binaryFile scan over a shard dir end-to-end") {
    val dir = tempDir("tfrec").toFile
    java.nio.file.Files.write(new java.io.File(dir, "part-0.tfrecord").toPath,
      tfrecord(Seq(fixtureExample, fixtureExample)))
    val df = TfRecords.objectronEvalFrames(spark, dir.getAbsolutePath)
    assert(df.count() === 2)
    val row = df.orderBy("record_idx")
      .select(col("image_id"), size(col("objects")), col("record_idx")).collect()
    assert(row.map(_.getInt(1)).toSeq === Seq(1, 1))
    assert(row.map(_.getLong(0)).toSeq === Seq(7L, 7L))
  }
}
