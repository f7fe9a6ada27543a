package graft.functions

import graft.vlm.SparkSpec
import org.apache.spark.sql.functions._

/** PackU8/UnpackU8 — the SQ8 storage codec. The contract: a lossless
  * [0,255] round trip with UNSIGNED byte semantics (codes ≥ 128 are the
  * interesting half — a signed cast would flip them negative and corrupt
  * every asymmetric distance downstream), loud failure outside the range,
  * and whole-stage-codegen/interpreted parity.
  */
class SqCodesSpec extends SparkSpec {
  import spark.implicits._

  test("round trip is lossless over the full unsigned range") {
    val vecs = Seq(
      Seq(0L, 1L, 127L, 128L, 255L),
      (0L to 255L).toSeq,
      Seq(255L),
      Seq.empty[Long]
    )
    val df = vecs.toDF("codes")
    val got = df.select(unpackU8(packU8($"codes")).as("back"))
      .as[Seq[Long]].collect().toSeq
    assert(got === vecs)
    // binary length is exactly 1 byte per dim — the storage-width contract
    val lens = df.select(length(packU8($"codes"))).as[Int].collect().toSeq
    assert(lens === vecs.map(_.size))
  }

  test("out-of-range codes fail loudly, not by truncation") {
    for (bad <- Seq(Seq(-1L), Seq(256L), Seq(0L, 300L, 5L))) {
      val e = intercept[Exception] {
        bad.toDF("codes").select(packU8($"codes")).collect()
      }
      assert(e.getMessage != null)
    }
  }

  test("SQ8 parquet bytes sit at the information-theoretic bound vs the fp32 and bit-packed grid tiers") {
    // The round-13 measurement (ann_demo_last.json sq8: 3.26x vs fp32,
    // 1.28x vs grid) is NOT a storage defect — it is the bound. This test
    // pins both the LAYOUT (code is BinaryType, 1 B/dim + bounded per-row
    // overhead on disk) and the CEILINGS the naive "~8x" figure ignored:
    //  - fp32 stores 4 B/dim (not 8), and entropy-saturated floats do not
    //    compress -> the SQ8 ceiling vs fp32 is 4x, minus shared per-row
    //    overhead (vec_id, cell, page structure);
    //  - the integer-grid tier's 11-bit coords are dictionary/bit-packed
    //    by parquet to ~11 bits/dim -> the ceiling vs grid is 11/8 =
    //    1.375x, NOT 8x (the 8 B/dim logical width never reaches disk).
    // Near-uniform codes model the entropy-saturated case scalar
    // quantization produces on real embeddings; compressible fixtures
    // would flatter every ratio.
    val rnd = new scala.util.Random(7)
    val n = 4000
    val dim = 64
    val rows = (0 until n).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextInt(256).toLong), (i % 50).toLong))
    val df = rows.toDF("vec_id", "codes", "cell")
    val dir = tempDir("graft-sq8-bytes").toString
    def bytesOf(sub: String): Long = new java.io.File(s"$dir/$sub").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // PIN the writer geometry the ratio windows assume: snappy + format v1
    // encodings (plain floats, dictionary/bit-packed ints). A Spark/
    // parquet-mr dependency bump that flips a default (zstd, v2's
    // BYTE_STREAM_SPLIT for floats) would otherwise move these file sizes
    // and flake the windows with the codec under test unchanged.
    def write(d: org.apache.spark.sql.DataFrame, sub: String): Unit =
      d.coalesce(1).write
        .option("compression", "snappy")
        .option("parquet.writer.version", "PARQUET_1_0")
        .option("parquet.enable.dictionary", "true")
        .parquet(s"$dir/$sub")
    write(df.select($"vec_id", $"cell", packU8($"codes").as("code")), "sq8")
    // the serving layout contract: codes land as BINARY, not array<*>
    assert(spark.read.parquet(s"$dir/sq8").schema("code").dataType ===
      org.apache.spark.sql.types.BinaryType)
    // fp32 tier: entropy-saturated floats at the same shape
    write((0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat()), (i % 50).toLong))
      .toDF("vec_id", "embedding", "cell"), "fp32")
    // grid tier: 11-bit integer coords as array<bigint> (QuantizeVec's
    // [0, 2047] range at the demo scale factor)
    write((0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextInt(2048).toLong), (i % 50).toLong))
      .toDF("vec_id", "q", "cell"), "grid")
    val (sq8B, fpB, gridB) = (bytesOf("sq8"), bytesOf("fp32"), bytesOf("grid"))
    // layout bound: 1 B/dim plus <= 24 B/row of key+page overhead
    val perRow = sq8B.toDouble / n
    assert(perRow >= dim, s"sq8 below 1 B/dim ($perRow)? random bytes cannot compress")
    assert(perRow <= dim + 24, s"sq8 per-row overhead blown: $perRow B/vector for $dim dims")
    // ratio floors: measured ratios must sit near their ceilings (4x and
    // 1.375x), i.e. the storage tier leaves at most ~20% on the table
    val vsFp = fpB.toDouble / sq8B
    val vsGrid = gridB.toDouble / sq8B
    assert(vsFp >= 3.2 && vsFp <= 4.5, s"fp32/sq8 = $vsFp (ceiling 4x)")
    assert(vsGrid >= 1.15 && vsGrid <= 1.6, s"grid/sq8 = $vsGrid (ceiling 1.375x)")
  }

  test("codegen and interpreted evaluation agree") {
    val rnd = new scala.util.Random(13)
    val vecs = (1 to 50).map(_ => Seq.fill(64)(rnd.nextInt(256).toLong))
    val df = vecs.toDF("codes")
    val viaCodegen = df.select(unpackU8(packU8($"codes"))).as[Seq[Long]].collect().toSeq
    // force the interpreted path: eval through a collected local relation
    val packed = vecs.map(v => v.map(_.toByte).toArray)
    val viaEval = packed.map(bytes =>
      UnpackU8(org.apache.spark.sql.catalyst.expressions.Literal(bytes))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq)
    assert(viaCodegen === viaEval)
    assert(viaCodegen === vecs)
  }
}
