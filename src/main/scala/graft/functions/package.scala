package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.shims

/** Column-level API over graft's custom Catalyst expressions. */
package object functions {

  /** One-pass 56-bit SimHash over an array<bigint> of token hashes. */
  def simhash56(hashes: Column): Column =
    shims.column(SimHash56(shims.expression(hashes)))

  /** Distinct word-n-gram shingle md5 digests of a text column, one pass. */
  def shingleHashes(text: Column, n: Int): Column =
    shims.column(ShingleHashes(shims.expression(text), n))

  /** Exact int64 dot product of two array<bigint> columns. */
  def longDot(a: Column, b: Column): Column =
    shims.column(LongDot(shims.expression(a), shims.expression(b)))

  /** Eight 32-bit-slice minhash values from an array of 60-bit hashes. */
  def minhash8(hashes: Column): Column =
    shims.column(MinHash8(shims.expression(hashes)))

  /** `n` independent minhash values (2-universal integer family) from an
    * array of 60-bit hashes, one fused pass — the wide-signature path.
    */
  def minhashN(hashes: Column, n: Int): Column =
    shims.column(MinHashN(shims.expression(hashes), n))

  /** All LSH band keys (md5 over rowsPerBand adjacent minhashes) from an
    * array of 60-bit shingle digests, one fused pass — see [[BandKeys]].
    */
  def bandKeys(hashes: Column, numMinhash: Int, numBands: Int): Column =
    shims.column(BandKeys(shims.expression(hashes), numMinhash, numBands))

  /** Quantize an array<float|double> to array<bigint>: round(x·scale). */
  def quantizeVec(vec: Column, scale: Int): Column =
    shims.column(QuantizeVec(shims.expression(vec), scale))

  /** Count of the most frequent element of an array<string>, one pass. */
  def topRunCount(arr: Column): Column =
    shims.column(TopRunCount(shims.expression(arr)))

  /** ASCII `[a-z0-9]` runs of an already-lowered string column, one byte
    * scan — `regexp_extract_all(lowered, '[a-z0-9]+', 0)` exactly.
    */
  def alnumTokens(lowered: Column): Column =
    shims.column(AlnumTokens(shims.expression(lowered)))

  /** Count of the most frequent word bigram of a token array, without
    * building the bigram strings — `top_run_count(shingles(toks, 2))`.
    */
  def topBigramCount(toks: Column): Column =
    shims.column(TopBigramCount(shims.expression(toks)))

  /** 8 oriented-box vertices from a length-9 array (x..roll). */
  def boxVertices(fields: Column): Column =
    shims.column(BoxVertices(shims.expression(fields)))

  /** Min pairwise vertex distance between two 8-vertex boxes. */
  def minBoxDistance(a: Column, b: Column): Column =
    shims.column(MinBoxDistance(shims.expression(a), shims.expression(b)))

  /** Enhanced relative position of two camera-frame 8-vertex boxes. */
  def relativePosition(a: Column, b: Column): Column =
    shims.column(RelativePosition(shims.expression(a), shims.expression(b)))

  /** Min camera-to-vertex distance. */
  def cameraToBoxDistance(cam: Column, verts: Column): Column =
    shims.column(CameraToBoxDistance(shims.expression(cam), shims.expression(verts)))

  /** World-to-camera transform of vertex arrays via inverted 4x4 extrinsics. */
  def toCameraFrame(verts: Column, extrinsics: Column): Column =
    shims.column(ToCameraFrame(shims.expression(verts), shims.expression(extrinsics)))

  /** Pack an array<bigint> of 8-bit codes (each in [0,255]) into binary —
    * the SQ8 inverted-list storage form, 1 byte per dim.
    */
  def packU8(codes: Column): Column =
    shims.column(PackU8(shims.expression(codes)))

  /** Unpack a [[packU8]] binary back to array<bigint> (unsigned bytes). */
  def unpackU8(bytes: Column): Column =
    shims.column(UnpackU8(shims.expression(bytes)))

  /** Marker predicate (constant true) requesting the bucketed range-join
    * rewrite for the enclosing inner join; AND it with your own range
    * conjuncts, or use [[pointInInterval]]. `bound` must be an
    * interval-side expression (usually the lower bound).
    */
  def rangeBin(point: Column, bound: Column, bin: Double): Column =
    shims.column(graft.plans.RangeBinHint(
      shims.expression(point),
      shims.expression(bound),
      org.apache.spark.sql.catalyst.expressions.Literal(bin)))

  /** `lo <= point < hi` (or `<= hi`) join condition carrying the bucket
    * width that lets [[graft.plans.RangeJoinRewrite]] turn the interval
    * join into a bucketed equi-join. Pick `bin` on the order of the
    * typical interval width. Works unrewritten (the marker is inert) on
    * sessions without graft's extensions.
    */
  def pointInInterval(point: Column, lo: Column, hi: Column, bin: Double,
      hiInclusive: Boolean = false): Column = {
    val range = point >= lo && (if (hiInclusive) point <= hi else point < hi)
    range && rangeBin(point, lo, bin)
  }
}
