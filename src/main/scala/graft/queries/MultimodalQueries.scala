package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column operators: the Spark-side plumbing a 100 TB media
  * pipeline needs — opaque `binary` payload columns with typed metadata,
  * deterministic frame sampling, and a batched `mapPartitions` decode stage
  * (the dataflow shape of the reference's model-inference loop,
  * `data_processing/build_label_codebook_fast.py:152-235`: scan → batch →
  * per-batch forward → join back).
  *
  * The oracle-checked queries use a deterministic fake decode (md5 of the
  * payload bytes) because the ORACLE engine has no image codec and must
  * replay every derived quantity; a real codec would slot into the same
  * batch stage. Everything the engine is responsible for — binary schema,
  * batching, partitioning, the executor-side batch loop, metadata math —
  * is real and oracle-checked. Payloads are the UTF-8 bytes of
  * `documents.text`.
  */
object MultimodalQueries extends QueryModule {
  import PipelineFns._

  private val FrameSampleEvery = 5
  private val DecodeBatchSize = 16
  private val ResizeTarget = 256

  /** Fake media dimensions from the doc id hash: w ∈ [64, 1087], h ∈ [64, 831].
    * Stand-in for reading them from a real container header.
    */
  private def fakeW(id: Column): Column = h60(concat(lit("w:"), id.cast("string"))) % 1024 + 64
  private def fakeH(id: Column): Column = h60(concat(lit("h:"), id.cast("string"))) % 768 + 64
  private def fakeWSql(id: String) = s"${h60Sql(s"concat('w:', CAST($id AS VARCHAR))")} % 1024 + 64"
  private def fakeHSql(id: String) = s"${h60Sql(s"concat('h:', CAST($id AS VARCHAR))")} % 768 + 64"

  /** documents with an opaque binary payload column — the multimodal data
    * model: (id, payload: binary, metadata struct).
    */
  private def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        element_at(array(lit("jpeg"), lit("png"), lit("webp")), (h60(concat(lit("fmt:"), col("doc_id").cast("string"))) % 3 + 1).cast("int")).as("format"),
        fakeW(col("doc_id")).as("width"),
        fakeH(col("doc_id")).as("height")
      ).as("meta")
    )

  /** One decoded feature row per media payload. f0..f3 are 32-bit slices of
    * the payload digest — the deterministic STUB standing in for a real
    * image/audio feature extractor. The oracle-checked mm3 query keeps the
    * stub (DuckDB must be able to replay it).
    */
  final case class MediaFeatures(doc_id: Long, n_bytes: Int, f0: Long, f1: Long, f2: Long, f3: Long)

  override val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "mm1_media_catalog",
      (s, d) =>
        media(s, d).select(
          col("doc_id"),
          col("meta.format").as("format"),
          length(col("payload")).as("n_bytes"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          (col("meta.width").cast("double") / col("meta.height")).as("aspect")
        ),
      Some(s"""SELECT doc_id,
             |  ['jpeg', 'png', 'webp'][CAST(${h60Sql("concat('fmt:', CAST(doc_id AS VARCHAR))")} % 3 + 1 AS INTEGER)] AS format,
             |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             |  ${fakeWSql("doc_id")} AS width,
             |  ${fakeHSql("doc_id")} AS height,
             |  CAST(${fakeWSql("doc_id")} AS DOUBLE) / (${fakeHSql("doc_id")}) AS aspect
             |FROM documents""".stripMargin),
      "Multimodal catalog: binary payload + typed metadata struct (format, dims) per media row."
    ),
    QueryDef(
      "mm2_frame_sample",
      (s, d) => {
        // each payload is a fake "video" with hash-derived frame count;
        // explode frame indices and keep every 5th (reference F12 sampling,
        // objectron_processor.py:126-128, lifted to media level). Explode
        // then filter: the filter is on a generator output, so Catalyst
        // rewrites sequence+filter before any shuffle — row count stays
        // bounded by n_frames/5 per doc.
        val n = (h60(concat(lit("nf:"), col("doc_id").cast("string"))) % 40 + 10).as("n_frames")
        media(s, d)
          .select(col("doc_id"), n)
          .select(col("doc_id"), col("n_frames"), explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
          .filter(col("frame_idx") % FrameSampleEvery === 0)
          .select(
            col("doc_id"),
            col("frame_idx"),
            col("n_frames"),
            (col("frame_idx") * 40L).as("pts_ms") // fake 25 fps timestamps
          )
      },
      Some(s"""SELECT doc_id, frame_idx, n_frames, frame_idx * 40 AS pts_ms
             |FROM (SELECT doc_id, n_frames, unnest(range(0, n_frames)) AS frame_idx
             |  FROM (SELECT doc_id, ${h60Sql("concat('nf:', CAST(doc_id AS VARCHAR))")} % 40 + 10 AS n_frames FROM documents))
             |WHERE frame_idx % $FrameSampleEvery = 0""".stripMargin),
      "Frame sampling: hash-derived frame count per payload, every-5th-frame selection with fake pts."
    ),
    QueryDef(
      "mm3_decode_features",
      (s, d) => {
        import s.implicits._
        // the batched executor-side decode loop: partitions stream through
        // in fixed-size batches exactly like a model-inference stage
        // (batch tensors, forward pass, emit rows). The md5 "feature
        // extractor" is the deterministic stub; swap `decodeBatch` for a
        // real codec + model session per partition at deployment.
        val md = media(s, d).select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
        def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[MediaFeatures] =
          batch.map { case (id, payload) =>
            val hex = java.security.MessageDigest.getInstance("MD5")
              .digest(payload).map("%02x".format(_)).mkString
            def slice(j: Int): Long = java.lang.Long.parseLong(hex.substring(8 * j, 8 * j + 8), 16)
            MediaFeatures(id, payload.length, slice(0), slice(1), slice(2), slice(3))
          }
        md.mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeBatch)).toDF()
      },
      Some(s"""SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             |  ${(0 until 4).map(j => s"CAST(concat('0x', substring(md5(text), ${8 * j + 1}, 8)) AS BIGINT) AS f$j").mkString(", ")}
             |FROM documents""".stripMargin),
      "Batched mapPartitions decode: binary payloads -> feature rows in batches of 16 (inference-stage plumbing; md5 stub)."
    ),
    QueryDef(
      "mm4_resize_plan",
      (s, d) =>
        // aspect-preserving resize planning + tiny-crop rejection
        // (reference F16, taskonomy_processor.py:344-345) — pure column
        // math over the metadata struct; no decode needed, so at scale this
        // runs as a metadata-only scan with the payload column pruned away.
        media(s, d)
          .select(col("doc_id"), col("meta.width").as("w"), col("meta.height").as("h"))
          .filter(col("w") > 5 && col("h") > 5)
          .withColumn("scale", lit(ResizeTarget).cast("double") / greatest(col("w"), col("h")))
          .select(
            col("doc_id"), col("w"), col("h"),
            when(col("scale") < 1, floor(col("w") * col("scale"))).otherwise(col("w")).cast("long").as("out_w"),
            when(col("scale") < 1, floor(col("h") * col("scale"))).otherwise(col("h")).cast("long").as("out_h")
          ),
      Some(s"""SELECT doc_id, w, h,
             |  CAST(CASE WHEN scale < 1 THEN floor(w * scale) ELSE w END AS BIGINT) AS out_w,
             |  CAST(CASE WHEN scale < 1 THEN floor(h * scale) ELSE h END AS BIGINT) AS out_h
             |FROM (SELECT doc_id, w, h, CAST($ResizeTarget AS DOUBLE) / greatest(w, h) AS scale
             |  FROM (SELECT doc_id, ${fakeWSql("doc_id")} AS w, ${fakeHSql("doc_id")} AS h FROM documents)
             |  WHERE w > 5 AND h > 5)""".stripMargin),
      "Resize planning: aspect-preserving target-256 dims + tiny-crop filter, metadata-only (payload pruned)."
    ),
    QueryDef(
      "mm5_audio_chunks",
      (s, d) => {
        // Audio chunk planning — the Whisper-style overlapping-window
        // shape: each payload is a fake mono 16-bit recording with
        // hash-derived sample rate and duration; chunks are 10 s windows
        // on a 9 s hop (1 s overlap), the last window truncated at the
        // stream end. All integer arithmetic (sample counts, byte
        // offsets, ms via integer div), metadata-only — the decode stage
        // would consume (start_byte, n_bytes) ranges per chunk without
        // this plan ever touching payloads.
        val sr = element_at(
          array(lit(16000L), lit(22050L), lit(44100L)),
          (h60(concat(lit("sr:"), col("doc_id").cast("string"))) % 3 + 1).cast("int"))
        val durS = h60(concat(lit("dur:"), col("doc_id").cast("string"))) % 50 + 5
        Tables.documents(s, d)
          .select(col("doc_id"), sr.as("sr"), (sr * durS).as("n_samples"))
          .withColumn("chunk", col("sr") * 10L)
          .withColumn("hop", col("sr") * 9L)
          .select(col("doc_id"), col("sr"), col("n_samples"), col("chunk"), col("hop"),
            explode(sequence(lit(0L), expr("(n_samples - 1) div hop"))).as("chunk_idx"))
          .select(
            col("doc_id"), col("sr"), col("chunk_idx"),
            expr("chunk_idx * hop * 1000 div sr").as("start_ms"),
            expr("least(chunk_idx * hop + chunk, n_samples) * 1000 div sr").as("end_ms"),
            (col("chunk_idx") * col("hop") * 2L).as("start_byte"),
            ((least(col("chunk_idx") * col("hop") + col("chunk"), col("n_samples"))
              - col("chunk_idx") * col("hop")) * 2L).as("n_bytes"))
      },
      Some(s"""SELECT doc_id, sr, chunk_idx,
             |  chunk_idx * hop * 1000 // sr AS start_ms,
             |  least(chunk_idx * hop + chunk, n_samples) * 1000 // sr AS end_ms,
             |  chunk_idx * hop * 2 AS start_byte,
             |  (least(chunk_idx * hop + chunk, n_samples) - chunk_idx * hop) * 2 AS n_bytes
             |FROM (
             |  SELECT doc_id, sr, n_samples, chunk, hop,
             |    unnest(range(0, (n_samples - 1) // hop + 1)) AS chunk_idx
             |  FROM (
             |    SELECT doc_id, sr, sr * dur_s AS n_samples, sr * 10 AS chunk, sr * 9 AS hop
             |    FROM (
             |      SELECT doc_id,
             |        CAST([16000, 22050, 44100][CAST(${h60Sql("concat('sr:', CAST(doc_id AS VARCHAR))")} % 3 + 1 AS INTEGER)] AS BIGINT) AS sr,
             |        ${h60Sql("concat('dur:', CAST(doc_id AS VARCHAR))")} % 50 + 5 AS dur_s
             |      FROM documents)))""".stripMargin),
      "Audio chunk planning: 10s windows on a 9s hop (1s overlap), truncated tail; integer sample/byte/ms arithmetic, metadata-only."
    ),
    QueryDef(
      "mm6_keyframes",
      (s, d) => {
        // Content-adaptive keyframe selection (shot-boundary detection) —
        // the other half of video sampling next to mm2's every-Nth: keep a
        // frame when its feature jumps from the PREVIOUS frame beyond a
        // threshold (plus frame 0, every shot's anchor). The per-frame
        // scalar is hash-derived (the deterministic stand-in for a decoded
        // frame-embedding delta); the lag runs in a per-video window, so
        // at scale this is one shuffle on video id and the boundary test
        // never compares across videos.
        val n = (h60(concat(lit("nf:"), col("doc_id").cast("string"))) % 40 + 10).as("n_frames")
        val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx").asc)
        Tables.documents(s, d)
          .select(col("doc_id"), n)
          .select(col("doc_id"), explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
          .withColumn("feat", pmod(
            h60(concat(lit("kf:"), col("doc_id").cast("string"), lit(":"), col("frame_idx").cast("string"))),
            lit(1000L)))
          .withColumn("delta", abs(col("feat") - lag(col("feat"), 1).over(w)))
          .filter(col("frame_idx") === 0 || col("delta") > 500)
          .withColumn("key_rank", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
            col("feat"), col("delta"), col("key_rank"))
      },
      Some(s"""WITH fr AS (SELECT doc_id, unnest(range(0, n_frames)) AS frame_idx
             |  FROM (SELECT doc_id, ${h60Sql("concat('nf:', CAST(doc_id AS VARCHAR))")} % 40 + 10 AS n_frames FROM documents)),
             |ft AS (SELECT doc_id, frame_idx,
             |    ${h60Sql("concat('kf:', CAST(doc_id AS VARCHAR), ':', CAST(frame_idx AS VARCHAR))")} % 1000 AS feat
             |  FROM fr),
             |dl AS (SELECT *, abs(feat - lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx ASC)) AS delta FROM ft)
             |SELECT doc_id, frame_idx, feat, delta,
             |  row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx ASC) AS key_rank
             |FROM dl WHERE frame_idx = 0 OR delta > 500""".stripMargin),
      "Shot-boundary keyframe selection: per-video lag window on a frame-feature scalar, threshold boundary test + frame-0 anchor, keyframe ranks — content-adaptive sampling next to mm2's every-Nth."
    ),
    QueryDef(
      "mm7_phash_near_dup",
      (s, d) => {
        // Perceptual-hash image dedup — the multimodal pillar's near-dup
        // operator: re-encoded/resized copies of an image keep a phash
        // within a few bits of the original, so dedup is hamming-radius
        // search over 56-bit signatures. The phash here is the
        // deterministic decode stand-in (the real one is 8×8-DCT over
        // mm3's batch decode stage — same 56-bit column either way):
        // every group of 16 doc_ids shares a base signature with 0–3
        // hash-positioned bit flips, planting the near-dup structure a
        // re-encode produces. Pairing is d5's pigeonhole shape: hamming ≤ 3
        // over 56 bits means at least one of the 4 14-bit chunks is
        // identical, so chunk equality is the bucketed join key and the
        // quadratic work never leaves chunk buckets. First-shared-chunk
        // in-row dedup — no distinct() shuffle of the candidate set.
        // Scale note: 14-bit chunks hold buckets to n/2^14 expected
        // occupancy — at corpus scales past ~1e7 images widen the hash so
        // chunk width tracks log2(n) (e.g. 128-bit phash, 4×32-bit chunks;
        // identical plan), exactly like the LSH band widening in
        // GraftConfig.
        val hamMax = 3
        val ph = Tables.documents(s, d)
          .select(col("doc_id"))
          .withColumn("grp", expr("doc_id div 16"))
          .withColumn("base",
            pmod(h60(concat(lit("phb:"), col("grp").cast("string"))), lit(1L << 56)))
          .withColumn("nf", pmod(col("doc_id"), lit(4L)))
          .withColumn("p0", pmod(h60(concat(lit("phf:"), col("doc_id").cast("string"), lit(":0"))), lit(56L)))
          .withColumn("p1", pmod(h60(concat(lit("phf:"), col("doc_id").cast("string"), lit(":1"))), lit(56L)))
          .withColumn("p2", pmod(h60(concat(lit("phf:"), col("doc_id").cast("string"), lit(":2"))), lit(56L)))
          .withColumn("phash", expr(
            "base ^ (CASE WHEN nf > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(p0 AS INT)) ELSE CAST(0 AS BIGINT) END)" +
              " ^ (CASE WHEN nf > 1 THEN shiftleft(CAST(1 AS BIGINT), CAST(p1 AS INT)) ELSE CAST(0 AS BIGINT) END)" +
              " ^ (CASE WHEN nf > 2 THEN shiftleft(CAST(1 AS BIGINT), CAST(p2 AS INT)) ELSE CAST(0 AS BIGINT) END)"))
          .select(col("doc_id"), col("phash"))
        val chunks = ph.select(
          col("doc_id"), col("phash"),
          posexplode(array((0 until 4).map(c =>
            shiftright(col("phash"), 14 * c).bitwiseAND(16383)): _*)).as(Seq("chunk_idx", "chunk")))
        val xorCol = col("x.phash").bitwiseXOR(col("y.phash"))
        val firstSharedChunk = (0 until 4).reverse.foldLeft(lit(-1)) { (acc, c) =>
          when(shiftright(xorCol, 14 * c).bitwiseAND(16383) === 0, lit(c)).otherwise(acc)
        }
        chunks.as("x")
          .join(chunks.as("y"),
            col("x.chunk_idx") === col("y.chunk_idx") && col("x.chunk") === col("y.chunk") &&
              col("x.doc_id") < col("y.doc_id"))
          .filter(col("x.chunk_idx") === firstSharedChunk)
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            bit_count(xorCol).as("hamming"))
          .filter(col("hamming") <= hamMax)
      },
      Some(s"""WITH ph AS (
             |  SELECT doc_id,
             |    xor(xor(xor(base,
             |      CASE WHEN nf > 0 THEN (CAST(1 AS BIGINT) << CAST(p0 AS INTEGER)) ELSE CAST(0 AS BIGINT) END),
             |      CASE WHEN nf > 1 THEN (CAST(1 AS BIGINT) << CAST(p1 AS INTEGER)) ELSE CAST(0 AS BIGINT) END),
             |      CASE WHEN nf > 2 THEN (CAST(1 AS BIGINT) << CAST(p2 AS INTEGER)) ELSE CAST(0 AS BIGINT) END) AS phash
             |  FROM (
             |    SELECT doc_id,
             |      ${h60Sql("concat('phb:', CAST(doc_id // 16 AS VARCHAR))")} % ${1L << 56} AS base,
             |      doc_id % 4 AS nf,
             |      ${h60Sql("concat('phf:', CAST(doc_id AS VARCHAR), ':0')")} % 56 AS p0,
             |      ${h60Sql("concat('phf:', CAST(doc_id AS VARCHAR), ':1')")} % 56 AS p1,
             |      ${h60Sql("concat('phf:', CAST(doc_id AS VARCHAR), ':2')")} % 56 AS p2
             |    FROM documents))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
             |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin),
      "Perceptual-hash image near-dup pairs: 56-bit phash (deterministic decode stand-in), 14-bit chunk buckets (pigeonhole-complete for hamming<=3), exact hamming verify — the multimodal dedup operator."
    )
  )
}
