package graft.vlm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Frame-corpus sources and sinks (SURVEY.md §2.1 / §2.2).
  *
  * S1 — the unified-JSON corpus scan (QA_generation/utils/data_loader.py:
  * 18-53): recursive directory walk, `summary.json` exclusion, source-path
  * tagging, optional limit. Schema is *declared* ([[FrameSchema.frameType]]),
  * never inferred, so the reader is one pass and column-prunable.
  *
  * K1 — partitioned corpus write (data_processing/utils.py:181-185): the
  * reference's one-JSON-file-per-frame becomes per-partition JSON files
  * under dataset/split Hive-style directories — content parity, scalable
  * layout (SURVEY §4, "nonstandard physical concern").
  */
object Ingest {

  private val NotSummary = !input_file_name().endsWith("summary.json")

  /** One shared S1 scan (schema, recursive lookup, optional corrupt-record
    * capture) so the plain / strict / audit variants can't drift apart. */
  private def frameScan(spark: SparkSession, dir: String, withCorrupt: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema =
      if (withCorrupt)
        StructType(FrameSchema.frameType.fields :+ StructField("_corrupt_record", StringType))
      else FrameSchema.frameType
    val reader = spark.read.schema(schema).option("recursiveFileLookup", "true")
    (if (withCorrupt) reader.option("columnNameOfCorruptRecord", "_corrupt_record")
     else reader).json(dir)
  }

  /** S1: read a unified-JSON corpus directory into frame records. */
  def readFrames(spark: SparkSession, dir: String, limit: Option[Int] = None): DataFrame = {
    val df = frameScan(spark, dir, withCorrupt = false)
      .withColumn("_source_file", input_file_name())
      .filter(NotSummary)
    limit.fold(df)(df.limit)
  }

  /** S1 under an explicit malformed-input policy: the default PERMISSIVE
    * read silently turns a corrupt document into an all-null row — at
    * corpus scale an unfindable data-loss mode (the reference's per-file
    * `json.load` would at least crash). This variant fails the job on the
    * first malformed FRAME document. Not reader-level FAILFAST, which
    * would fire on `summary.json` (multi-line per the reference's
    * json.dump) BEFORE the path exclusion runs: the corrupt check is one
    * And-guarded predicate behind the exclusion, so excluded files can
    * never trip it.
    *
    * Scope under column pruning (the precise contract): malformed JSON
    * (unparseable document) ALWAYS fails, whatever the consumer projects.
    * Per-FIELD type corruption in a well-formed document is detected for
    * exactly the fields the consuming plan references — pruned fields are
    * never parsed, so their corruption is invisible (and also cannot reach
    * any produced result). I.e. every value a downstream plan can observe
    * is either schema-valid or the job fails; fields nobody reads are not
    * validated. For a full-schema validation pass regardless of the
    * consumer's projection, run [[auditFrames]] (it parses every field and
    * reports per-file corrupt counts) — deliberately a separate audit scan
    * rather than a pruning-defeating default, which would force a
    * full-schema parse on every 2-column query at 100 TB.
    */
  def readFramesStrict(spark: SparkSession, dir: String, limit: Option[Int] = None): DataFrame = {
    val df = frameScan(spark, dir, withCorrupt = true)
      .withColumn("_source_file", input_file_name())
      .filter(NotSummary &&
        when(col("_corrupt_record").isNotNull,
          raise_error(concat(
            lit("malformed frame document in "), input_file_name(),
            // the real column in the message doubles as the reason this
            // plan stays legal when a caller prunes every frame field
            // (count() etc.): Spark rejects JSON scans whose referenced
            // columns are only the corrupt-record column
            lit(" (last parsed image_id="),
            coalesce(col("image_id"), lit("none")), lit(")")))).isNull)
      .drop("_corrupt_record")
    limit.fold(df)(df.limit)
  }

  /** Per-file corruption audit: `(file, bytes, rows, corrupt_rows,
    * sample_image_id, content_hash)` for EVERY file in the corpus —
    * full-schema (the checksum references every frame field, defeating
    * column pruning, so corrupt_rows counts type corruption in ANY field,
    * unlike a pruned read path) — including zero-record
    * files (a truncated-to-empty document yields no parsed rows at all, so
    * a parse-side-only audit would silently omit exactly the fully-lost
    * files it exists to find; the binaryFile listing side reads paths and
    * lengths only, never content). One parse scan + one listing, counts
    * only — metadata-scale output no matter how large the corpus.
    */
  def auditFrames(spark: SparkSession, dir: String): DataFrame = {
    // The listing side must come from the filesystem, not a Spark scan:
    // scan planning assigns zero-byte files no input splits, so every
    // file-based source (json, binaryFile, text) is structurally blind to
    // exactly the fully-lost files this audit exists to find. A recursive
    // FS walk is the same metadata pass Spark's own file index performs
    // for any read of the directory.
    import spark.implicits._
    // normalize the parse side to the listing's bare /path form
    // (input_file_name() renders file:///...)
    def bare(c: org.apache.spark.sql.Column) = regexp_replace(c, "^file:/+", "/")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    while (it.hasNext) {
      val st = it.next()
      listing += ((st.getPath.toUri.getPath, st.getLen))
    }
    val files = listing.toSeq.toDF("file", "bytes")
      .filter(!col("file").endsWith("summary.json"))
    val parsed = frameScan(spark, dir, withCorrupt = true)
      .filter(NotSummary)
      .groupBy(bare(input_file_name()).as("file"))
      .agg(
        count(lit(1)).as("rows"),
        count(col("_corrupt_record")).as("corrupt_rows"),
        // a real data column in the OUTPUT is load-bearing twice over: a
        // triage anchor for the flagged file, and the reason the scan is
        // legal at all (Spark rejects JSON scans whose referenced columns
        // are only the corrupt-record column; an unreferenced aggregate
        // would be pruned back into that error)
        first(col("image_id"), ignoreNulls = true).as("sample_image_id"),
        // order-independent per-file checksum over EVERY frame field. The
        // column references are the point as much as the value: JSON parsing
        // is pruned to referenced columns, and PERMISSIVE only flags
        // per-field type corruption in fields it actually parses — this
        // audit's corrupt_rows must reflect the FULL schema, not whichever
        // two columns this aggregation happens to touch (readFramesStrict's
        // scaladoc documents that narrower read-path contract)
        bit_xor(xxhash64(FrameSchema.frameType.fieldNames.map(col).toIndexedSeq: _*))
          .as("content_hash"))
    files.join(parsed, Seq("file"), "left")
      .select(col("file"), col("bytes"),
        coalesce(col("rows"), lit(0L)).as("rows"),
        coalesce(col("corrupt_rows"), lit(0L)).as("corrupt_rows"),
        col("sample_image_id"), col("content_hash"))
  }

  /** K1: snapshot write partitioned by dataset/split. Partitioning uses
    * COPIES of the two columns (`dataset_p`/`split_p` directories):
    * `partitionBy` strips its columns from the payload, and the S1 reader
    * (declared schema + recursive lookup, which disables partition-column
    * inference) must recover every frame field from the JSON itself.
    * Selective reads therefore target partitions by PATH
    * (`readFrames(spark, s"$dir/dataset_p=coco")`), not by a filter on the
    * recovered columns.
    */
  def writeFrames(frames: DataFrame, outDir: String): Unit =
    frames
      .drop("_source_file")
      .withColumn("dataset_p", col("dataset"))
      .withColumn("split_p", col("split"))
      .write
      .mode("overwrite")
      .partitionBy("dataset_p", "split_p")
      .json(outDir)
}
