package graft.layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout management for large parquet tables: the write-side half of
  * scan performance. At 100 TB the difference between a full scan and a
  * pruned one is the file layout, not the query plan:
  *
  *  - [[writeRangeClustered]] — global range partitioning + in-file sort
  *    on a key: every file covers a disjoint key range, so parquet footer
  *    min/max stats prune point/range scans to O(matching files).
  *  - [[compact]] — small-file compaction to a target file size: the
  *    file-count pathology of streaming/incremental ingest (N tiny files
  *    = N scheduler tasks + N footer reads + NameNode pressure) folded
  *    back to size-targeted files.
  *  - [[writeIvfClustered]] / [[writePartitionedIvf]] — IVF inverted lists
  *    clustered by cell under a versioned manifest, maintained in place by
  *    [[mergeIvfDelta]] / [[mergeIvfDeltaUpsert]], [[compactIvfInPlace]]
  *    and [[gcOrphans]].
  *
  * Everything here is metadata-driven on the driver (file listings,
  * manifests, footer stats) plus one distributed shuffle/write — no
  * collect of data rows.
  */
// Serializable: the merge's span-routing UDF references [[spanOwner]],
// which drags the module into the task closure (readResolve restores the
// singleton on deserialization; the object holds no state)
object Layout extends Serializable {

  /** Write `df` range-clustered on `sortCols` into `numFiles` files:
    * repartitionByRange gives disjoint per-file key ranges (sampled range
    * bounds), sortWithinPartitions makes row groups internally ordered so
    * page-level stats prune too.
    */
  def writeRangeClustered(df: DataFrame, path: String, sortCols: Seq[Column], numFiles: Int): Unit =
    df.repartitionByRange(numFiles, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").parquet(path)

  /** Compact a parquet directory to ~`targetFileBytes` files (driver-side
    * listing for sizes — metadata only). `coalesce` avoids a shuffle when
    * only merging; pass `shuffle=true` to also re-balance skewed files.
    *
    * A MANIFESTED input (an inverted-list layout) is compacted through its
    * live snapshot AND re-clustered on `cell` into a fresh manifested
    * layout at `outPath`: a plain coalesce would drop snapshot isolation
    * and — worse — interleave cell ranges across output files, silently
    * breaking the disjoint-span contract that merge routing and tombstone
    * anti-joins depend on (a victim row living outside its cell's owner
    * file would survive its own tombstone). The re-cluster costs one range
    * shuffle, which compaction of a merged layout needs anyway to fold
    * span-fragmented files back together.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long, shuffle: Boolean = false): Int = {
    // a manifest-committed layout must be sized and read through its LIVE
    // snapshot: the GC retention window keeps the previous version's
    // files on disk between merges, so a raw dir scan would double-count
    // every replaced file's rows into the compacted output
    val manifested = currentManifest(spark, inPath).isDefined
    val totalBytes =
      if (manifested) liveBytes(spark, inPath)
      else {
        val fs = fileSystem(spark, inPath)
        fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
      }
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (manifested) writeIvfClustered(readIvfLists(spark, inPath), outPath, n)
    else {
      val df = spark.read.parquet(inPath)
      val out = if (shuffle) df.repartition(n) else df.coalesce(n)
      out.write.mode("overwrite").parquet(outPath)
    }
    n
  }

  /** Write an assigned embedding corpus (`…, cell`) clustered by IVF cell
    * — the STORAGE half of the IVF index, i.e. the inverted lists
    * themselves: each parquet file covers a disjoint, contiguous cell
    * range (range shuffle + in-file sort on `cell`), so an nprobe-cell
    * query touches O(nprobe / cells-per-file) files through footer
    * min/max stats while every other file is skippable without reading a
    * row. Pair with the persisted codebook (`IvfCentroids.save`) and the
    * materialized corpus→cell assignment it clusters: at the capacity
    * geometry (1e10 vectors, 1e5 cells, ~512 MB files → ~6k files) a
    * 2-probe query maps to ≲ 2 files instead of a corpus scan — file
    * pruning does for ANN serving what partition pruning does for
    * date-ranged facts. Within a file, the `cell` sort keeps each
    * inverted list contiguous, so row-group stats prune inside the file
    * too.
    */
  def writeIvfClustered(assigned: DataFrame, path: String, numFiles: Int): Unit = {
    writeRangeClustered(assigned, path, Seq(col("cell")), numFiles)
    // seed the manifest snapshot (v1) with per-file min-cell stats read
    // from the parquet FOOTERS just written (metadata-only, O(files) —
    // never a data scan) plus the layout schema, so every later merge
    // routes its delta from the manifest alone — see readIvfLists
    val spark = assigned.sparkSession
    val fs = fileSystem(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val names = dataFileNames(fs, path)
    val mins = footerMins(conf, path, names)
    commitManifest(fs, path, 1L, names.map(n => ManifestEntry(n, Some(mins(n)))),
      Some(assigned.schema.json))
  }

  // ------------------------------------------------------------ manifest
  // Minimal table-format-style manifest for the inverted-list layout
  // (`_graft_manifest-<v>`, underscore-prefixed so raw parquet scans
  // ignore it), committed via tmp-write + atomic rename. Format v2:
  //
  //   #graft-manifest v2
  //   #schema <StructType.json>
  //   <file-name>\t<min-cell>
  //
  // The per-file min-cell line is the merge ROUTING TABLE: a delta fold
  // resolves which files it touches from the manifest alone — zero bytes
  // of data-file I/O for untouched files, including the routing step
  // (LayoutSpec corrupts an untouched file and merges past it). The
  // schema line lets readers reconstruct an EMPTY layout (a merge whose
  // tombstones retract every row commits a zero-file manifest).
  // Format v1 (bare names, round-12 layouts) still parses: entries carry
  // no min-cell and routing falls back to footer stats (metadata-only).
  //
  // Readers that resolve files through the manifest (readIvfLists) get
  // SNAPSHOT isolation across a concurrent mergeIvfDelta: every crash
  // window leaves either the old manifest (staged/renamed-in merged files
  // not yet listed) or the new one (replaced originals delisted before
  // they are deleted), never a state that lists a row twice or misses one.
  // LayoutSpec kills the writer at each stage boundary and pins this.
  //
  // RETENTION: GC keeps the PREVIOUS manifest version and every data file
  // it references (deleting only versions < v-1 and files referenced by
  // neither retained version), so a reader that resolved snapshot v-1
  // keeps all its files readable until the NEXT merge commits v+1 — one
  // full merge window of grace. A reader that holds a snapshot across
  // more than one concurrent merge must re-resolve and retry.

  /** One manifest line: a live data-file name plus its min-cell routing
    * stat (absent only when parsed from a format-v1 manifest).
    */
  private[graft] final case class ManifestEntry(name: String, lo: Option[Long])

  /** A manifest commit lost the optimistic-concurrency race: another
    * writer advanced the manifest head between this merge's snapshot read
    * and its commit point. The losing merge has ALREADY cleaned up its
    * staged files when this is thrown — BOTH loss points (the head check
    * after rename-in, and the exists-CAS inside the manifest commit) run
    * the same staged-file cleanup before the exception escapes — so the
    * committed snapshot is intact and the merge is safely retryable (a
    * re-run re-reads the new head).
    */
  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  /** Grace window before a sweep may delete ANOTHER writer's `.merge_swap-*`
    * staging dir or an unlisted data file (by modification time). Without
    * it, a winner's post-commit GC could rip a live concurrent writer's
    * staging out from under its Spark write or rename-in loop — that loser
    * was going to abort at the OCC check anyway, but it would die with an
    * arbitrary FS/task error instead of the clean retryable
    * [[ConcurrentCommitException]] the protocol promises.
    *
    * THREE DAYS, the table-format convention for orphan-file retention,
    * not a bound on any single write: staleness signals are heuristics
    * (a swap dir's liveness is read from the newest mtime in its TREE —
    * see [[sweepStaleSwaps]] — because renames into `graft_span=*`
    * subdirs leave the top-level mtime stale; renamed-in files are
    * re-touched at rename-in — [[renameInFresh]] — because `fs.rename`
    * preserves the staged write's mtime, which on a slow staged write
    * would put a LIVE merge's unlisted files past a short cutoff), and
    * the one hard correctness backstop is the committer's staged-file
    * re-verify ([[verifyStagedOrAbort]]): if a sweep ever does race a
    * live writer, the writer aborts clean-and-retryable instead of
    * committing a manifest that references deleted files. With
    * correctness pinned there, the grace trades only reclamation latency
    * against writer availability — and days-late reclamation of crashed
    * residue is the right side of that trade. Test seam: spec cases
    * shrink it to sweep deterministically.
    */
  @volatile private[graft] var swapGraceMs: Long = 3L * 24 * 60 * 60 * 1000L

  /** Newest modification time in a path's TREE (the path itself, every
    * file, every subdir): the staleness signal for staging dirs, where a
    * live Spark write lands files in `graft_span=*` subdirs without
    * touching the top-level dir's mtime (rename-out at the rename-in
    * stage likewise touches only the subdirs). Staging trees are tiny
    * (≤ spans × files), so the recursive walk is metadata-cheap.
    */
  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long =
    if (!st.isDirectory) st.getModificationTime
    else {
      // a concurrent sweeper (another gcOrphans / post-commit GC) may
      // delete an entry mid-walk; a vanished subtree counts as FRESH
      // (Long.MaxValue) so this sweeper skips it rather than failing a
      // merge whose manifest commit already succeeded — same "both sides
      // tolerate a missing target" contract as gcOrphans
      val children =
        try fs.listStatus(st.getPath).toIndexedSeq
        catch { case _: java.io.FileNotFoundException => return Long.MaxValue }
      (st.getModificationTime +: children.map(c => newestMtime(fs, c))).max
    }

  /** Delete `.merge_swap-*` staging dirs (and `.manifest_tmp-*` residue)
    * whose newest TREE mtime is older than [[swapGraceMs]] — shared by
    * every post-commit GC and by [[gcOrphans]]. Freshly created or
    * actively-written staging belongs to its own writer (abort path or a
    * later sweep). Returns the number of paths deleted.
    */
  private def sweepStaleSwaps(fs: org.apache.hadoop.fs.FileSystem, path: String): Int = {
    val cutoff = System.currentTimeMillis() - swapGraceMs
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count { st =>
      val n = st.getPath.getName
      val sweepable =
        (st.isDirectory && n.startsWith(".merge_swap")) ||
          (st.isFile && n.startsWith(".manifest_tmp"))
      // tolerate an entry vanishing between listStatus and here (a racing
      // sweeper already deleted it): losing the race is success, and an
      // exception must not propagate into a merge whose manifest commit
      // already succeeded
      try {
        if (sweepable && newestMtime(fs, st) < cutoff) {
          fs.delete(st.getPath, st.isDirectory); true
        } else false
      } catch { case _: java.io.FileNotFoundException => false }
    }
  }

  /** Rename a staged file into the layout dir AND re-touch its mtime to
    * NOW: `fs.rename` preserves the mtime from the staged Spark write, so
    * without the touch a merge whose staging took longer than the grace
    * window would rename in files that are ALREADY past a sweep cutoff —
    * an unlisted-but-live file a concurrent [[gcOrphans]] would delete in
    * the rename-in→commit window. Grace for unlisted files therefore
    * measures from rename-in, the moment the file actually enters the
    * layout dir. A filesystem that refuses setTimes leaves the original
    * mtime — the long default grace and the committer's re-verify
    * ([[verifyStagedOrAbort]]) still hold.
    */
  private def renameInFresh(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit = {
    fs.rename(src, dst)
    try fs.setTimes(dst, System.currentTimeMillis(), -1)
    catch { case _: Throwable => () }
  }

  /** The committer's HARD backstop against a GC race (grace windows are
    * heuristics): immediately before the manifest commit, every staged
    * file the new manifest will reference must still exist; if any is
    * gone — a sweep raced this writer through the rename-in→commit
    * window — run the caller's abort (delete this merge's remaining
    * staged files) and throw the clean retryable
    * [[ConcurrentCommitException]] instead of committing a corrupted
    * snapshot that lists deleted files.
    */
  private def verifyStagedOrAbort(fs: org.apache.hadoop.fs.FileSystem,
      listsPath: String, staged: Seq[String], abort: () => Unit): Unit = {
    val missing = staged.filterNot(n =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$listsPath/$n")))
    if (missing.nonEmpty) {
      abort()
      throw new ConcurrentCommitException(
        s"staged files vanished before commit at $listsPath (a concurrent " +
          s"sweep raced this writer): ${missing.mkString(", ")} — staged files cleaned, retry")
    }
  }

  private[graft] final case class ManifestSnapshot(version: Long,
      entries: Seq[ManifestEntry], schemaJson: Option[String]) {
    def names: Seq[String] = entries.map(_.name)
  }

  private def fileSystem(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def dataFileNames(fs: org.apache.hadoop.fs.FileSystem, path: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    // a missing dir is an EMPTY layout, not an error: the fresh-path merge
    // (no manifest, no files) must reach the empty-live-set branch
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toIndexedSeq.sorted
  }

  /** Span owner for a cell against ascending per-file min-cell bounds:
    * the last file whose lo <= c, clamped to the first. ONE definition
    * shared by merge routing and [[touchedFiles]] byte accounting — the
    * two must never disagree on which file owns a cell.
    */
  private def spanOwner(loBounds: Array[Long], c: Long): Int = {
    val idx = java.util.Arrays.binarySearch(loBounds, c)
    math.max(if (idx >= 0) idx else -idx - 2, 0) // insertion point - 1
  }

  private def manifestVersions(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toIndexedSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("_graft_manifest-"))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("_graft_manifest-").toLong -> st.getPath).toOption)
      .sortBy(_._1)
  }

  private def parseManifest(txt: String): (Seq[ManifestEntry], Option[String]) = {
    val lines = txt.split('\n').toIndexedSeq.filter(_.nonEmpty)
    val schema = lines.find(_.startsWith("#schema ")).map(_.stripPrefix("#schema "))
    val entries = lines.filterNot(_.startsWith("#")).map { l =>
      l.split('\t') match {
        case Array(n, lo) => ManifestEntry(n, Some(lo.toLong))
        case _            => ManifestEntry(l, None) // format v1: bare name
      }
    }
    (entries, schema)
  }

  private def loadManifest(fs: org.apache.hadoop.fs.FileSystem,
      v: Long, p: org.apache.hadoop.fs.Path): ManifestSnapshot = {
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val (entries, schema) = parseManifest(txt)
    ManifestSnapshot(v, entries, schema)
  }

  /** The newest manifest snapshot with routing stats and schema, or None
    * for a layout that predates the manifest.
    */
  private[graft] def readManifest(spark: SparkSession, path: String): Option[ManifestSnapshot] = {
    val fs = fileSystem(spark, path)
    manifestVersions(fs, path).lastOption.map { case (v, p) => loadManifest(fs, v, p) }
  }

  /** The snapshot versions currently readable — the newest plus whatever
    * the GC retention window kept (one previous version under the default
    * policy). Ordered ascending.
    */
  def retainedVersions(spark: SparkSession, path: String): Seq[Long] =
    manifestVersions(fileSystem(spark, path), path).map(_._1)

  /** Current manifest snapshot: (version, live data-file names), or None
    * for a layout that predates the manifest (readers fall back to a raw
    * dir listing — the pre-manifest behavior).
    */
  def currentManifest(spark: SparkSession, path: String): Option[(Long, Seq[String])] =
    readManifest(spark, path).map(m => m.version -> m.names)

  /** Commit manifest version `v`: write header + entry lines to a hidden
    * tmp file, then one atomic rename into place. A reader never observes
    * a half-written manifest — it sees version v-1 until the rename lands.
    *
    * OPTIMISTIC CONCURRENCY: version `v` doubles as the compare-and-swap
    * token — if `_graft_manifest-<v>` already exists, another writer
    * committed from the same snapshot first and this commit throws
    * [[ConcurrentCommitException]] instead of clobbering the winner
    * (on stores whose rename refuses an existing destination the rename
    * itself is the CAS; the exists-check fronts it for local FS, whose
    * POSIX rename would silently overwrite).
    */
  private def commitManifest(fs: org.apache.hadoop.fs.FileSystem, path: String,
      v: Long, entries: Seq[ManifestEntry], schemaJson: Option[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(s"$path/_graft_manifest-$v")
    if (fs.exists(target))
      throw new ConcurrentCommitException(
        s"manifest v$v already committed by a concurrent writer at $path")
    val header = Seq("#graft-manifest v2") ++ schemaJson.map(s => s"#schema $s")
    val body = entries.sortBy(e => (e.lo.getOrElse(Long.MinValue), e.name))
      .map(e => e.lo.fold(e.name)(lo => s"${e.name}\t$lo"))
    val tmp = new Path(s"$path/.manifest_tmp-$v")
    val out = fs.create(tmp, true)
    try out.write(((header ++ body).mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, target))
      sys.error(s"manifest commit failed: rename to _graft_manifest-$v")
  }

  /** Footer min-cell stats for many files, read CONCURRENTLY: each is a
    * ~KB metadata read, but the v1→v2 upgrade path touches every live
    * file once (~6k at capacity geometry) — serial against an object
    * store that's minutes of round-trips, fanned out it's seconds.
    * Each read is wrapped in `blocking{}` so the global pool spawns
    * threads past core count for the I/O waits (blocking I/O on bare
    * `Future` would cap fan-out at ~#cores), and the Await is BOUNDED:
    * a hung object-store read fails the merge loudly instead of
    * stalling the commit path forever.
    */
  private def footerMins(conf: org.apache.hadoop.conf.Configuration,
      path: String, names: Seq[String]): Map[String, Long] = {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // budget: a flat 2-minute floor plus ~100ms per file at full fan-out —
    // generous for metadata reads, finite for a wedged store
    val budget = (120 + names.size / 10).seconds
    try Await.result(
      Future.traverse(names)(n =>
        Future(blocking {
          n -> footerMinCell(conf, new org.apache.hadoop.fs.Path(s"$path/$n"))
        })),
      budget).toMap
    catch {
      case _: java.util.concurrent.TimeoutException =>
        sys.error(s"footer stat reads at $path exceeded $budget for ${names.size} files " +
          "— storage is wedged or severely degraded; merge aborted (retryable)")
    }
  }

  /** Min value of the `cell` column across a parquet file's row groups,
    * read from the FOOTER statistics — a ~KB metadata read, no data pages
    * touched. This is how routing stats are (re)derived for layouts whose
    * manifest predates format v2.
    */
  private def footerMinCell(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      var lo = Long.MaxValue
      r.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.toDotString == "cell") {
            val st = c.getStatistics
            if (st != null && st.hasNonNullValue) {
              val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
              if (mn < lo) lo = mn
            }
          }
        }
      }
      require(lo != Long.MaxValue, s"no cell footer statistics in $p")
      lo
    } finally r.close()
  }

  /** Read the inverted-list layout through its manifest snapshot — the
    * reader half of the merge commit protocol. Falls back to a raw dir
    * scan when no manifest exists (pre-manifest layouts). An EMPTY
    * manifest (every row retracted by tombstones) reads as an empty
    * DataFrame with the layout schema recorded at the last commit.
    */
  def readIvfLists(spark: SparkSession, path: String): DataFrame =
    readManifest(spark, path) match {
      case Some(m) => readSnapshot(spark, path, m)
      case None => spark.read.parquet(path)
    }

  private def readSnapshot(spark: SparkSession, path: String, m: ManifestSnapshot): DataFrame =
    if (m.entries.isEmpty) {
      val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson.getOrElse(
        sys.error(s"empty manifest without a schema line at $path")))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else spark.read.parquet(m.names.map(n => s"$path/$n"): _*)

  /** Predicate-PARTITIONED inverted lists — the LAYOUT answer to filtered
    * vector search (the v22/v23 operator pair): one independent,
    * manifest-committed, cell-clustered layout per value of `partCol`
    * (`<path>/<partCol>=<value>/`). A query with the predicate
    * `partCol = v` resolves to ONE subdirectory before any footer is
    * opened — directory-level pruning composing with per-file min-cell
    * pruning — and recall stops degrading with selectivity because every
    * probed cell now contains ONLY matching vectors (nprobe cells of the
    * v-partition ≡ nprobe cells of matches). Each partition maintains
    * independently: [[mergeIvfDelta]]/[[mergeIvfDeltaUpsert]] against its
    * own manifest, so a delta touching three labels is three O(delta)
    * merges, and a crash in one partition's commit is invisible to the
    * others. Partition cardinality must be BOUNDED (label vocabularies,
    * language codes, shards — the same constraint hive partitioning has);
    * the one driver-side distinct here is that cardinality. Returns the
    * partition values written.
    */
  def writePartitionedIvf(assigned: DataFrame, path: String, partCol: String,
      numFiles: Int): Seq[String] = {
    val rawValues = assigned.select(col(partCol)).distinct().collect()
    // a NULL partition value would silently vanish (the filter predicate
    // below a hive partition write is null-rejecting) — refuse loudly:
    // filtered search partitions on total predicate columns only
    require(!rawValues.exists(_.isNullAt(0)),
      s"writePartitionedIvf: $partCol contains NULL — partition on a non-null column")
    val values = rawValues.map(r => String.valueOf(r.get(0))).sorted.toIndexedSeq
    require(values.length <= 10000,
      s"writePartitionedIvf: $partCol has ${values.length} values — partition on a bounded-cardinality column")
    // ONE distributed job for every partition: range-shuffle on
    // (partCol, cell) into ~numFiles tasks per value, hive-split by
    // partCol at the sink — each task covers a contiguous (value, cell)
    // range, so per-partition files keep disjoint cell spans and the
    // corpus is read once, not once per value
    assigned
      .repartitionByRange(values.length * numFiles, col(partCol), col("cell"))
      .sortWithinPartitions(col(partCol), col("cell"))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)
    // seed each partition's own manifest from its freshly written footers
    val spark = assigned.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val schemaJson = assigned.drop(partCol).schema.json
    values.foreach { v =>
      val sub = partitionPath(path, partCol, v)
      val fs = fileSystem(spark, sub)
      val names = dataFileNames(fs, sub)
      require(names.nonEmpty, s"writePartitionedIvf: no data files under $sub — " +
        s"partition-dir escaping diverged from Spark's for value '$v'")
      val mins = footerMins(conf, sub, names)
      commitManifest(fs, sub, 1L, names.map(n => ManifestEntry(n, Some(mins(n)))),
        Some(schemaJson))
    }
    values
  }

  /** The on-disk subdirectory of one partition value, with the value
    * ESCAPED the way Spark's `partitionBy` sink escapes it
    * (ExternalCatalogUtils — '/', '=', '%', ':' etc. become %XX). Raw
    * interpolation would commit the manifest to (and read from) the
    * unescaped path while the data sits in the escaped one: the partition
    * would silently read empty and a later merge would fork a divergent
    * fresh partition.
    */
  private def partitionPath(path: String, partCol: String, value: String): String =
    s"$path/$partCol=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(value)

  /** Read ONE partition of a [[writePartitionedIvf]] layout through its
    * own manifest — the filtered-search read path: the predicate value
    * picks the subdirectory, the probe's `cell IN` filter prunes files
    * inside it, and no other partition contributes a single byte.
    */
  def readPartitionedIvf(spark: SparkSession, path: String, partCol: String,
      value: Any): DataFrame =
    readIvfLists(spark, partitionPath(path, partCol, String.valueOf(value)))

  /** The data files a probed cell set maps to, with their on-disk byte
    * sizes — the listing math a query router runs per batch at 100 TB:
    * each cell's owner file resolved from the manifest's min-cell spans
    * (the same binary search the merge routes with), deduplicated, sized
    * from file status. Metadata-only: no data page is read. Requires a
    * format-v2 manifest (any layout written or merged this round).
    */
  def touchedFiles(spark: SparkSession, path: String, cells: Seq[Long]): Seq[(String, Long)] = {
    val m = readManifest(spark, path).getOrElse(
      sys.error(s"touchedFiles requires a manifest at $path"))
    require(m.entries.forall(_.lo.isDefined), s"manifest at $path lacks min-cell stats (format v1)")
    val lows = m.entries.map(e => (e.name, e.lo.get)).sortBy(t => (t._2, t._1)).toIndexedSeq
    if (lows.isEmpty) return Seq.empty
    val loBounds = lows.map(_._2).toArray
    val fs = fileSystem(spark, path)
    cells.map(spanOwner(loBounds, _)).distinct.sorted.map { i =>
      val name = lows(i)._1
      name -> fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/$name")).getLen
    }
  }

  /** Total on-disk bytes of the live snapshot (manifest-listed files). */
  def liveBytes(spark: SparkSession, path: String): Long = {
    val fs = fileSystem(spark, path)
    readManifest(spark, path).map(_.names).getOrElse(dataFileNames(fs, path))
      .map(n => fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/$n")).getLen).sum
  }

  /** Incrementally fold a DELTA of newly assigned vectors (e.g. the
    * ingest path: `StreamingOps.assignVectors` → per-batch
    * parquet) into an existing inverted-list layout, rewriting ONLY the
    * files whose cell span the delta lands in. At the capacity geometry
    * an ingest batch lands in a small cell subset; a full
    * [[writeIvfClustered]] re-run would rewrite the entire corpus (100 TB
    * of I/O for a GB of delta), while this touches
    * O(delta cells / cells-per-file) files + the delta itself — the same
    * economics [[compact]] gives the small-file pathology, applied to
    * index maintenance.
    *
    * Routing rule (driver-side, metadata-only): files sorted by their
    * min cell — read straight from the MANIFEST's per-file stats (v2
    * format; v1/pre-manifest layouts re-derive them from parquet footer
    * stats, still metadata-only) — partition the cell axis into half-open
    * spans `[lo_i, lo_{i+1})` (the first span extended down, the last
    * up); a delta row joins the file owning its cell's span. No data page
    * of ANY file is read for routing, so the merge's data I/O is exactly
    * the touched files plus the delta. The rewrite is ONE
    * distributed job regardless of how many files the delta touches: the
    * touched files' resident rows ∪ the whole delta, each row routed to
    * its owner span (binary search over the lo bounds — file rows map to
    * their own span because per-file cell ranges are disjoint), hash-
    * repartitioned by span, (span, cell)-sorted, and written as ONE
    * dynamic-partition job into a hidden swap dir (`graft_span=i/` → one
    * cell-sorted file per touched span). Only then does the driver commit:
    * per span, rename the merged file in and delete the original — pure
    * metadata. Per-file spans can only extend into the gap before the
    * next file's min, so the disjoint-ranges contract that footer pruning
    * relies on survives by construction, and untouched files are not read
    * and not rewritten (the spec pins byte-identity).
    *
    * Driver-side work: one manifest read (file-count lines) + the
    * delta's distinct cells (≤ numCells rows) + O(touched) renames.
    * Data rows never collect.
    *
    * CONCURRENCY CONTRACT — single writer; readers resolve files through
    * the MANIFEST ([[readIvfLists]]) and get snapshot isolation: the
    * commit sequence is (1) stage the merged span files in a hidden swap
    * dir, (2) rename them into the lists dir (not yet listed — manifest
    * readers still see the old snapshot), (3) commit manifest v+1 via one
    * atomic rename (the COMMIT POINT: readers atomically switch to the
    * new file set, which delists the replaced originals), (4) garbage-
    * collect with a ONE-VERSION retention window: the previous manifest
    * and every data file it references survive this merge's GC, so a
    * reader that resolved snapshot v-1 before the commit keeps all its
    * files readable until the NEXT merge commits v+1; only manifests
    * < v-1 and data files referenced by neither retained version are
    * deleted. A reader holding one snapshot across MORE than one
    * concurrent merge must re-resolve and retry. A writer crash at any stage
    * boundary leaves a manifest that lists each row exactly once
    * (LayoutSpec kills the writer at each boundary and pins this); the
    * only residue is unreferenced garbage files, swept by the next
    * successful merge's GC or a manual prune. A RAW `spark.read.parquet
    * (dir)` scan is WRONG on a merged layout at all times, not just in a
    * crash window: the retention policy deliberately keeps the previous
    * snapshot's replaced files on disk until the NEXT merge, so a raw
    * scan double-counts them for the whole inter-merge interval. Every
    * consumer must resolve through [[readIvfLists]] ([[compact]] does). Returns
    * (filesRewritten, filesTotal).
    */
  def mergeIvfDelta(spark: SparkSession, listsPath: String, delta: DataFrame): (Int, Int) =
    mergeIvfDeltaStaged(spark, listsPath, delta, _ => ())

  /** [[mergeIvfDelta]] with SUPERSEDE: fold the delta in AND drop the
    * superseded/removed vectors in the same staged commit. `tombstones`
    * is a `(vec_id, cell)` frame naming each victim row by primary key
    * plus the cell it RESIDES in — the coordinates the incremental
    * pipeline already has (the pk→cell catalog is a slim two-column
    * snapshot maintained beside the index, bucketed by vec_id like u6's
    * snapshots; a changed doc's victim cell is yesterday's assignment).
    * Carrying the cell keeps the victim lookup a file-local anti-join
    * inside the touched-span rewrite instead of a corpus-wide vec_id
    * probe: touched files = owners of delta cells ∪ tombstone cells,
    * still O(delta), and untouched files are still never read.
    *
    * Semantics: resident rows matching a tombstone (vec_id, cell) are
    * dropped; delta rows are appended UNFILTERED (a same-cell edit lands
    * as drop-old + add-new even though both share (vec_id, cell), because
    * only RESIDENT rows are anti-joined). An empty delta with non-empty
    * tombstones is a pure delete (a removed doc's retraction). The
    * commit/crash contract is [[mergeIvfDelta]]'s unchanged — tombstone
    * application happens inside the staged rewrite, so readers switch
    * from the full old snapshot to the full new one atomically
    * (LayoutSpec pins the upsert crash window too).
    */
  def mergeIvfDeltaUpsert(spark: SparkSession, listsPath: String, delta: DataFrame,
      tombstones: DataFrame): (Int, Int) =
    mergeIvfDeltaStaged(spark, listsPath, delta, _ => (), Some(tombstones))

  /** IN-PLACE compaction of a manifested inverted-list layout — the
    * table-format "optimize" operation incremental ingest needs. Every
    * [[mergeIvfDelta]] leaves one merged file per touched span, so a
    * daily-merged layout fragments toward many sub-target files (more
    * footer reads and scheduler tasks per probe, NameNode pressure);
    * [[compact]]-to-a-new-path fixes the files but breaks serving
    * continuity (every reader must switch paths). This folds the LIVE
    * snapshot back to ~`targetFileBytes` files through the SAME staged
    * commit protocol the merge uses — re-cluster on `cell` into a hidden
    * swap dir, rename in (unlisted: readers still see the old snapshot),
    * OCC head check, commit manifest v+1 listing ONLY the compacted
    * files, GC with the one-version retention window — so readers never
    * change paths: one resolved on snapshot v keeps every file through
    * the compaction, one resolving after the commit sees the compacted
    * set. Same rows, fewer files, disjoint cell spans restored at full
    * width (daily merges only ever split spans; compaction is what heals
    * them). Crash contract identical to the merge's: any boundary crash
    * leaves a manifest listing each row exactly once, residue swept by
    * the next successful commit. Returns (filesBefore, filesAfter).
    */
  def compactIvfInPlace(spark: SparkSession, listsPath: String,
      targetFileBytes: Long): (Int, Int) =
    compactIvfInPlaceStaged(spark, listsPath, targetFileBytes, _ => ())

  private[graft] def compactIvfInPlaceStaged(spark: SparkSession, listsPath: String,
      targetFileBytes: Long, onStage: String => Unit): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val fs = fileSystem(spark, listsPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val manifest = readManifest(spark, listsPath).getOrElse(
      sys.error(s"compactIvfInPlace requires a manifested layout at $listsPath " +
        "(pre-manifest layouts: use compact to a new path, or merge once to seed one)"))
    val nextVersion = manifest.version + 1
    val liveNames = manifest.names
    require(liveNames.nonEmpty, s"compactIvfInPlace: empty layout at $listsPath")
    val totalBytes = liveNames.map(n =>
      fs.getFileStatus(new Path(s"$listsPath/$n")).getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // (1) stage: the live snapshot re-clustered on cell (one range
    // shuffle) into a hidden swap dir — the same write writeIvfClustered
    // does, but against the MANIFEST's file set, never a raw dir scan
    val df = spark.read.parquet(liveNames.map(nm => s"$listsPath/$nm"): _*)
    val swap = s"$listsPath/.merge_swap-${System.nanoTime()}"
    df.repartitionByRange(n, col("cell"))
      .sortWithinPartitions(col("cell"))
      .write.mode("overwrite").parquet(swap)
    onStage("staged")
    // (2) rename in; per-file min-cell routing stats come from the fresh
    // footers (metadata-only, O(new files))
    val swapDir = new Path(swap)
    val newNames =
      (if (fs.exists(swapDir)) fs.listStatus(swapDir) else Array.empty[org.apache.hadoop.fs.FileStatus])
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).zipWithIndex.map { case (st, j) =>
          val name = s"compacted-${System.nanoTime()}-$j.parquet"
          renameInFresh(fs, st.getPath, new Path(s"$listsPath/$name"))
          name
        }.toIndexedSeq
    val mins = footerMins(conf, listsPath, newNames)
    onStage("renamed_in")
    // OCC: a concurrent merge/compaction won the head — abort and clean
    // (same contract as the merge; commitManifest's exists-CAS backstops)
    def abortStaged(): Unit = {
      newNames.foreach(nm => fs.delete(new Path(s"$listsPath/$nm"), false))
      fs.delete(swapDir, true)
    }
    val headNow = manifestVersions(fs, listsPath).lastOption.map(_._1)
    if (!headNow.contains(manifest.version)) {
      abortStaged()
      throw new ConcurrentCommitException(
        s"manifest head at $listsPath moved to $headNow (expected " +
          s"${manifest.version}) during compaction — staged files cleaned, retry")
    }
    onStage("head_checked")
    // staged files must all still exist at the commit point (GC-race
    // backstop; see verifyStagedOrAbort)
    verifyStagedOrAbort(fs, listsPath, newNames, () => abortStaged())
    onStage("staged_verified")
    // (3) COMMIT: the new manifest lists only the compacted files. The
    // exists-CAS loss inside commitManifest runs the SAME cleanup as the
    // head-check abort — the exception's cleaned-up contract holds at both
    // loss points.
    try commitManifest(fs, listsPath, nextVersion,
      newNames.map(nm => ManifestEntry(nm, Some(mins(nm)))),
      manifest.schemaJson.orElse(Some(df.schema.json)))
    catch { case e: ConcurrentCommitException => abortStaged(); throw e }
    onStage("manifest_committed")
    // (4) GC: retain this version and the previous (a reader on snapshot
    // v keeps its files through the compaction); sweep everything else
    val retained = newNames.toSet ++ liveNames
    dataFileNames(fs, listsPath).filterNot(retained)
      .foreach(nm => fs.delete(new Path(s"$listsPath/$nm"), false))
    manifestVersions(fs, listsPath).filter(_._1 < nextVersion - 1)
      .foreach { case (_, p) => fs.delete(p, false) }
    // this compaction's own staging is already renamed away; other swap
    // dirs are swept only past the grace window (a LIVE concurrent
    // writer's staging must survive until its own OCC abort)
    fs.delete(swapDir, true)
    sweepStaleSwaps(fs, listsPath)
    onStage("gc_done")
    (liveNames.size, newNames.size)
  }

  /** [[mergeIvfDelta]] with a stage hook for crash-window testing:
    * `onStage` fires at each commit-stage boundary ("staged",
    * "renamed_in", "manifest_committed", "gc_done"); a hook that throws
    * simulates a writer killed at exactly that boundary.
    */
  private[graft] def mergeIvfDeltaStaged(spark: SparkSession, listsPath: String,
      delta: DataFrame, onStage: String => Unit,
      tombstones: Option[DataFrame] = None): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val fs = fileSystem(spark, listsPath)
    val conf = spark.sparkContext.hadoopConfiguration
    // live file set from the manifest snapshot (fallback: dir listing for
    // pre-manifest layouts); all reads below go through these names, so a
    // previous crashed merge's unreferenced garbage is never re-read
    val manifest = readManifest(spark, listsPath)
    val liveNames = manifest.map(_.names).getOrElse(dataFileNames(fs, listsPath))
    val nextVersion = manifest.map(_.version + 1).getOrElse(1L)
    // per-file min cell — the delta ROUTING TABLE. A v2 manifest carries
    // it outright (zero I/O); v1/pre-manifest layouts re-derive it from
    // parquet FOOTER stats (O(files) ~KB metadata reads). Either way no
    // data page of any file — touched or not — is read for routing.
    val lows: IndexedSeq[(String, Long)] = (manifest match {
      case Some(m) if m.entries.nonEmpty && m.entries.forall(_.lo.isDefined) =>
        m.entries.map(e => (e.name, e.lo.get))
      case _ =>
        val mins = footerMins(conf, listsPath, liveNames)
        liveNames.map(n => (n, mins(n)))
    }).sortBy(t => (t._2, t._1)).toIndexedSeq
    val deltaCells = delta.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    // tombstone cells join the touched set: a victim's file must be
    // rewritten even when no new vector lands in it (pure retraction)
    val tombCells = tombstones.map(_.select(col("cell")).distinct()
      .collect().map(_.getLong(0))).getOrElse(Array.empty[Long])
    require(deltaCells.nonEmpty || tombCells.nonEmpty,
      "mergeIvfDelta: empty delta" + (if (tombstones.isDefined) " and tombstones" else ""))
    // span owner: last file whose lo <= c (clamped to the first file)
    val loBounds = lows.map(_._2).toArray
    def owner(c: Long): Int = spanOwner(loBounds, c)
    // an EMPTY live set (fresh path, or every row previously retracted)
    // has no spans: the whole delta lands as span 0, tombstones are no-ops
    val touched =
      if (lows.isEmpty) Array.empty[Int]
      else (deltaCells ++ tombCells).map(owner).distinct.sorted
    // layout schema: the manifest's recorded schema, else (v1 manifests)
    // the touched files', else — fresh/empty layout — the delta's own
    val schema: org.apache.spark.sql.types.StructType = manifest.flatMap(_.schemaJson)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .orElse(if (touched.nonEmpty)
        Some(spark.read.parquet(s"$listsPath/${lows(touched.head)._1}").schema) else None)
      .getOrElse(delta.schema)
    val baseCols = schema.fieldNames.toIndexedSeq
    // the one distributed job: resident rows of touched files (minus any
    // tombstoned victims — a broadcast anti-join on the victim's exact
    // (vec_id, cell) coordinates; delta-sized, never corpus-sized) ∪
    // delta, routed to owner spans executor-side by the same binary search
    val spanOf = udf { (c: Long) => owner(c) }
    val resident: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        val raw = spark.read.parquet(touched.map(i => s"$listsPath/${lows(i)._1}").toIndexedSeq: _*)
          .select(baseCols.map(col): _*)
        Some(tombstones match {
          case Some(t) => raw.join(
              broadcast(t.select(col("vec_id"), col("cell"))), Seq("vec_id", "cell"), "left_anti")
            .select(baseCols.map(col): _*) // join fronts its keys; keep file column order stable
          case None => raw
        })
      }
    val deltaBase = delta.select(baseCols.map(col): _*)
    val combined = resident.fold(deltaBase)(_.unionByName(deltaBase))
      .withColumn("graft_span", spanOf(col("cell")))
    // dot-dir: invisible to parquet scans; nanoTime-unique so two racing
    // writers never clobber each other's staging (the loser aborts at the
    // commit CAS below, but its staged files must survive until then)
    val swap = s"$listsPath/.merge_swap-${System.nanoTime()}"
    combined.repartition(math.max(touched.length, 1), col("graft_span"))
      .sortWithinPartitions(col("graft_span"), col("cell"))
      .write.mode("overwrite").partitionBy("graft_span").parquet(swap)
    onStage("staged")
    // (2) rename merged files in — present on disk, absent from the
    // manifest, so manifest readers still see the old snapshot. A touched
    // span can legitimately produce NO merged file (every resident row
    // tombstoned, no delta landing there): the original is simply
    // delisted at the manifest commit below. Each merged file's manifest
    // min-cell = its span's lo, extended down by any delta cell the span
    // clamped in (only span 0 can extend; spans stay disjoint).
    val deltaMinOwned: Map[Int, Long] =
      deltaCells.groupBy(c => if (lows.isEmpty) 0 else owner(c))
        .map { case (i, cs) => i -> cs.min }
    def spanLo(i: Int): Long =
      if (lows.isEmpty) deltaMinOwned.getOrElse(0, 0L)
      else deltaMinOwned.get(i).fold(lows(i)._2)(math.min(_, lows(i)._2))
    val mergedEntries = Seq.newBuilder[ManifestEntry]
    val swapDir = new Path(swap)
    (if (fs.exists(swapDir)) fs.listStatus(swapDir) else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("graft_span="))
      .sortBy(_.getPath.getName).foreach { d =>
        val i = d.getPath.getName.stripPrefix("graft_span=").toInt
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          .zipWithIndex.foreach { case (st, j) =>
            val name = s"merged-${System.nanoTime()}-$i-$j.parquet"
            renameInFresh(fs, st.getPath, new Path(s"$listsPath/$name"))
            mergedEntries += ManifestEntry(name, Some(spanLo(i)))
          }
      }
    onStage("renamed_in")
    // OPTIMISTIC-CONCURRENCY CHECK: if another writer advanced the
    // manifest head since this merge's snapshot read, committing would
    // delist the winner's merged files and resurrect its replaced ones —
    // abort instead: delete this merge's own staged/renamed-in files
    // (unlisted, so no reader ever saw them) and throw retryable. The
    // exists-CAS inside commitManifest backstops the narrow window
    // between this check and the rename.
    def abortStaged(): Unit = {
      mergedEntries.result().foreach(e =>
        fs.delete(new Path(s"$listsPath/${e.name}"), false))
      fs.delete(swapDir, true)
    }
    val headNow = manifestVersions(fs, listsPath).lastOption.map(_._1)
    if (headNow != manifest.map(_.version)) {
      abortStaged()
      throw new ConcurrentCommitException(
        s"manifest head at $listsPath moved to $headNow (expected " +
          s"${manifest.map(_.version)}) during the merge — staged files cleaned, retry")
    }
    onStage("head_checked")
    // staged files must all still exist at the commit point (GC-race
    // backstop; see verifyStagedOrAbort)
    verifyStagedOrAbort(fs, listsPath, mergedEntries.result().map(_.name), () => abortStaged())
    onStage("staged_verified")
    // (3) COMMIT: manifest v+1 = live − replaced + merged, one atomic
    // rename — the instant readers switch snapshots. Losing the
    // exists-CAS inside commitManifest runs the SAME cleanup as the
    // head-check abort before the exception escapes (the exception's
    // cleaned-up contract holds at both loss points).
    val replacedNames = touched.map(i => lows(i)._1).toSet
    val keptRaw = manifest.map(_.entries).getOrElse(liveNames.map(ManifestEntry(_, None)))
      .filterNot(e => replacedNames(e.name))
    // v1 entries kept across a v2 commit get their routing stat
    // backfilled from footers (concurrent), so the NEXT merge routes
    // manifest-only
    val backfill = footerMins(conf, listsPath, keptRaw.filter(_.lo.isEmpty).map(_.name))
    val keptEntries = keptRaw.map(e =>
      if (e.lo.isDefined) e else e.copy(lo = Some(backfill(e.name))))
    val newEntries = keptEntries ++ mergedEntries.result()
    try commitManifest(fs, listsPath, nextVersion, newEntries, Some(schema.json))
    catch { case e: ConcurrentCommitException => abortStaged(); throw e }
    onStage("manifest_committed")
    // (4) GC with a ONE-VERSION retention window: keep the previous
    // manifest and every data file it references (a reader that resolved
    // snapshot v-1 keeps its files through this merge); delete manifests
    // < v-1 and data files referenced by NEITHER retained version — which
    // sweeps both the now-twice-superseded originals and any residue a
    // previously crashed merge renamed in but never listed
    val retained = newEntries.map(_.name).toSet ++ liveNames
    dataFileNames(fs, listsPath).filterNot(retained)
      .foreach(n => fs.delete(new Path(s"$listsPath/$n"), false))
    manifestVersions(fs, listsPath).filter(_._1 < nextVersion - 1)
      .foreach { case (_, p) => fs.delete(p, false) }
    // this merge's own staging is already renamed away; OTHER writers'
    // swap dirs are swept only past the grace window — a LIVE concurrent
    // loser's staging must survive until its own OCC abort (ripping it out
    // mid-write would turn its clean retryable ConcurrentCommitException
    // into an arbitrary FS/task failure), while a crashed writer's staging
    // outlives the grace and is reclaimed here or by [[gcOrphans]]
    fs.delete(swapDir, true)
    sweepStaleSwaps(fs, listsPath)
    onStage("gc_done")
    (touched.length, lows.length)
  }

  /** STANDALONE crash-orphan GC — reclaim residue no manifest references
    * WITHOUT waiting for the next successful commit: a writer killed
    * between rename-in and commit leaks `merged-*`/`compacted-*` data
    * files that are invisible to every reader (never listed) but hold
    * bytes until the next merge's GC; a maintenance scheduler runs this
    * sweep on its own cadence instead. Deletes, past the [[swapGraceMs]]
    * grace window (modification time — freshly staged files may belong to
    * a LIVE writer that has not reached its commit point):
    *
    *   - data files referenced by NO retained manifest version (the same
    *     retention rule the post-commit GC applies: the head and its
    *     predecessor keep every file they list, so a reader pinned to
    *     either retained snapshot is unaffected),
    *   - stale `.merge_swap-*` staging dirs and `.manifest_tmp-*` residue,
    *   - manifest versions below head−1 (composing with the snapshot-GC
    *     retention policy).
    *
    * Pre-manifest layouts are left untouched (a raw dir has no liveness
    * metadata to distinguish orphans). Returns the number of paths
    * deleted. Safe to run concurrently with readers (only unreferenced
    * paths are touched) and with writers (grace window; a racing writer's
    * own commit-time GC deleting the same orphan first is benign — both
    * sides tolerate a missing target).
    */
  def gcOrphans(spark: SparkSession, path: String): Int = {
    import org.apache.hadoop.fs.Path
    val fs = fileSystem(spark, path)
    val versions = manifestVersions(fs, path)
    if (versions.isEmpty) return 0
    val head = versions.last._1
    val retainedManifests = versions.filter(_._1 >= head - 1)
    val referenced = retainedManifests
      .flatMap { case (v, p) => loadManifest(fs, v, p).names }.toSet
    val cutoff = System.currentTimeMillis() - swapGraceMs
    val dir = new Path(path)
    var deleted = 0
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") && !referenced(n)
          && st.getModificationTime < cutoff) {
        fs.delete(st.getPath, false); deleted += 1
      }
    }
    versions.filter(_._1 < head - 1).foreach { case (_, p) =>
      fs.delete(p, false); deleted += 1
    }
    deleted + sweepStaleSwaps(fs, path)
  }
}
