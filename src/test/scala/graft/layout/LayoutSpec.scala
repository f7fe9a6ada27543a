package graft.layout

import graft.vlm.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // via Tables.events so ts is the engine-internal epoch-micros long
  // regardless of the parquet's physical timestamp encoding
  private def events: DataFrame =
    graft.Tables.events(spark, "/root/testdata/sf0.001")

  private def tmp(name: String): String = {
    val d = tempDir(s"graft-layout-$name")
    d.toFile.deleteOnExit()
    s"$d/out"
  }

  /** Per-output-file (min, max) of a column, via input_file_name. */
  private def fileRanges(path: String, c: String): Seq[(Double, Double)] =
    dfFileRanges(spark.read.parquet(path), c)

  private def dfFileRanges(df: DataFrame, c: String): Seq[(Double, Double)] =
    df.groupBy(input_file_name())
      .agg(min(col(c).cast("double")).as("lo"), max(col(c).cast("double")).as("hi"))
      .select($"lo", $"hi").as[(Double, Double)].collect().toSeq

  /** File ranges of the LIVE snapshot only — post-merge the directory
    * also holds the retained previous version's files (GC retention),
    * which a manifest reader never sees.
    */
  private def liveFileRanges(path: String, c: String): Seq[(Double, Double)] =
    dfFileRanges(Layout.readIvfLists(spark, path), c)

  test("writeRangeClustered: disjoint per-file key ranges, rows preserved") {
    val path = tmp("range")
    Layout.writeRangeClustered(events, path, Seq(col("ts")), numFiles = 8)
    assert(spark.read.parquet(path).count() === events.count())
    val ranges = fileRanges(path, "ts").sortBy(_._1)
    assert(ranges.size >= 2 && ranges.size <= 8)
    // each file's range ends before the next begins: footer min/max stats
    // prune a point/range query to the matching files only
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $ranges")
      case _                      =>
    }
  }

  test("writeIvfClustered: inverted-list layout — probe cells map to a bounded file subset") {
    // real corpus→cell assignment: capped seed codebook + the engine's
    // preset-dispatched assignment (sf0.001 = 500 vectors, 15 cells)
    val quantized = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), graft.functions.quantizeVec(col("embedding"), 1000).as("q"))
    val cent = graft.queries.IvfCentroids.cappedSeed(quantized, 1000)
    val assigned = graft.queries.IvfCentroids.assign(quantized, cent, Seq("q"))
    val path = tmp("ivf")
    Layout.writeIvfClustered(assigned, path, numFiles = 8)
    assert(spark.read.parquet(path).count() === assigned.count())

    val ranges = fileRanges(path, "cell").sortBy(_._1)
    assert(ranges.size >= 2)
    // disjoint per-file cell ranges: the inverted-list contract
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $ranges")
      case _                      =>
    }
    // an nprobe=2 probe set touches at most 2 files per probed cell
    // (boundary cells can straddle two); every other file is skippable
    // from footer stats alone, without reading a row
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(cells.length >= 4, s"degenerate fixture: ${cells.length} cells")
    val probes = cells.take(2)
    val touched = ranges.count { case (lo, hi) => probes.exists(c => c >= lo && c <= hi) }
    assert(touched <= 4 && touched < ranges.size,
      s"probe set $probes touches $touched of ${ranges.size} files")
  }

  test("writeIvfClustered: pushed cell filter skips row groups — measured by scan metrics") {
    // the pruning claim asserted from the parquet scan's OWN counters, not
    // listing math: numOutputRows on the leaf scan counts rows surviving
    // footer row-group skip (each file here is one row group, so row-group
    // skip IS file skip), before Spark's re-filter trims to exact matches
    val df = spark.range(12800).select(col("id").as("vec_id"), (col("id") % 128).as("cell"))
    val path = tmp("ivfmetrics")
    Layout.writeIvfClustered(df, path, numFiles = 64)
    val lists = spark.read.parquet(path)
    val probe = lists.filter(col("cell").isin(0L, 64L))
    // the filter must reach the scan as a pushed parquet filter
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") && plan.contains("In(cell"), plan)
    assert(probe.collect().length === 200) // 100 rows per probed cell
    val scanRows = probe.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    // 64 files × 200 rows, ~2 cells/file; 2 probed cells land in ≤2 files
    // each (range-boundary straddle) → the scan may read at most 4 files'
    // rows = 800, a ≥16× reduction vs the 12800-row corpus
    assert(scanRows >= 200 && scanRows <= 800, s"scan read $scanRows rows of 12800")
  }

  test("mergeIvfDelta rewrites only the touched files; untouched files stay byte-identical") {
    val df = spark.range(12800).select(col("id").as("vec_id"), (col("id") % 128).as("cell"))
    val path = tmp("ivfmerge")
    Layout.writeIvfClustered(df, path, numFiles = 16)
    def parquetFiles = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def digest(f: java.io.File) = java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath)).toSeq
    val before = parquetFiles.map(f => f.getName -> digest(f)).toMap

    // delta: new vectors in two in-range cells + one FRESH cell above
    // every file's range (the boundary-extension path)
    val delta = spark.range(51).select((col("id") + 100000L).as("vec_id"),
      when(col("id") % 3 === 0, 3L).when(col("id") % 3 === 1, 64L).otherwise(200L).as("cell"))
    val (rewritten, total) = Layout.mergeIvfDelta(spark, path, delta)
    assert(total === before.size)
    assert(rewritten >= 1 && rewritten <= 3, s"rewrote $rewritten files for 3 delta cells")

    // content equivalence: merged layout == base ∪ delta, no loss, no dup
    // (manifest view — the directory also retains the previous version)
    val got = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = (df.collect() ++ delta.collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === want.toSeq)

    // untouched files: same names, same bytes in the new snapshot — they
    // were never read or rewritten, so serving locality and caches
    // survive the merge
    val liveAfter = Layout.currentManifest(spark, path).get._2.toSet
    val after = parquetFiles.filter(f => liveAfter(f.getName))
      .map(f => f.getName -> digest(f)).toMap
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.size === total - rewritten)
    survivors.foreach(n => assert(after(n) === before(n), s"untouched file $n changed"))

    // the disjoint per-file range contract (footer pruning) still holds
    val ranges = liveFileRanges(path, "cell").sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap after merge: $ranges")
      case _                      =>
    }

    // edge: a delta BELOW every file's min clamps to the first file and
    // extends the bottom boundary without breaking disjointness
    val below = spark.range(3).select((col("id") + 200000L).as("vec_id"), lit(-5L).as("cell"))
    val (rw2, _) = Layout.mergeIvfDelta(spark, path, below)
    assert(rw2 === 1)
    val rows2 = Layout.readIvfLists(spark, path)
    assert(rows2.count() === 12800 + 51 + 3)
    assert(rows2.agg(min(col("cell"))).head().getLong(0) === -5L)
    liveFileRanges(path, "cell").sortBy(_._1).sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, "overlap after below-range merge")
      case _                      =>
    }
    // empty delta is a loud error, not a silent no-op
    intercept[IllegalArgumentException] {
      Layout.mergeIvfDelta(spark, path, below.filter(col("cell") > 0))
    }
  }

  test("mergeIvfDelta crash windows: manifest readers see exactly-once rows at every stage boundary") {
    // kill the writer at each commit-stage boundary and assert the
    // manifest reader observes either the complete old snapshot or the
    // complete new one — never a duplicated or missing row. This is the
    // load-bearing test for the manifest commit protocol (the crash
    // window the pre-manifest rename-in-then-delete sequence left open).
    val df = spark.range(6400).select(col("id").as("vec_id"), (col("id") % 64).as("cell"))
    val preRows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (stage <- Seq("staged", "renamed_in", "manifest_committed")) {
      val path = tmp(s"crash-$stage")
      Layout.writeIvfClustered(df, path, numFiles = 8)
      val delta = spark.range(21).select((col("id") + 100000L).as("vec_id"),
        (col("id") % 3 * 20).as("cell"))
      val postRows = (preRows ++ delta.collect().map(r => (r.getLong(0), r.getLong(1)))).sorted
      val boom = intercept[RuntimeException] {
        Layout.mergeIvfDeltaStaged(spark, path, delta,
          st => if (st == stage) throw new RuntimeException(s"killed at $st"))
      }
      assert(boom.getMessage === s"killed at $stage")
      val seen = Layout.readIvfLists(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // before the manifest commit the reader sees the OLD snapshot in
      // full; from the commit point on, the NEW one — atomically
      val expect = if (stage == "manifest_committed") postRows else preRows
      assert(seen === expect, s"reader saw a torn snapshot after crash at $stage")

      if (stage != "manifest_committed") {
        // the crashed attempt's residue: files on disk the (still-old)
        // manifest does not list — staged leaves none at top level,
        // renamed_in leaves the orphaned merged-* files
        def onDisk = new java.io.File(path).listFiles
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
        val oldNames = Layout.currentManifest(spark, path).get._2.toSet
        val crashedGarbage = onDisk -- oldNames
        // recovery: re-running the merge converges to the new snapshot…
        Layout.mergeIvfDelta(spark, path, delta)
        val recovered = Layout.readIvfLists(spark, path).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(recovered === postRows, s"recovery after $stage crash")
        // …and its GC sweeps the crashed attempt's unreferenced garbage,
        // while retaining exactly the previous version's files (the
        // reader-grace window): disk == new snapshot ∪ old snapshot
        val newNames = Layout.currentManifest(spark, path).get._2.toSet
        assert(crashedGarbage.intersect(onDisk).isEmpty,
          s"crashed garbage not swept after $stage crash")
        assert(onDisk === newNames ++ oldNames,
          s"disk != retained snapshots after $stage crash")
      }
    }
  }

  test("mergeIvfDeltaUpsert supersedes changed vectors and retracts removed ones, exactly once") {
    // base: 1600 vectors over 32 cells, vec_id v in cell v % 32
    val df = spark.range(1600).select(col("id").as("vec_id"), (col("id") % 32).as("cell"))
    val path = tmp("ivfupsert")
    Layout.writeIvfClustered(df, path, numFiles = 8)
    def digest(f: java.io.File) = java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath)).toSeq
    def files = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val before = files.map(f => f.getName -> digest(f)).toMap

    // changed doc 5: old vector in cell 5, new one lands in cell 31
    // (cross-cell move); changed doc 6: re-embedded into its SAME cell 6
    // (drop-old + add-new under identical (vec_id, cell)); doc 7 removed
    // (pure retraction, no delta row)
    val delta = spark.createDataFrame(Seq((5L, 31L), (6L, 6L))).toDF("vec_id", "cell")
    val tombs = spark.createDataFrame(Seq((5L, 5L), (6L, 6L), (7L, 7L))).toDF("vec_id", "cell")
    val (rewritten, total) = Layout.mergeIvfDeltaUpsert(spark, path, delta, tombs)
    assert(total === before.size)
    assert(rewritten < total, s"upsert rewrote every file ($rewritten/$total)")

    val got = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = (df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filterNot(t => Set((5L, 5L), (6L, 6L), (7L, 7L))(t)) ++ Seq((5L, 31L), (6L, 6L))).sorted.toSeq
    assert(got === want)
    // exactly one live row per surviving vec_id; doc 7 fully gone
    assert(got.map(_._1).distinct.size === got.size)
    assert(!got.exists(_._1 == 7L))
    assert(got.count(_ == (5L, 31L)) === 1 && !got.contains((5L, 5L)))
    assert(got.count(_ == (6L, 6L)) === 1)

    // untouched files never read or rewritten; disjoint ranges survive
    val after = files.map(f => f.getName -> digest(f)).toMap
    before.keySet.intersect(after.keySet)
      .foreach(n => assert(after(n) === before(n), s"untouched file $n changed"))
    liveFileRanges(path, "cell").sortBy(_._1).sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, "overlap after upsert")
      case _                      =>
    }

    // delete-only: empty delta + tombstones is a pure retraction
    val (rw2, _) = Layout.mergeIvfDeltaUpsert(spark, path,
      delta.filter(lit(false)), spark.createDataFrame(Seq((8L, 8L))).toDF("vec_id", "cell"))
    assert(rw2 === 1)
    val after2 = Layout.readIvfLists(spark, path)
    assert(after2.count() === want.size - 1)
    assert(after2.filter(col("vec_id") === 8L).count() === 0)
    // empty delta AND empty tombstones is still a loud error
    intercept[IllegalArgumentException] {
      Layout.mergeIvfDeltaUpsert(spark, path, delta.filter(lit(false)), tombs.filter(lit(false)))
    }

    // STALE tombstone (pk->cell catalog lagging the index: the vector was
    // already superseded away, or never existed): a harmless no-op on the
    // data — the anti-join matches nothing, rows are byte-for-byte
    // preserved — at the cost of rewriting the one file owning its cell
    val preStale = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val (rwStale, _) = Layout.mergeIvfDeltaUpsert(spark, path,
      delta.filter(lit(false)), spark.createDataFrame(Seq((99999L, 9L))).toDF("vec_id", "cell"))
    assert(rwStale === 1)
    val postStale = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(postStale === preStale, "stale tombstone must not change the data")
  }

  test("mergeIvfDeltaUpsert crash windows: tombstone application is atomic with the delta landing") {
    // the supersede must never be observable by itself: a reader either
    // sees the full old snapshot (victims still live, delta absent) or
    // the full new one — kill the writer before and after the manifest
    // commit and check both sides
    val df = spark.range(640).select(col("id").as("vec_id"), (col("id") % 16).as("cell"))
    val preRows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val deltaRows = Seq((9L, 15L))
    val tombRows = Seq((9L, 9L), (10L, 10L))
    val postRows = (preRows.filterNot(tombRows.toSet) ++ deltaRows).sorted
    for (stage <- Seq("staged", "renamed_in", "manifest_committed")) {
      val path = tmp(s"upsert-crash-$stage")
      Layout.writeIvfClustered(df, path, numFiles = 4)
      val delta = spark.createDataFrame(deltaRows).toDF("vec_id", "cell")
      val tombs = spark.createDataFrame(tombRows).toDF("vec_id", "cell")
      val boom = intercept[RuntimeException] {
        Layout.mergeIvfDeltaStaged(spark, path, delta,
          st => if (st == stage) throw new RuntimeException(s"killed at $st"), Some(tombs))
      }
      assert(boom.getMessage === s"killed at $stage")
      val seen = Layout.readIvfLists(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expect = if (stage == "manifest_committed") postRows else preRows
      assert(seen === expect, s"torn upsert snapshot after crash at $stage")
      if (stage != "manifest_committed") {
        Layout.mergeIvfDeltaUpsert(spark, path, delta, tombs)
        val recovered = Layout.readIvfLists(spark, path).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(recovered === postRows, s"upsert recovery after $stage crash")
      }
    }
  }

  test("mergeIvfDeltaUpsert on a pre-manifest layout: fallback listing works and the commit seeds the manifest") {
    // layouts written before the manifest feature have no _graft_manifest-*
    // file; the merge must read them via the raw-listing fallback and leave
    // a manifest-committed layout behind (readers upgrade transparently)
    val df = spark.range(160).select(col("id").as("vec_id"), (col("id") % 8).as("cell"))
    val path = tmp("premanifest")
    Layout.writeIvfClustered(df, path, numFiles = 2)
    new java.io.File(path).listFiles.filter(_.getName.startsWith("_graft_manifest-"))
      .foreach(f => assert(f.delete()))
    assert(Layout.currentManifest(spark, path).isEmpty)
    val delta = spark.createDataFrame(Seq((1000L, 3L))).toDF("vec_id", "cell")
    val tombs = spark.createDataFrame(Seq((5L, 5L))).toDF("vec_id", "cell")
    Layout.mergeIvfDeltaUpsert(spark, path, delta, tombs)
    val m = Layout.currentManifest(spark, path)
    assert(m.exists(_._1 == 1L), m)
    val rows = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows.contains((1000L, 3L)) && !rows.contains((5L, 5L)))
    assert(rows.size === 160)
  }

  test("manifest v2: commit seeds footer-accurate per-file min-cell routing stats") {
    val df = spark.range(6400).select(col("id").as("vec_id"), (col("id") % 64).as("cell"))
    val path = tmp("manifeststats")
    Layout.writeIvfClustered(df, path, numFiles = 8)
    val m = Layout.readManifest(spark, path).get
    assert(m.schemaJson.isDefined, "manifest must record the layout schema")
    assert(m.entries.nonEmpty && m.entries.forall(_.lo.isDefined))
    // the recorded lo of every file == the file's ACTUAL min cell
    val actual = spark.read.parquet(path)
      .groupBy(input_file_name().as("f")).agg(min(col("cell")).as("lo"))
      .collect().map(r => new java.io.File(new java.net.URI(r.getString(0)).getPath).getName
        -> r.getLong(1)).toMap
    m.entries.foreach(e => assert(e.lo.contains(actual(e.name)),
      s"manifest lo ${e.lo} != actual min ${actual(e.name)} for ${e.name}"))
  }

  test("manifest v2 routing: a merge reads ZERO bytes from untouched files (corrupted file is never opened)") {
    // the round-13 contract: delta routing comes from the manifest's
    // min-cell stats, NOT a scan of the corpus's cell column — so a merge
    // must succeed even when an untouched file's BYTES are unreadable.
    // Corrupting a mid-range file and merging a delta that lands
    // elsewhere proves no read (scan, schema, or routing) ever opens it.
    val df = spark.range(12800).select(col("id").as("vec_id"), (col("id") % 128).as("cell"))
    val path = tmp("zeroio")
    Layout.writeIvfClustered(df, path, numFiles = 16)
    val entries = Layout.readManifest(spark, path).get.entries.sortBy(_.lo.get)
    // victim: the file owning the middle of the cell range; delta: cell 0
    val victim = entries(entries.size / 2)
    val victimFile = new java.io.File(s"$path/${victim.name}")
    val originalBytes = java.nio.file.Files.readAllBytes(victimFile.toPath)
    java.nio.file.Files.write(victimFile.toPath,
      Array.fill[Byte](originalBytes.length)('x'.toByte))
    val delta = spark.range(7).select((col("id") + 500000L).as("vec_id"), lit(0L).as("cell"))
    val (rewritten, total) = Layout.mergeIvfDelta(spark, path, delta)
    assert(rewritten === 1 && total === entries.size)
    // restore the victim's bytes; the full snapshot must now read back as
    // base ∪ delta — the merge never read OR rewrote the corrupted file
    java.nio.file.Files.write(victimFile.toPath, originalBytes)
    val got = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = (df.collect() ++ delta.collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === want)
  }

  test("GC retention: a reader's v-1 snapshot survives one concurrent merge, not two") {
    val df = spark.range(3200).select(col("id").as("vec_id"), (col("id") % 32).as("cell"))
    val path = tmp("retention")
    Layout.writeIvfClustered(df, path, numFiles = 4)
    // a long-running reader resolves snapshot v1 (its file list) now
    val v1 = Layout.currentManifest(spark, path).get
    assert(v1._1 === 1L)
    val v1Paths = v1._2.map(n => s"$path/$n")
    val delta1 = spark.range(5).select((col("id") + 900000L).as("vec_id"), lit(3L).as("cell"))
    Layout.mergeIvfDelta(spark, path, delta1)
    // after ONE merge: every v1 file still on disk and readable — the
    // reader's in-flight scan completes against its resolved snapshot
    assert(spark.read.parquet(v1Paths: _*).count() === 3200)
    assert(Layout.retainedVersions(spark, path) === Seq(1L, 2L))
    val v2 = Layout.currentManifest(spark, path).get
    assert(v2._1 === 2L)
    val delta2 = spark.range(5).select((col("id") + 910000L).as("vec_id"), lit(9L).as("cell"))
    Layout.mergeIvfDelta(spark, path, delta2)
    // after TWO merges: v1's superseded file is gone (grace window is one
    // merge), v2's files all survive, and manifests v1 are pruned to v2+v3
    val onDisk = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val v3 = Layout.currentManifest(spark, path).get
    assert(v3._1 === 3L)
    assert(onDisk === v3._2.toSet ++ v2._2.toSet, "disk must hold exactly v3 ∪ v2")
    assert((v1._2.toSet -- v2._2.toSet).forall(!onDisk(_)),
      "v1's superseded files must be GC'd after the second merge")
    val manifestsOnDisk = new java.io.File(path).listFiles
      .filter(_.getName.startsWith("_graft_manifest-")).map(_.getName).toSet
    assert(manifestsOnDisk === Set("_graft_manifest-2", "_graft_manifest-3"))
    assert(Layout.retainedVersions(spark, path) === Seq(2L, 3L))
  }

  test("full retraction commits an EMPTY manifest that reads as an empty frame; a later delta repopulates") {
    val df = spark.range(40).select(col("id").as("vec_id"), (col("id") % 4).as("cell"))
    val path = tmp("fullretract")
    Layout.writeIvfClustered(df, path, numFiles = 2)
    // tombstone every live row: the merge commits a zero-file manifest
    val allTombs = df.select(col("vec_id"), col("cell"))
    Layout.mergeIvfDeltaUpsert(spark, path, df.filter(lit(false)), allTombs)
    val emptied = Layout.readIvfLists(spark, path)
    assert(emptied.count() === 0L)
    assert(emptied.columns.toSeq === Seq("vec_id", "cell"), "schema survives the empty snapshot")
    // and the next merge on the empty layout lands the delta as a fresh span
    val delta = spark.range(6).select((col("id") + 700L).as("vec_id"), (col("id") % 2).as("cell"))
    val (rw, tot) = Layout.mergeIvfDelta(spark, path, delta)
    assert(rw === 0 && tot === 0, "an empty live set has no files to rewrite")
    val back = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(back === delta.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("format-v1 manifest compat: bare-name manifests route via footer stats and upgrade to v2 on commit") {
    val df = spark.range(800).select(col("id").as("vec_id"), (col("id") % 8).as("cell"))
    val path = tmp("v1compat")
    Layout.writeIvfClustered(df, path, numFiles = 4)
    // rewrite the manifest in the round-12 format: bare names, no header
    // (drop the local-FS checksum sidecar so the edited file stays readable)
    val names = Layout.currentManifest(spark, path).get._2
    new java.io.File(s"$path/._graft_manifest-1.crc").delete()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/_graft_manifest-1"),
      (names.mkString("\n") + "\n").getBytes("UTF-8"))
    val v1 = Layout.readManifest(spark, path).get
    assert(v1.entries.forall(_.lo.isEmpty) && v1.schemaJson.isEmpty)
    val delta = spark.range(3).select((col("id") + 5000L).as("vec_id"), lit(1L).as("cell"))
    val (rw, _) = Layout.mergeIvfDelta(spark, path, delta)
    assert(rw === 1)
    val got = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === (df.collect() ++ delta.collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    // the commit backfills routing stats + schema: next merge is manifest-only
    val v2 = Layout.readManifest(spark, path).get
    assert(v2.entries.nonEmpty && v2.entries.forall(_.lo.isDefined))
    assert(v2.schemaJson.isDefined)
  }

  test("predicate-partitioned inverted lists: per-partition manifests, zero cross-partition I/O, independent merges") {
    // 300 vectors over 3 labels × 10 cells; one manifested layout per label
    val df = spark.range(300).select(col("id").as("vec_id"),
      (col("id") % 3).as("label"), (col("id") % 10).as("cell"))
    val path = tmp("partivf")
    val values = Layout.writePartitionedIvf(df, path, "label", numFiles = 4)
    assert(values === Seq("0", "1", "2"))

    // the filtered read returns exactly the partition's rows, label-free
    val p1 = Layout.readPartitionedIvf(spark, path, "label", 1L)
    assert(p1.columns.toSeq === Seq("vec_id", "cell"))
    val got = p1.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (0L until 300L).filter(_ % 3 == 1).toSeq)

    // ZERO cross-partition I/O: corrupt every byte of label=2's data
    // files — label=1 reads and merges must never notice
    val dir2 = new java.io.File(s"$path/label=2")
    dir2.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](f.length.toInt)('x'.toByte))
    }
    assert(Layout.readPartitionedIvf(spark, path, "label", 1L).count() === 100)

    // independent maintenance: a delta merges into label=1's own manifest
    val delta = spark.range(4).select((col("id") + 5000L).as("vec_id"), lit(7L).as("cell"))
    val (rw, tot) = Layout.mergeIvfDelta(spark, s"$path/label=1", delta)
    assert(rw >= 1 && rw < tot)
    assert(Layout.readPartitionedIvf(spark, path, "label", 1L).count() === 104)
    // the other partitions' manifests are untouched (label=0 still v1)
    assert(Layout.currentManifest(spark, s"$path/label=0").exists(_._1 == 1L))
    assert(Layout.currentManifest(spark, s"$path/label=1").exists(_._1 == 2L))
  }

  test("partitioned layout: writers on different partitions commit independently (no false conflict)") {
    // the partition-level concurrency contract at 100 TB: two schedulers
    // merging DISJOINT partitions share no manifest, so neither can see
    // (or cause) a CAS conflict — writer B completes a full merge on
    // label=1 while writer A sits mid-commit (renamed_in) on label=0,
    // and A still commits successfully. A same-partition race, by
    // contrast, aborts at the CAS like any single-layout race.
    val df = spark.range(600).select(col("id").as("vec_id"),
      (col("id") % 2).as("label"), (col("id") % 8).as("cell"))
    val path = tmp("partocc")
    Layout.writePartitionedIvf(df, path, "label", numFiles = 2)
    val deltaA = spark.range(3).select((col("id") + 7000L).as("vec_id"), lit(1L).as("cell"))
    val deltaB = spark.range(4).select((col("id") + 8000L).as("vec_id"), lit(5L).as("cell"))
    var interleaved = false
    // A on label=0; B's full merge on label=1 fires inside A's commit window
    Layout.mergeIvfDeltaStaged(spark, s"$path/label=0", deltaA, st =>
      if (st == "renamed_in" && !interleaved) {
        interleaved = true
        Layout.mergeIvfDelta(spark, s"$path/label=1", deltaB)
      })
    assert(interleaved)
    assert(Layout.readPartitionedIvf(spark, path, "label", 0L).count() === 303)
    assert(Layout.readPartitionedIvf(spark, path, "label", 1L).count() === 304)
    // both manifests advanced past the initial write's v1 — independently
    assert(Layout.currentManifest(spark, s"$path/label=0").exists(_._1 == 2L))
    assert(Layout.currentManifest(spark, s"$path/label=1").exists(_._1 == 2L))
    // the same-partition race still aborts at the CAS
    var raced = false
    val e = intercept[Layout.ConcurrentCommitException] {
      Layout.mergeIvfDeltaStaged(spark, s"$path/label=0",
        spark.range(2).select((col("id") + 9000L).as("vec_id"), lit(2L).as("cell")),
        st => if (st == "renamed_in" && !raced) {
          raced = true
          Layout.mergeIvfDelta(spark, s"$path/label=0",
            spark.range(2).select((col("id") + 9500L).as("vec_id"), lit(6L).as("cell")))
        })
    }
    assert(e.getMessage.contains("retry"), e.getMessage)
    assert(Layout.readPartitionedIvf(spark, path, "label", 0L).count() === 305)
  }

  test("concurrent writers: the loser aborts cleanly at the commit CAS and a retry converges") {
    // two schedulers race a merge on the same layout: writer A stages and
    // renames its files in, then — before A commits — writer B runs a full
    // merge to completion. A's commit must detect the moved manifest head,
    // clean up its own staged files, and throw retryable; the committed
    // snapshot must be exactly base ∪ deltaB, and A's retry must converge
    // to base ∪ deltaB ∪ deltaA.
    val df = spark.range(1600).select(col("id").as("vec_id"), (col("id") % 16).as("cell"))
    val path = tmp("occ")
    Layout.writeIvfClustered(df, path, numFiles = 4)
    val v1Names = Layout.currentManifest(spark, path).get._2.toSet
    val baseRows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val deltaA = spark.range(5).select((col("id") + 800000L).as("vec_id"), lit(3L).as("cell"))
    val deltaB = spark.range(7).select((col("id") + 900000L).as("vec_id"), lit(9L).as("cell"))
    val rowsA = deltaA.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rowsB = deltaB.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    var interleaved = false
    val e = intercept[Layout.ConcurrentCommitException] {
      Layout.mergeIvfDeltaStaged(spark, path, deltaA, st =>
        if (st == "renamed_in" && !interleaved) {
          interleaved = true
          Layout.mergeIvfDelta(spark, path, deltaB) // writer B wins the race
        })
    }
    assert(e.getMessage.contains("retry"), e.getMessage)
    // the committed snapshot is B's, complete and exactly-once
    val seen = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(seen === (baseRows ++ rowsB).sorted, "loser corrupted the winner's snapshot")
    // no residue beyond the retained snapshots: A's staged/renamed-in
    // files were cleaned by its abort (or swept by B's GC)
    val v2 = Layout.currentManifest(spark, path).get
    assert(v2._1 === 2L)
    val onDisk = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(onDisk === v2._2.toSet ++ v1Names, s"loser left garbage: ${onDisk -- v2._2.toSet -- v1Names}")
    assert(new java.io.File(path).listFiles.count(_.getName.startsWith(".merge_swap")) === 0)
    // A retries against the new head and converges
    Layout.mergeIvfDelta(spark, path, deltaA)
    val after = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after === (baseRows ++ rowsB ++ rowsA).sorted)
  }

  test("partitioned IVF escapes path-special partition values the way Spark's sink does") {
    // values containing '/', ':', '=', '%' land in %XX-escaped dirs under
    // partitionBy; the manifest commit, reads, and merges must resolve the
    // SAME escaped path or the partition silently reads empty
    val df = spark.createDataFrame(Seq(
      (1L, "en/US", 0L), (2L, "en/US", 1L), (3L, "zh:CN", 0L),
      (4L, "a=b", 2L), (5L, "p%q", 1L), (6L, "plain", 0L)))
      .toDF("vec_id", "label", "cell")
    val path = tmp("escparts")
    val values = Layout.writePartitionedIvf(df, path, "label", numFiles = 1)
    assert(values === Seq("a=b", "en/US", "p%q", "plain", "zh:CN"))
    // every partition reads back its own rows through its manifest
    assert(Layout.readPartitionedIvf(spark, path, "label", "en/US")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    assert(Layout.readPartitionedIvf(spark, path, "label", "zh:CN").count() === 1)
    assert(Layout.readPartitionedIvf(spark, path, "label", "a=b").count() === 1)
    assert(Layout.readPartitionedIvf(spark, path, "label", "p%q").count() === 1)
    // no unescaped sibling dir was forked next to the escaped one
    val dirs = new java.io.File(path).listFiles.filter(_.isDirectory).map(_.getName).toSet
    assert(!dirs.exists(d => d.contains("en/US") || d == "label=en"), dirs.toSeq.sorted)
  }

  test("compact on a manifested layout re-clusters on cell and seeds a fresh manifest") {
    val df = spark.range(6400).select(col("id").as("vec_id"), (col("id") % 64).as("cell"))
    val inPath = tmp("compactin")
    Layout.writeIvfClustered(df, inPath, numFiles = 16)
    // a merge first, so the directory holds BOTH retained versions — the
    // compact must size and read the live snapshot only
    val delta = spark.range(5).select((col("id") + 70000L).as("vec_id"), lit(3L).as("cell"))
    Layout.mergeIvfDelta(spark, inPath, delta)
    val outPath = tmp("compactout")
    val bytes = Layout.liveBytes(spark, inPath)
    val n = Layout.compact(spark, inPath, outPath, targetFileBytes = bytes / 4)
    assert(n >= 4 && n <= 6, s"n=$n")
    // the output is a first-class manifested layout: snapshot read works,
    // rows are exactly the live input's, and per-file cell ranges are
    // disjoint again (merge routing and tombstones stay correct on it)
    assert(Layout.currentManifest(spark, outPath).exists(_._1 == 1L))
    val got = Layout.readIvfLists(spark, outPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = (df.collect() ++ delta.collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === want)
    liveFileRanges(outPath, "cell").sortBy(_._1).sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, "overlap after manifested compact")
      case _                      =>
    }
    // and an upsert on the compacted output behaves (the contract compact
    // must not break: victims are found in their cell's owner file)
    Layout.mergeIvfDeltaUpsert(spark, outPath,
      spark.createDataFrame(Seq((70000L, 10L))).toDF("vec_id", "cell"),
      spark.createDataFrame(Seq((70000L, 3L))).toDF("vec_id", "cell"))
    val rows2 = Layout.readIvfLists(spark, outPath)
    assert(rows2.filter(col("vec_id") === 70000L).collect().map(_.getLong(1)).toSeq === Seq(10L))
  }

  test("compactIvfInPlace heals merge fragmentation behind the same manifest — readers never switch paths") {
    // a layout whose file grain has drifted sub-target (the incremental
    // pathology: the write geometry was sized for a smaller corpus, and
    // daily merges skew individual file sizes as spans absorb deltas)
    val df = spark.range(6400).select(col("id").as("vec_id"), (col("id") % 64).as("cell"))
    val path = tmp("inplace")
    Layout.writeIvfClustered(df, path, numFiles = 16)
    var want = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (d <- 1 to 3) {
      val delta = spark.range(6).select((col("id") + d * 10000L).as("vec_id"),
        ((col("id") + d * 7) % 64).as("cell"))
      Layout.mergeIvfDelta(spark, path, delta)
      want = want ++ delta.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val fragmented = Layout.currentManifest(spark, path).get
    assert(fragmented._2.size >= 16, s"fixture not fragmented: ${fragmented._2.size} files")
    // a reader resolves the fragmented snapshot before the compaction
    val pinnedPaths = fragmented._2.map(n => s"$path/$n")

    val bytes = Layout.liveBytes(spark, path)
    val (before, after) = Layout.compactIvfInPlace(spark, path, targetFileBytes = bytes / 4)
    assert(before === fragmented._2.size)
    assert(after < before && after >= 4 && after <= 6, s"$before -> $after files")
    // same rows through the SAME path, no reader reconfiguration
    val got = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === want.sorted)
    // the pinned reader's fragmented snapshot survives the compaction
    // (one-version retention), completing its in-flight scan
    assert(spark.read.parquet(pinnedPaths: _*).count() === want.size)
    // disjoint spans are restored at full width...
    liveFileRanges(path, "cell").sortBy(_._1).sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, "overlap after in-place compact")
      case _                      =>
    }
    // ...and the compacted layout keeps merging and upserting correctly
    val delta = spark.range(3).select((col("id") + 90000L).as("vec_id"), lit(5L).as("cell"))
    val (rw, tot) = Layout.mergeIvfDelta(spark, path, delta)
    assert(tot === after && rw < tot)
    Layout.mergeIvfDeltaUpsert(spark, path,
      spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("vec_id", "cell"),
      spark.createDataFrame(Seq((90000L, 5L))).toDF("vec_id", "cell"))
    assert(Layout.readIvfLists(spark, path).count() === want.size + 2)
  }

  test("compactIvfInPlace crash windows and concurrent-writer abort mirror the merge's contract") {
    val df = spark.range(1600).select(col("id").as("vec_id"), (col("id") % 16).as("cell"))
    val preRows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (stage <- Seq("staged", "renamed_in", "manifest_committed")) {
      val path = tmp(s"inplace-crash-$stage")
      Layout.writeIvfClustered(df, path, numFiles = 8)
      val bytes = Layout.liveBytes(spark, path)
      val boom = intercept[RuntimeException] {
        Layout.compactIvfInPlaceStaged(spark, path, bytes / 2,
          st => if (st == stage) throw new RuntimeException(s"killed at $st"))
      }
      assert(boom.getMessage === s"killed at $stage")
      // the reader sees the complete old snapshot until the commit point,
      // the complete compacted one after — never a torn file set
      val seen = Layout.readIvfLists(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(seen === preRows, s"torn snapshot after compaction crash at $stage")
      // recovery: re-running converges and sweeps the crashed residue
      Layout.compactIvfInPlace(spark, path, bytes / 2)
      assert(Layout.readIvfLists(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === preRows)
    }
    // concurrent writer: a merge commits mid-compaction — the compaction
    // loses the CAS, aborts cleanly, and a retry folds the merge's rows in
    val path = tmp("inplace-occ")
    Layout.writeIvfClustered(df, path, numFiles = 8)
    val delta = spark.range(4).select((col("id") + 50000L).as("vec_id"), lit(3L).as("cell"))
    val bytes = Layout.liveBytes(spark, path)
    var raced = false
    intercept[Layout.ConcurrentCommitException] {
      Layout.compactIvfInPlaceStaged(spark, path, bytes / 2, st =>
        if (st == "renamed_in" && !raced) {
          raced = true; Layout.mergeIvfDelta(spark, path, delta)
        })
    }
    val postMerge = (preRows ++ delta.collect().map(r => (r.getLong(0), r.getLong(1)))).sorted
    assert(Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === postMerge)
    Layout.compactIvfInPlace(spark, path, bytes / 2) // retry sees the merged head
    assert(Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === postMerge)
  }

  test("hive-partitioned layout prunes non-matching partitions at plan time") {
    val path = tmp("hive")
    events.write.partitionBy("event_type").parquet(path)
    val types = events.select("event_type").distinct().count()
    assert(types > 1)
    val one = spark.read.parquet(path).filter(col("event_type") === "click")
    val plan = one.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the filter lands in PartitionFilters (directory pruning), not a
    // post-scan Filter over all partitions
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("isnotnull(event_type"), plan)
    assert(one.count() ===
      events.filter(col("event_type") === "click").count())
  }

  test("gcOrphans reclaims a crashed writer's staged residue without waiting for the next merge") {
    val df = spark.range(1600).select(col("id").as("vec_id"), (col("id") % 16).as("cell"))
    val path = tmp("gcorphans")
    Layout.writeIvfClustered(df, path, numFiles = 4)
    val v1Names = Layout.currentManifest(spark, path).get._2
    // advance to v2 first, so retention (head + head−1) is actually in play
    val d1 = spark.range(4).select((col("id") + 40000L).as("vec_id"), lit(2L).as("cell"))
    Layout.mergeIvfDelta(spark, path, d1)
    val committedRows = Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def digest(f: java.io.File) = java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath)).toSeq
    def topLevel = new java.io.File(path).listFiles
    def orphanParquet(live: Set[String]) = topLevel
      .filter(f => f.getName.endsWith(".parquet") && !live(f.getName)).map(_.getName).toSet
    val liveBefore = (Layout.currentManifest(spark, path).get._2 ++ v1Names).toSet
    val liveDigests = topLevel.filter(f => liveBefore(f.getName))
      .map(f => f.getName -> digest(f)).toMap
    // writer killed between rename-in and commit: orphan merged-* files +
    // a populated swap dir, referenced by no manifest
    val d2 = spark.range(5).select((col("id") + 50000L).as("vec_id"), lit(7L).as("cell"))
    intercept[RuntimeException] {
      Layout.mergeIvfDeltaStaged(spark, path, d2,
        st => if (st == "renamed_in") throw new RuntimeException("killed at renamed_in"))
    }
    assert(orphanParquet(liveBefore).nonEmpty, "fixture: crash left no orphans")
    assert(topLevel.exists(_.getName.startsWith(".merge_swap")), "fixture: no swap residue")
    // fresh residue is INSIDE the grace window: gcOrphans must not touch it
    // (it may belong to a live writer that has not reached its commit point)
    assert(Layout.gcOrphans(spark, path) === 0)
    assert(orphanParquet(liveBefore).nonEmpty, "grace window ignored")
    // past the grace window the sweep reclaims everything unreferenced
    val saved = Layout.swapGraceMs
    try {
      Layout.swapGraceMs = 0L
      assert(Layout.gcOrphans(spark, path) > 0)
    } finally Layout.swapGraceMs = saved
    assert(orphanParquet(liveBefore).isEmpty, "orphans survived the sweep")
    assert(!topLevel.exists(_.getName.startsWith(".merge_swap")), "swap residue survived")
    // the committed snapshot is untouched — byte-identical live files,
    // same rows — and the retained v1 snapshot still reads in full
    topLevel.filter(f => liveBefore(f.getName)).foreach(f =>
      assert(digest(f) === liveDigests(f.getName), s"live file ${f.getName} changed"))
    assert(Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === committedRows)
    assert(Layout.retainedVersions(spark, path) === Seq(1L, 2L))
    assert(spark.read.parquet(v1Names.map(n => s"$path/$n"): _*).count() === 1600)
    // a crash-free layout sweeps nothing; pre-manifest dirs are left alone
    assert(Layout.gcOrphans(spark, path) === 0)
    val raw = tmp("gcraw")
    df.write.parquet(raw)
    assert(Layout.gcOrphans(spark, raw) === 0)
  }

  test("rename-in re-touches staged mtimes: a slow staged write cannot expose live files to the sweep") {
    // fs.rename preserves mtime, so a merge whose STAGED WRITE outlived
    // the grace window used to rename in files already past a sweep
    // cutoff — a concurrent gcOrphans in the rename-in→commit window
    // would delete them and the writer would then commit a manifest
    // referencing deleted files. renameInFresh re-touches at rename-in,
    // so unlisted-file grace measures from rename-in. Simulated by
    // back-dating every staged file far past the grace window at the
    // "staged" boundary, then running the sweep at "renamed_in".
    val df = spark.range(1600).select(col("id").as("vec_id"), (col("id") % 16).as("cell"))
    val path = tmp("slowstage")
    Layout.writeIvfClustered(df, path, numFiles = 4)
    val preRows = Layout.readIvfLists(spark, path).count()
    val ancient = System.currentTimeMillis() - Layout.swapGraceMs - 3600_000L
    def backdate(f: java.io.File): Unit = {
      f.setLastModified(ancient)
      Option(f.listFiles).foreach(_.foreach(backdate))
    }
    var sweptAtRenameIn = -1
    val hook = (st: String) => st match {
      case "staged" =>
        new java.io.File(path).listFiles
          .filter(_.getName.startsWith(".merge_swap")).foreach(backdate)
      case "renamed_in" =>
        // the concurrent maintenance sweep, at the worst moment: the
        // merged files are on disk, unlisted — and must be spared
        sweptAtRenameIn = Layout.gcOrphans(spark, path)
        // the re-touch is what spared them: every unlisted merged-* file
        // carries a rename-in-time mtime despite the ancient staged write
        val v1 = Layout.currentManifest(spark, path).get._2.toSet
        val unlisted = new java.io.File(path).listFiles
          .filter(f => f.getName.endsWith(".parquet") && !v1(f.getName))
        assert(unlisted.nonEmpty, "fixture: nothing renamed in")
        unlisted.foreach(f => assert(f.lastModified() > ancient,
          s"${f.getName} kept the staged-write mtime through rename-in"))
      case _ => ()
    }
    val d = spark.range(5).select((col("id") + 70000L).as("vec_id"), lit(3L).as("cell"))
    Layout.mergeIvfDeltaStaged(spark, path, d, hook)
    assert(sweptAtRenameIn === 0, "sweep deleted a live writer's staged state")
    assert(Layout.readIvfLists(spark, path).count() === preRows + 5)
  }

  test("staged files vanishing before the commit point abort clean and retryable, never a corrupt snapshot") {
    // the hard backstop behind the grace heuristics: if a sweep DOES race
    // the writer (here: a staged file deleted between the head check and
    // the commit), the committer's re-verify must abort with the clean
    // retryable ConcurrentCommitException — not commit a manifest that
    // references deleted files.
    val df = spark.range(1600).select(col("id").as("vec_id"), (col("id") % 16).as("cell"))
    val path = tmp("vanish")
    Layout.writeIvfClustered(df, path, numFiles = 4)
    val preRows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val v1Names = Layout.currentManifest(spark, path).get._2.toSet
    val hook: String => Unit = st => if (st == "head_checked") {
      val unlisted = new java.io.File(path).listFiles
        .filter(f => f.getName.endsWith(".parquet") && !v1Names(f.getName))
      assert(unlisted.nonEmpty, "fixture: nothing staged to delete")
      assert(unlisted.head.delete())
    }
    val e = intercept[Layout.ConcurrentCommitException] {
      Layout.mergeIvfDeltaStaged(spark, path,
        spark.range(3).select((col("id") + 80000L).as("vec_id"), lit(5L).as("cell")), hook)
    }
    assert(e.getMessage.contains("vanished"), e.getMessage)
    // loser cleaned its remaining staged files; snapshot is the old one
    val onDisk = new java.io.File(path).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(onDisk === v1Names, s"abort left garbage: ${onDisk -- v1Names}")
    assert(!new java.io.File(path).listFiles.exists(_.getName.startsWith(".merge_swap")))
    assert(Layout.readIvfLists(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === preRows)
    // and RETRYABLE: the same merge re-run lands
    Layout.mergeIvfDelta(spark, path,
      spark.range(3).select((col("id") + 80000L).as("vec_id"), lit(5L).as("cell")))
    assert(Layout.readIvfLists(spark, path).count() === preRows.size + 3)
  }

  test("losing the exists-CAS inside the manifest commit cleans staged files like the head-check abort") {
    // the NARROW race: another writer commits between this merge's head
    // check and its manifest rename. Simulated by committing a conflicting
    // (content-identical) manifest v+1 from the head_checked hook — the
    // exists-CAS then fires, and the loser must still clean its staged
    // files before the retryable exception escapes (the exception's
    // documented contract holds at BOTH loss points).
    val df = spark.range(1600).select(col("id").as("vec_id"), (col("id") % 16).as("cell"))
    for (op <- Seq("merge", "compact")) {
      val path = tmp(s"casloss-$op")
      Layout.writeIvfClustered(df, path, numFiles = 4)
      val preRows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val v1Names = Layout.currentManifest(spark, path).get._2.toSet
      def winnerCommits(): Unit = {
        val dir = java.nio.file.Paths.get(path)
        java.nio.file.Files.copy(dir.resolve("_graft_manifest-1"),
          dir.resolve("_graft_manifest-2"))
      }
      val hook = (st: String) => if (st == "head_checked") winnerCommits()
      val e = intercept[Layout.ConcurrentCommitException] {
        if (op == "merge")
          Layout.mergeIvfDeltaStaged(spark, path,
            spark.range(3).select((col("id") + 60000L).as("vec_id"), lit(5L).as("cell")), hook)
        else
          Layout.compactIvfInPlaceStaged(spark, path,
            Layout.liveBytes(spark, path) / 2, hook)
      }
      assert(e.getMessage.contains("already committed"), s"$op: ${e.getMessage}")
      // staged residue cleaned: disk holds exactly the winner's snapshot
      val onDisk = new java.io.File(path).listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      assert(onDisk === v1Names, s"$op CAS loser left garbage: ${onDisk -- v1Names}")
      assert(!new java.io.File(path).listFiles.exists(_.getName.startsWith(".merge_swap")),
        s"$op CAS loser left its swap dir")
      assert(Layout.readIvfLists(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === preRows, s"$op")
    }
  }

  test("post-commit GC leaves a concurrent writer's FRESH staging alone (grace window)") {
    val df = spark.range(800).select(col("id").as("vec_id"), (col("id") % 8).as("cell"))
    val path = tmp("gcgrace")
    Layout.writeIvfClustered(df, path, numFiles = 2)
    // a concurrent writer's staging, mid-write (fresh mtime)
    val foreign = new java.io.File(s"$path/.merge_swap-999")
    foreign.mkdirs()
    java.nio.file.Files.write(new java.io.File(foreign, "part-0.parquet").toPath,
      Array[Byte](1, 2, 3))
    val delta = spark.range(2).select((col("id") + 9000L).as("vec_id"), lit(1L).as("cell"))
    Layout.mergeIvfDelta(spark, path, delta) // winner's commit + GC
    assert(foreign.exists, "winner's GC ripped a live writer's fresh staging")
    // past the grace window the same staging is reclaimed as a true orphan
    val saved = Layout.swapGraceMs
    try {
      Layout.swapGraceMs = 0L
      val d2 = spark.range(2).select((col("id") + 9500L).as("vec_id"), lit(2L).as("cell"))
      Layout.mergeIvfDelta(spark, path, d2)
    } finally Layout.swapGraceMs = saved
    assert(!foreign.exists, "stale staging survived a post-grace GC")
  }

  test("compact folds a many-file directory to the byte-targeted count") {
    val scattered = tmp("scattered")
    events.repartition(32).write.parquet(scattered)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(scattered).length === 32)
    val compacted = tmp("compacted")
    val totalBytes = parquetFiles(scattered).map(_.length).sum
    val n = Layout.compact(spark, scattered, compacted, targetFileBytes = totalBytes / 4)
    assert(n >= 4 && n <= 6, s"n=$n") // ceil slack: listing includes _SUCCESS/crc files
    // coalesce cannot EXCEED the read-side partition count (tiny files are
    // split-combined at the scan), so the contract is "at most n files"
    val outFiles = parquetFiles(compacted).length
    assert(outFiles <= n && outFiles < 32, s"outFiles=$outFiles n=$n")
    assert(spark.read.parquet(compacted).count() === events.count())
  }
}
