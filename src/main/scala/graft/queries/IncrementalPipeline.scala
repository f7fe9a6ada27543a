package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed incremental-processing story: snapshot diff → delta
  * slice → (dedup guard, embed/assign, index merge), each downstream
  * stage fed ONLY the added∪changed slice, so a daily run against a
  * 100 TB corpus costs one co-partitioned hash diff over the snapshots
  * plus work proportional to |delta| everywhere after — signatures,
  * embeddings and index maintenance never touch an unchanged document
  * (IncrementalPipelineSpec pins the exclusion; IncrementalDemo measures
  * rows-processed per stage at 1% and 10% delta fractions).
  *
  * These are the library halves of catalog operators: [[snapshotDiff]]
  * is u6_snapshot_delta's engine (the QueryDef builds its simulated
  * prior and delegates here), the guard is
  * [[DedupQueries.incrementalNearDup]], the assign seam is
  * [[graft.streaming.StreamingOps.assignVectors]], and the merge is
  * [[graft.layout.Layout.mergeIvfDelta]].
  *
  * SUPERSEDE SEAM — both standard MVCC halves are implemented:
  * merge-time supersede via [[graft.layout.Layout.mergeIvfDeltaUpsert]]
  * (tombstones = the changed∪removed docs' `(vec_id, cell)` victim
  * coordinates from the pk→cell catalog — a slim bucketed snapshot
  * maintained beside the index — dropped inside the same staged commit
  * the delta lands in, so the index holds exactly one live vector per
  * doc), and read-time supersede (latest-version-wins minus tombstones
  * over an append-only log, the u7_mvcc_read operator) for deployments
  * that prefer cheap appends + a compaction sweep. The plain
  * [[graft.layout.Layout.mergeIvfDelta]] append path remains for
  * insert-only deltas; IncrementalPipelineSpec pins both.
  */
object IncrementalPipeline {

  /** Null-safe content hash: md5(NULL) is NULL in every engine, and a
    * NULL on both sides of the diff would mis-classify under ANSI
    * `<>`-is-NULL semantics — the sentinel makes a NULL-text doc diff
    * like any other doc (unchanged until its text changes).
    */
  def contentHash(text: Column): Column = coalesce(md5(text), lit("~null~"))

  /** Classify every doc_id as added / removed / changed / unchanged
    * between two `(doc_id, text)` snapshots by primary key + content
    * hash. Shape: map-side md5 on both scans, ONE hash-partitioned
    * full-outer join on the primary key — and with both snapshots
    * bucketed by doc_id (the BucketingSpec layout) the join plans
    * exchange-free, a pure co-partitioned merge at any scale.
    */
  def snapshotDiff(cur: DataFrame, prior: DataFrame): DataFrame =
    cur.select(col("doc_id"), contentHash(col("text")).as("ch"))
      .join(prior.select(col("doc_id"), contentHash(col("text")).as("ph")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("ph").isNull, "added")
          .when(col("ch").isNull, "removed")
          .when(col("ch") =!= col("ph"), "changed")
          .otherwise("unchanged").as("change_class"))

  /** The added∪changed docs — the ONLY rows the expensive downstream
    * stages (signatures, embeddings, index merge) ever see. Unchanged
    * docs are excluded here by classification and removed docs have no
    * current row to fetch, so downstream work is O(|delta|) by
    * construction, not by optimizer luck.
    */
  def deltaSlice(cur: DataFrame, diff: DataFrame): DataFrame =
    cur.join(
      diff.filter(col("change_class").isin("added", "changed")).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Deterministic stand-in for the embedding model forward pass (the
    * model itself is out of scope — serving infra, not relational
    * compute): dim nonnegative int-grid coordinates derived from the
    * text by xxhash64, matching the quantized-vector contract of the
    * IVF stack (`vec_id`, `q: array<long>`). Map-only, codegen'd, and a
    * pure function of content — a changed doc gets a changed vector,
    * an unchanged doc would get its old one, which is exactly the
    * property the incremental story needs from the real model.
    *
    * LOCALITY, the second property real embeddings have and a pure
    * whole-text hash lacks: each coordinate is a coarse TOPIC base from
    * the document's leading prefix (multiples of 8 over the [0, 2048)
    * grid) plus a fine jitter (< 8) from the full text. A body edit that
    * keeps the opening (the typical re-crawl delta) moves the vector by
    * < 8 per dim — far inside the inter-topic spacing — so a re-embedded
    * doc re-routes to ITS OWN IVF cell, and an incremental merge's
    * touched-file set tracks the edit's topical locality instead of
    * scattering across the corpus. A rewritten opening is a topic change
    * and relocates the vector, as it should.
    */
  def stubEmbed(docs: DataFrame, dim: Int): DataFrame =
    docs.select(col("doc_id").as("vec_id"),
      array((0 until dim).map { i =>
        pmod(xxhash64(substring(col("text"), 1, 24), lit(i)), lit(256L)) * lit(8L) +
          pmod(xxhash64(col("text"), lit(i)), lit(8L))
      }: _*).as("q"))

  /** Fold one day's index maintenance back into the pk→cell CATALOG (the
    * slim `(vec_id, cell)` snapshot the supersede step reads victim
    * coordinates from): drop the docs that were tombstoned out
    * (changed ∪ removed victims) and append the day's new assignments.
    * Same anti-join + union shape as the index merge itself, over a
    * two-column frame — O(|catalog|) only in the co-partitioned hash
    * merge sense (bucketed by vec_id at scale, like u6's snapshots).
    * Without this fold-back a SECOND day's tombstones would carry
    * day-0 cells: a cross-cell mover's stale coordinates then match no
    * resident row and the supersede silently degrades to a missed
    * delete (the stale-tombstone no-op LayoutSpec pins) — the multi-day
    * loop is only closed when the catalog advances with the index
    * (IncrementalPipelineSpec pins day-2 tombstones carrying day-1
    * cells; IncrementalDemo runs the 3-day loop with row accounting).
    */
  def updateCatalog(catalog: DataFrame, victims: DataFrame, assigned: DataFrame): DataFrame =
    catalog.join(victims.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(assigned.select(col("vec_id"), col("cell")))

  /** Fold one day's index maintenance into the router HISTOGRAM — the
    * per-(cell, label) candidate counts `v24_adaptive_nprobe` picks probe
    * counts from. The histogram is serving metadata exactly like the
    * pk→cell catalog (bounded by C × |labels| rows at ANY corpus size),
    * and it advances by the same delta the merge applies to the lists:
    * victims' `(cell, label)` coordinates decrement, the day's assigned
    * `(cell, label)` increment, entries reaching zero drop out (a count
    * of 0 and an absent row are the same answer to the router, and
    * keeping zeros would grow the histogram monotonically with label
    * churn). Shape: two metadata-scale aggregates + one outer join on
    * (cell, label) — never a corpus scan; the spec pins equality with a
    * recomputed histogram after a mixed add/move/retract day.
    */
  def updateHistogram(hist: DataFrame, victims: DataFrame, assigned: DataFrame): DataFrame = {
    val dec = victims.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("d"))
    val inc = assigned.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("i"))
    hist.join(dec, Seq("cell", "label"), "full_outer")
      .join(inc, Seq("cell", "label"), "full_outer")
      .select(col("cell"), col("label"),
        (coalesce(col("n_cl"), lit(0L)) - coalesce(col("d"), lit(0L)) +
          coalesce(col("i"), lit(0L))).as("n_cl"))
      .filter(col("n_cl") > 0L)
  }
}
