package graft

/** The engine's scale knobs in one place, with the two sizes that matter:
  * the demo preset the oracle-checked catalog runs at (sf0.001–0.1
  * testdata, hundreds-to-thousands of rows) and the 100 TB preset derived
  * in README "Capacity math at 100 TB" (1e10 documents / embeddings on a
  * 1000-executor cluster).
  *
  * The catalog queries and their DuckDB oracle SQL are BOTH generated from
  * [[GraftConfig.active]], so the two sides can never disagree on geometry;
  * switching `active` to [[GraftConfig.Preset100TB]] re-parameterizes every
  * dedup/ANN plan without touching query code (the correctness gate then
  * needs testdata big enough to populate 16+ bands — the demo preset stays
  * the checked-in default).
  *
  * Invariants the presets must satisfy are `require`d at construction and
  * property-checked for both presets in GraftConfigSpec (LSH S-curve
  * recall/false-candidate bounds, PQ geometry, broadcast byte budgets).
  */
final case class GraftConfig(
    /** MinHash signature length; one md5 per shingle yields all slices. */
    numMinhash: Int,
    /** LSH bands; rows per band = numMinhash / numBands. More bands →
      * higher recall and more candidate pairs; more rows per band → sharper
      * S-curve cutoff.
      */
    numBands: Int,
    /** Cosine-LSH hyperplanes; buckets = 2^numHyperplanes. Size so the
      * expected bucket occupancy keeps the within-bucket pair work bounded.
      */
    numHyperplanes: Int,
    /** Embedding dimensionality (the testdata embeddings table contract). */
    dim: Int,
    /** IVF coarse cells (~√N); the centroid table must stay broadcastable. */
    numCells: Int,
    /** PQ subspaces × dims per subspace must equal `dim`. */
    pqSub: Int,
    pqSubDim: Int,
    /** CC edge ceiling for the partition-local union-find fast path; above
      * it the distributed min-label loop takes over.
      */
    localCcMaxEdges: Long,
    /** IVF corpus→cell routing depth — a scale knob like `numHyperplanes`.
      * `false`: flat exact argmin over all C cells (n·C distance terms) —
      * the right choice while C sits in the 10²–10³ range of the demo
      * geometry, where flat is both cheaper (fewer joins/stages) and exact.
      * `true`: two-level coarse→fine routing (IvfCentroids.assignHier,
      * ~2n√C terms, in-group approximation) — takes over at the capacity
      * geometry (C ≈ 1e5), where the flat argmin's n·C term is the single
      * superlinear cost of the whole IVF family. The catalog queries and
      * their oracle SQL dispatch on this TOGETHER, so either depth is
      * gate-checked end to end.
      */
    ivfRouted: Boolean,
    /** Routed assignment's MULTIPROBE width: each vector routes through
      * its `ivfRouteWidth` nearest coarse groups and takes the exact
      * argmin over their union of cells (~W·√C distance terms instead of
      * √C). W = 1 is the classic two-level route; it mis-assigns every
      * vector whose globally-nearest cell sits outside its single coarse
      * group — measured on the ×30 demo corpus (near-uniform vectors, the
      * worst case for coarse routing): true-neighbor cell coverage@np16
      * 8/24 at W=1 vs 12/24 at W=4 vs 17/24 flat-exact. W=4 recovers most
      * of the routing loss for ~4√C ≪ C work; cell-side group overlap
      * (listing each cell under its H nearest groups) was measured WORSE
      * for neighbor coverage (9/24 at H=8) and is not used.
      */
    ivfRouteWidth: Int
) {
  require(ivfRouteWidth >= 1, s"ivfRouteWidth must be >= 1: $ivfRouteWidth")
  require(numBands >= 1 && numMinhash % numBands == 0,
    s"numMinhash=$numMinhash must split evenly into numBands=$numBands")
  require(pqSub * pqSubDim == dim, s"PQ geometry $pqSub×$pqSubDim != dim $dim")
  require(numHyperplanes >= 1 && numHyperplanes <= 60,
    s"hyperplane sign bits must fit a long bucket id: $numHyperplanes")
  require(numCells >= 1 && localCcMaxEdges >= 1)

  /** MinHash rows per LSH band. */
  def rowsPerBand: Int = numMinhash / numBands

  /** Cosine-LSH bucket count. */
  def numBuckets: Long = 1L << numHyperplanes

  /** P(two docs at Jaccard `s` share ≥1 band) — the LSH S-curve. */
  def candidateProb(s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), numBands)

  /** IVF centroid broadcast size: numCells × dim × 8-byte longs. */
  def centroidBroadcastBytes: Long = numCells.toLong * dim * 8L
}

object GraftConfig {
  /** Catalog preset: tuned for 1e3–1e6 docs so the sf0.001–0.1 testdata
    * actually produces candidate pairs / multi-vector cells to check.
    */
  val Demo: GraftConfig = GraftConfig(
    numMinhash = 8, numBands = 4,
    numHyperplanes = 6,
    dim = 64, numCells = 8,
    pqSub = 8, pqSubDim = 8,
    localCcMaxEdges = 5_000_000L,
    ivfRouted = false, ivfRouteWidth = 1)

  /** 100 TB preset (README "Capacity math at 100 TB", 1e10 docs):
    *  - 32 bands × 4 rows: recall ≥ 1−5e−8 at Jaccard 0.8, candidate rate
    *    ≈ 5% at 0.25 — the standard web-dedup operating point;
    *  - 28 hyperplanes → 2.7e8 buckets, ~37 vectors/bucket at 1e10;
    *  - 1e5 ≈ √1e10 IVF cells → 51 MB centroid broadcast;
    *  - CC fast-path ceiling unchanged: it bounds EDGES (confirmed pairs),
    *    not corpus rows, and 5e6 edges ≈ 80 MB on one executor either way.
    */
  val Preset100TB: GraftConfig = GraftConfig(
    numMinhash = 128, numBands = 32,
    numHyperplanes = 28,
    dim = 64, numCells = 100_000,
    pqSub = 8, pqSubDim = 8,
    localCcMaxEdges = 5_000_000L,
    ivfRouted = true, ivfRouteWidth = 4)

  /** The preset the query catalog (and its generated oracle SQL) runs at:
    * `GRAFT_PRESET=100tb` selects the capacity preset at launch, anything
    * else (including unset — the test/correctness-gate environment) the
    * demo preset. Read once at class load: the catalog builds plans and
    * oracle SQL from these values, so the preset must not change mid-JVM.
    */
  val active: GraftConfig = sys.env.get("GRAFT_PRESET") match {
    case Some("100tb") => Preset100TB
    case Some("demo") | None => Demo
    // a typo'd preset must fail at launch, not silently run capacity
    // workloads at demo geometry (4×2 banding at 1e10 docs would flood
    // candidates with no warning anywhere)
    case Some(other) => sys.error(s"unknown GRAFT_PRESET '$other' (expected 'demo' or '100tb')")
  }

  /** The active preset's name ("demo" / "100tb") — the stamp every main
    * writes into its records, derived here so the variable is read (and
    * validated) in one place.
    */
  val activeName: String = if (active == Preset100TB) "100tb" else "demo"
}
