package graft.queries

import graft.SparkEntry
import graft.vlm.SparkSpec
import org.apache.spark.sql.functions._

/** Offline IVF codebook training: determinism, the parquet seam, and that
  * the trained codebook preserves ANN recall on the fixture corpus.
  */
class IvfCentroidsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def quantized = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), graft.functions.quantizeVec(col("embedding"), 1000).as("q"))

  private def collectCentroids(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("training is deterministic and round-trips through the codebook parquet") {
    val a = collectCentroids(IvfCentroids.train(quantized, k = 8, iters = 2, sampleMod = 4))
    val b = collectCentroids(IvfCentroids.train(quantized, k = 8, iters = 2, sampleMod = 4))
    assert(a == b)
    assert(a.size == 8)
    val dir = tempDir("graft-ivf").toString + "/codebook"
    IvfCentroids.save(quantized, dir, k = 8, iters = 2, sampleMod = 4)
    assert(collectCentroids(IvfCentroids.load(spark, dir)) == a)
    // Lloyd actually moved the centroids off the first-N seed
    val seed = collectCentroids(quantized.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("q").as("cq")))
    assert(a.exists { case (cid, cq) => seed(cid) != cq })
  }

  test("cappedSeed: (n/2)^(3/4) cell count bounds the budget, never the fit") {
    val tiny = quantized.filter(col("vec_id") < 100) // 100 vectors
    // oversized budget → floor((100/2)^0.75) = 18 cells, not 100 quadratic ones
    assert(IvfCentroids.cappedSeed(tiny, 1000).count() == 18)
    // budget under the cap → untouched
    assert(IvfCentroids.cappedSeed(tiny, 2).count() == 2)
    assert(IvfCentroids.cappedSeed(tiny, 1).count() == 1)
    // greatest(1, …): a 1-vector corpus still gets one cell ((0.5)^0.75 → 0)
    assert(IvfCentroids.cappedSeed(quantized.filter(col("vec_id") < 1), 1000).count() == 1)
    // the offline trainer persists the capped codebook, not k cells
    val dir = tempDir("graft-ivf-cap").toString + "/codebook"
    IvfCentroids.save(tiny, dir, k = 1000, iters = 1, sampleMod = 4)
    assert(IvfCentroids.load(spark, dir).count() == 18)
  }

  test("assignHier replays the two-level argmin rule exactly (vs in-test reference)") {
    // reference implementation of the contract, straight from the scaladoc:
    // coarse = lowest-cid ceil(sqrt(C)) centroids; fine centroid -> nearest
    // coarse (ties: lowest gid); vector -> nearest coarse, then argmin over
    // that group's fine centroids (ties: lowest cid)
    val cent = IvfCentroids.cappedSeed(quantized, 1000)
    val cents = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val gcap = math.max(1L, math.ceil(math.sqrt(cents.length.toDouble)).toLong)
    val coarse = cents.filter(_._1 < gcap)
    def route(q: Array[Long]): Long =
      coarse.map { case (gid, gq) => (l2(q, gq), gid) }.min._2
    val group = cents.map { case (cid, cq) => cid -> route(cq) }.toMap
    def assign(q: Array[Long]): Long = {
      val g = route(q)
      cents.filter { case (cid, _) => group(cid) == g }
        .map { case (cid, cq) => (l2(q, cq), cid) }.min._2
    }
    val expected = quantized.collect()
      .map(r => r.getLong(0) -> assign(r.getSeq[Long](1).toArray)).toMap
    val got = IvfCentroids.assignHier(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // and the routing is genuinely multi-cell on the fixture
    assert(got.values.toSet.size > 1)
  }

  test("assignFlat replays the exact argmin rule, and assign dispatches on the preset") {
    val cent = IvfCentroids.cappedSeed(quantized, 1000)
    val cents = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val expected = quantized.collect().map { r =>
      val q = r.getSeq[Long](1).toArray
      r.getLong(0) -> cents.map { case (cid, cq) => (l2(q, cq), cid) }.min._2
    }.toMap
    val got = IvfCentroids.assignFlat(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.values.toSet.size > 1)
    // the dispatcher must follow the active preset's routing depth
    val dispatched = IvfCentroids.assign(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFlags =
      if (graft.GraftConfig.active.ivfRouted)
        IvfCentroids.assignHier(quantized, cent, Seq("q"))
          .select(col("vec_id"), col("cell")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      else got
    assert(dispatched == viaFlags)
  }

  test("multiprobe width: W replays the top-W reference; W >= group count IS assignFlat") {
    val cent = IvfCentroids.cappedSeed(quantized, 1000)
    val cents = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val gcap = math.max(1L, math.ceil(math.sqrt(cents.length.toDouble)).toLong).toInt
    val coarse = cents.filter(_._1 < gcap)
    val group = cents.map { case (cid, cq) =>
      cid -> coarse.map { case (gid, gq) => (l2(cq, gq), gid) }.min._2
    }.toMap
    // reference: argmin over the union of the W nearest groups' cells
    def assignW(q: Array[Long], w: Int): Long = {
      val topG = coarse.map { case (gid, gq) => (l2(q, gq), gid) }
        .sorted.take(w).map(_._2).toSet
      cents.filter { case (cid, _) => topG(group(cid)) }
        .map { case (cid, cq) => (l2(q, cq), cid) }.min._2
    }
    val inputs = quantized.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    for (w <- Seq(2, 4)) {
      val got = IvfCentroids.assignHier(quantized, cent, Seq("q"), routeWidth = w)
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inputs.forall { case (vid, q) => got(vid) == assignW(q, w) },
        s"routeWidth=$w diverged from the top-$w reference")
    }
    // probing EVERY group is the exact argmin — the multiprobe ladder's
    // endpoint is assignFlat, so widening W can only converge, never drift
    val full = IvfCentroids.assignHier(quantized, cent, Seq("q"), routeWidth = gcap)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = IvfCentroids.assignFlat(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == flat)
    // and the streaming route replays the batch rule at the same widths
    val cbArr = cents.toSeq
    for (w <- Seq(2, 4)) {
      val batch = IvfCentroids.assignHier(quantized, cent, Seq("q"), routeWidth = w)
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val stream = graft.streaming.StreamingOps
        .assignVectors(quantized, cbArr, routed = true, routeWidth = w)
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stream == batch, s"streaming route diverged from batch at W=$w")
    }
  }

  test("routing-rung seam contract: every assigner is a drop-in behind assign()") {
    // The executable half of the IvfCentroids "next routing rung" design
    // note: a deeper router (b-ary tree / IMI) replaces assignHier ONLY if
    // it satisfies this contract — run here against both existing rungs so
    // the contract can't drift from what the serving layer (layout, probe,
    // oracle dispatch) actually relies on.
    val cent = IvfCentroids.cappedSeed(quantized, 1000)
    val validCells = cent.select("cid").collect().map(_.getLong(0)).toSet
    val base = quantized.withColumn("n2", graft.functions.longDot(col("q"), col("q")))
    val inputs = base.collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap

    for ((name, rung) <- Seq[(String, (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Seq[String]) => org.apache.spark.sql.DataFrame)](
      "assignFlat" -> (IvfCentroids.assignFlat(_, _, _)),
      "assignHier" -> (IvfCentroids.assignHier(_, _, _)))) {
      val out = rung(base, cent, Seq("q", "n2"))
      // schema: vec_id + payload pass-through + cell, nothing else
      assert(out.columns.toSeq === Seq("vec_id", "q", "n2", "cell"), s"$name schema")
      val rows = out.collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2), r.getLong(3)))
      // exactly one output row per input vector
      assert(rows.length === inputs.size, s"$name row count")
      assert(rows.map(_._1).toSet === inputs.keySet, s"$name vec coverage")
      // cell validity + payload byte-identity
      rows.foreach { case (vid, (q, n2, cell)) =>
        assert(validCells.contains(cell), s"$name: vec $vid routed to unknown cell $cell")
        assert((q, n2) === inputs(vid), s"$name: payload mutated for vec $vid")
      }
      // deterministic under rerun (total-order tie-breaks at every level)
      val again = rung(base, cent, Seq("q", "n2"))
        .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows.map(r => r._1 -> r._2._3).toMap === again, s"$name determinism")
    }
  }

  test("v6 with the trained codebook keeps recall@3 against exact brute force") {
    val vecs = quantized.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val exact = (0L until 10L).map { qid =>
      val top = vecs.keys.filter(_ != qid).toSeq
        .sortBy(v => (-cos(vecs(qid), vecs(v)), v)).take(3).toSet
      qid -> top
    }.toMap
    val ivf = SparkEntry.queries("v6_ivf_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = exact.map { case (qid, top) =>
      ivf.getOrElse(qid, Set.empty[Long]).intersect(top).size / 3.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@3 $mean; per-query ${recalls.toSeq}")
  }

  test("codebook publish: marker-committed revisions, reader isolation, one-revision retention") {
    import spark.implicits._
    val path = tempDir("graft-cb-pub").toString + "/cb"
    def cb(tag: Long) = Seq((0L, Seq(tag, 2L)), (1L, Seq(tag, 4L))).toDF("cid", "cq")
    def current = IvfCentroids.loadCurrent(spark, path).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).head).toMap

    assert(IvfCentroids.publish(cb(1L), path) === 1L)
    assert(current === Map(0L -> 1L, 1L -> 1L))

    // a CRASHED publish: revision parquet on disk, no marker — readers
    // must keep resolving v1 (the marker IS the commit point)
    cb(99L).write.mode("overwrite").parquet(s"$path/v2")
    assert(current === Map(0L -> 1L, 1L -> 1L))

    // the next successful publish takes version 2 (markers, not dirs,
    // number revisions), overwrites the crashed residue, and commits
    assert(IvfCentroids.publish(cb(2L), path) === 2L)
    assert(current === Map(0L -> 2L, 1L -> 2L))
    // retention: v1 still loadable for an in-flight reader
    assert(new java.io.File(s"$path/v1").exists())
    assert(spark.read.parquet(s"$path/v1").count() === 2)

    // a third publish sweeps v1 (grace window is one revision), keeps v2
    assert(IvfCentroids.publish(cb(3L), path) === 3L)
    assert(current === Map(0L -> 3L, 1L -> 3L))
    assert(!new java.io.File(s"$path/v1").exists())
    assert(new java.io.File(s"$path/v2").exists())
  }
}
