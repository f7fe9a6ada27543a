package graft.streaming

import graft.streaming.StreamingOps.BandHit
import graft.streaming.StreamingOpsSpec.Doc
import graft.vlm.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._

/** The streaming band-claim guard under the production RocksDB state-store
  * provider: the provider actually engages (rocksdb custom metrics appear
  * in progress), and the state-growth bound holds — state rows equal the
  * DISTINCT claimed band buckets and do NOT grow when duplicate content
  * replays (the property that keeps the store bounded by corpus
  * vocabulary, not corpus length, at 100 TB).
  */
class RocksDbStateSpec extends SparkSpec {

  /** The RocksDB provider keeps band-claim state off-heap and
    * disk-spillable; changelog checkpointing ships per-batch deltas; one
    * shared memory budget bounds all loaded stores.
    */
  private val rocksDbConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true")

  test("nearDupHits on RocksDB: state rows = distinct buckets, flat under duplicate replay") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val prior = rocksDbConf.keys
      .map(k => k -> s.conf.getOption(k)).toMap
    rocksDbConf.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val dupText = "alpha beta gamma delta epsilon zeta eta theta"
      val batch1 = Seq(Doc(1, dupText), Doc(2, "entirely different words occupy this second document"))
      val expectedBuckets = StreamingOps.nearDupBandRows(batch1.toDF())
        .select("band_idx", "band").distinct().count()

      val mem = MemoryStream[Doc]
      val q = StreamingOps.nearDupHits(StreamingOps.nearDupBandRows(mem.toDF()))
        .writeStream.format("memory").queryName("rocks_hits").outputMode("append").start()
      try {
        mem.addData(batch1: _*)
        q.processAllAvailable()
        val p1 = q.lastProgress.stateOperators.head
        assert(p1.customMetrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
          s"RocksDB provider not engaged; metrics: ${p1.customMetrics.keySet.asScala}")
        assert(p1.numRowsTotal === expectedBuckets)

        // duplicate content under a new id: emits hits against the original
        // claimant, claims NOTHING new — state must not grow
        mem.addData(Doc(3, dupText))
        q.processAllAvailable()
        val p2 = q.lastProgress.stateOperators.head
        assert(p2.numRowsTotal === expectedBuckets, "state grew on duplicate replay")

        val hits = s.table("rocks_hits").as[BandHit].collect().toSeq
        assert(hits.map(_.doc_id).distinct === Seq(3L))
        assert(hits.forall(_.rep_doc_id == 1L))
        assert(hits.size === graft.GraftConfig.active.numBands) // every band of doc 3 was claimed by doc 1
      } finally q.stop()
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("band-claim state on RocksDB survives a checkpoint restart") {
    // The production restart path: stop the guard, restart from the same
    // checkpoint, replay duplicate content. If the RocksDB store failed to
    // restore, the replayed doc would CLAIM every bucket itself and emit
    // zero hits; restored state instead yields a hit per band against the
    // original claimant.
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val prior = rocksDbConf.keys
      .map(k => k -> s.conf.getOption(k)).toMap
    rocksDbConf.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val ckpt = tempDir("graft-rocks-ckpt").toString
      val out = tempDir("graft-rocks-out").toString
      val dupText = "alpha beta gamma delta epsilon zeta eta theta"
      val mem = MemoryStream[Doc]
      def start() = StreamingOps.nearDupHits(StreamingOps.nearDupBandRows(mem.toDF()))
        .writeStream.format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", ckpt).start()

      val q1 = start()
      try {
        mem.addData(Doc(1, dupText), Doc(2, "entirely different words occupy this second document"))
        q1.processAllAvailable()
      } finally q1.stop()

      val q2 = start()
      try {
        mem.addData(Doc(3, dupText))
        q2.processAllAvailable()
        val hits = s.read.parquet(out).as[BandHit].collect().toSeq
        assert(hits.map(_.doc_id).distinct === Seq(3L),
          s"expected only the replayed doc to hit, got ${hits.map(_.doc_id).distinct}")
        assert(hits.forall(_.rep_doc_id == 1L), "hits must point at the pre-restart claimant")
        assert(hits.size === graft.GraftConfig.active.numBands,
          "every band must hit restored state — a short count means buckets were re-claimed")
      } finally q2.stop()
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
