package graft.streaming

import graft.streaming.StreamingOps.{Event, Session}
import graft.vlm.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ops: correctness under micro-batch execution and parity with
  * the batch formulation of the same transformation.
  */
class StreamingOpsSpec extends SparkSpec {

  // base offset: the initial watermark is epoch 0, and events at exactly the
  // watermark are treated as late — keep the fixture well past it.
  private def ts(minute: Long): java.sql.Timestamp = new java.sql.Timestamp((1000 + minute) * 60000L)

  private val fixture = Seq(
    // user 1: two sessions separated by a 40-min gap
    Event(0, ts(0), 1, "view", 1.0),
    Event(1, ts(10), 1, "click", 2.0),
    Event(2, ts(50), 1, "view", 3.0),
    // user 2: one session
    Event(3, ts(5), 2, "view", 4.0),
    Event(4, ts(6), 2, "error", 5.0),
    // duplicate event id (ingest replay)
    Event(3, ts(5), 2, "view", 4.0)
  )

  test("tumblingCounts: identical results in batch and streaming execution") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val batch = StreamingOps.tumblingCounts(fixture.toDF())
      .orderBy("window_start", "event_type")
      .collect()
      .map(_.toSeq)

    val mem = MemoryStream[Event]
    val q = StreamingOps.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling").outputMode("complete").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      val streamed = s.table("tumbling").orderBy("window_start", "event_type").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("dedupEvents drops replayed event ids within the watermark horizon") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val mem = MemoryStream[Event]
    val q = StreamingOps.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      val ids = s.table("deduped").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("dedupEvents state survives a checkpoint restart (replay after restart still drops)") {
    // The operational claim behind incremental dedup: stop the query,
    // restart from the same checkpoint, and the seen-id state store must
    // come back — a pre-restart id replayed AFTER the restart is dropped by
    // restored state, not by luck. MemoryStream offsets resume from the
    // checkpoint's commit log, so only post-restart additions reprocess.
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    // memory sink refuses checkpoint recovery; the (recoverable) file sink
    // is also the honest fixture — it's what a production run restarts into
    val ckpt = tempDir("graft-dedup-ckpt").toString
    val out = tempDir("graft-dedup-out").toString
    val mem = MemoryStream[Event]
    def start() = StreamingOps.dedupEvents(mem.toDF())
      .writeStream.format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", ckpt).start()
    def ids(): Seq[Long] =
      s.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq

    val q1 = start()
    try {
      mem.addData(Event(10, ts(3), 1, "view", 1.0), Event(11, ts(4), 1, "click", 2.0))
      q1.processAllAvailable()
      assert(ids() == Seq(10L, 11L))
    } finally q1.stop()

    val q2 = start()
    try {
      // replay id 10 (committed before the restart) + a fresh id 12
      mem.addData(Event(10, ts(3), 1, "view", 1.0), Event(12, ts(5), 2, "view", 3.0))
      q2.processAllAvailable()
      assert(ids() == Seq(10L, 11L, 12L),
        s"restored state should drop the replayed id, got ${ids()}")
    } finally q2.stop()
  }

  test("readEventStream ingests a JSON event directory file-by-file (S1 lifted to readStream)") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-stream-in")
    java.nio.file.Files.writeString(dir.resolve("batch1.json"),
      """{"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1, "event_type": "view", "value": 2.0}
        |{"event_id": 2, "ts": "2024-01-01T10:01:00.000Z", "user_id": 2, "event_type": "click", "value": 3.0}""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("batch2.json"),
      """{"event_id": 3, "ts": "2024-01-01T10:02:00.000Z", "user_id": 1, "event_type": "view", "value": 5.0}""".stripMargin)

    val q = StreamingOps.tumblingCounts(StreamingOps.readEventStream(s, dir.toString))
      .writeStream.format("memory").queryName("file_ingest").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = s.table("file_ingest").orderBy("event_type").collect()
      assert(rows.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSeq ==
        Seq(("click", 1L), ("view", 2L)))
      // maxFilesPerTrigger=1 → at least two micro-batches
      assert(q.recentProgress.length >= 2)
    } finally q.stop()
  }

  test("clickErrorCorrelation: stream-stream interval join matches the batch range join") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val fx = Seq(
      Event(10, ts(0), 1, "click", 1.0),
      Event(11, ts(5), 1, "error", 0.0), // within 10 min of click 10 → paired
      Event(12, ts(30), 1, "error", 0.0), // 30 min later → unpaired
      Event(13, ts(31), 2, "click", 1.0),
      Event(14, ts(28), 2, "error", 0.0), // 3 min before click 13 → paired
      Event(15, ts(6), 3, "error", 0.0) // different user → unpaired
    )
    val batch = StreamingOps.clickErrorCorrelation(fx.toDF())
      .select("click_id", "error_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted

    val mem = MemoryStream[Event]
    val q = StreamingOps.clickErrorCorrelation(mem.toDF())
      .writeStream.format("memory").queryName("correlated").outputMode("append").start()
    try {
      mem.addData(fx: _*)
      q.processAllAvailable()
      // advance watermark so all joinable pairs emit
      mem.addData(Event(99, ts(10000), 9, "view", 0.0))
      q.processAllAvailable()
      val streamed = s.table("correlated")
        .select("click_id", "error_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(batch.toSeq == Seq((10L, 11L), (13L, 14L)))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("sessionize emits gap-closed sessions matching batch lag-window semantics") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      // advance the watermark far past every open session's gap horizon so
      // event-time timeouts fire and the remaining sessions emit.
      mem.addData(Event(99, ts(10000), 9, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Event(100, ts(20000), 9, "view", 0.0))
      q.processAllAvailable()

      val got = s.table("sessions").as[Session].collect()
        .filter(_.user_id != 9)
        .sortBy(x => (x.user_id, x.start_ts))
        .toSeq
      val want = Seq(
        Session(1, ts(0).getTime, ts(10).getTime, 2, 3.0),
        Session(1, ts(50).getTime, ts(50).getTime, 1, 3.0),
        Session(2, ts(5).getTime, ts(6).getTime, 3, 13.0) // dup id kept: dedup is a separate op
      )
      assert(got == want)

      // batch parity: same session boundaries from the lag-window program
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val batchSessions = fixture.toDF()
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess", when(col("prev_ts").isNull || col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
        .withColumn("session_n", sum(col("new_sess")).over(byUser.rowsBetween(Long.MinValue, 0)))
        .groupBy(col("user_id"), col("session_n"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      val batchKeyed = batchSessions
        .select("user_id", "n_events", "total_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(x => (x._1, x._3)).toSeq
      val streamKeyed = got.map(x => (x.user_id, x.n_events, x.total_value)).sortBy(x => (x._1, x._3))
      assert(streamKeyed == batchKeyed)
    } finally q.stop()
  }

  test("sessionize: a late-but-admissible event bridges provisional sessions") {
    // THE case immediate-emit gets wrong: trigger 1 leaves fragments
    // [0,20] and [60,60] (gap 40 > 30) and advances the watermark to 45;
    // trigger 2 delivers t=48 — late (48 < 60) but admissible (48 >= 45) —
    // whose gaps to both neighbors (28, 12) bridge them into ONE session.
    // Emitting [0,20] eagerly in trigger 1 would have been unretractable
    // and wrong; hold-until-watermark emits the single merged session.
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val events = Seq(
      Event(1, ts(0), 7, "view", 1.0), Event(2, ts(20), 7, "view", 1.0),
      Event(3, ts(60), 7, "view", 1.0))
    val late = Event(4, ts(48), 7, "view", 1.0)

    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_late").outputMode("append").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable() // watermark -> ts(60) - 15 min = ts(45)
      mem.addData(late)
      q.processAllAvailable()
      mem.addData(Event(99, ts(10000), 9, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Event(100, ts(20000), 9, "view", 0.0))
      q.processAllAvailable()
      val got = s.table("sessions_late").as[Session].collect()
        .filter(_.user_id == 7).toSeq
      assert(got == Seq(Session(7, ts(0).getTime, ts(60).getTime, 4, 4.0)))
      // and the batch path over the same rows agrees (its trailing open
      // session is the same closed one here)
      val batch = StreamingOps.sessionize((events :+ late).toDS(), gapMinutes = 30)
        .collect().toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("enrichWithDim joins a static broadcast dimension into the stream (stateless J1/J3 lift)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val dim = Seq(("view", "page_view"), ("click", "interaction")).toDF("event_type", "label")
    val mem = MemoryStream[Event]
    val q = StreamingOps.enrichWithDim(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      val got = s.table("enriched").select("event_id", "label").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got(0L) == "page_view" && got(1L) == "interaction")
      assert(got(4L) == "type_error") // unmatched type falls back
      // batch/stream parity
      val batch = StreamingOps.enrichWithDim(fixture.toDF(), dim)
        .select("event_id", "label").collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("scoreDocs: served top-K LM scoring matches the trained t14 sums, batch and stream") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog and the slow cat"),
      (2L, "the the the the the the"),
      (3L, "quick dog slow cat"))
    val ddf = docs.toDF("doc_id", "text")
    // full-coverage vocabulary: served scores must equal the exact t14
    // training-side sums
    val vocab = graft.queries.TextQueries.unigramBitsTable(ddf, topK = 1000)
    val trained = graft.queries.TextQueries.unigramSurprisal(ddf)
      .select("doc_id", "n_tokens", "sum_bits")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val served = StreamingOps.scoreDocs(ddf, vocab)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(served === trained)

    // truncated vocab: unseen tokens cost max+1 bits, never error
    val tiny = vocab.toSeq.sortBy(_._1).take(2).toMap
    val oov = StreamingOps.scoreDocs(ddf, tiny).collect()
    assert(oov.length === 3)

    // stream parity
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.scoreDocs(mem.toDF().toDF("doc_id", "text"), vocab)
      .writeStream.format("memory").queryName("lm_scored").outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = s.table("lm_scored")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(streamed === trained)
    } finally q.stop()
  }

  test("curateDocs: stateless curation stage is row-identical in batch and streaming") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near a river bank", "src1"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam", "src2"), // repetitive
      (3L, "a compact document with several distinct tokens inside it today", "src2"),
      (4L, "!!! ???", "src5"), // zero alnum tokens → dropped, not an error
      (5L, "data pipelines shuffle partition broadcast join window aggregate scan", "src5")
    )
    val batch = StreamingOps.curateDocs(docs.toDF("doc_id", "text", "source"))
      .collect().map(_.toSeq).toSet

    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.curateDocs(mem.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("curated").outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = s.table("curated").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      // docs 1/3/5 pass the quality gate and their mix1 buckets (171, 48,
      // 105) land under their source rates — the surviving set is exact
      assert(streamed.map(_.head) == Set(1L, 3L, 5L))
      // the repetitive doc is gated out wherever its sample bucket lands
      assert(!streamed.exists(_.head == 2L))
      // the zero-token doc is dropped by the guard, not a DIVIDE_BY_ZERO
      assert(!streamed.exists(_.head == 4L))
    } finally q.stop()
  }

  test("nearDupHits: streaming keep-first LSH dedup matches the batch run of the same stages") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    import StreamingOps.{BandHit, Doc}

    // 0 and 2 are exact near-dups (identical shingle sets → all 4 bands
    // collide); 1 and 3 are distinct; 4 repeats doc 1's text much later.
    val docs = Seq(
      Doc(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Doc(1, "one two three four five six seven eight nine ten eleven twelve"),
      Doc(2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Doc(3, "red green blue yellow purple orange cyan magenta white black"),
      Doc(4, "one two three four five six seven eight nine ten eleven twelve")
    )

    def dupPairs(hits: Seq[BandHit]): Set[(Long, Long)] =
      hits.map(h => (h.doc_id, h.rep_doc_id)).toSet

    val batch = dupPairs(
      StreamingOps.nearDupHits(StreamingOps.nearDupBandRows(docs.toDF())).collect().toSeq)
    // keep-first: 2 collapses onto 0, 4 onto 1
    assert(batch.contains((2L, 0L)) && batch.contains((4L, 1L)), batch)
    assert(!batch.exists { case (d, _) => d == 3L }, batch)

    val mem = MemoryStream[Doc]
    val q = StreamingOps.nearDupHits(StreamingOps.nearDupBandRows(mem.toDF()))
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    try {
      // arrival order follows doc_id, split across micro-batches so the
      // keep-first decision for docs 2 and 4 crosses the state store
      mem.addData(docs(0), docs(1))
      q.processAllAvailable()
      mem.addData(docs(2), docs(3), docs(4))
      q.processAllAvailable()
      val streamed = dupPairs(s.table("neardup").as[BandHit].collect().toSeq)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("packDocs: streaming stateful packing matches the t8 prefix-sum window across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    import StreamingOps.{PackIn, PackOut}

    val docs = Seq(
      PackIn(1, "a", 3000), PackIn(2, "a", 2000), PackIn(3, "b", 5000),
      PackIn(4, "a", 4000), PackIn(5, "b", 100), PackIn(6, "a", 1)
    )
    // batch run of the same function == the t8 window formula
    val batch = StreamingOps.packDocs(docs.toDS(), budget = 4096L)
      .collect().sortBy(_.doc_id)
    val expectedOffsets = Map(1L -> 0L, 2L -> 3000L, 4L -> 5000L, 6L -> 9000L, 3L -> 0L, 5L -> 5000L)
    batch.foreach { p =>
      assert(p.start_offset == expectedOffsets(p.doc_id), p)
      assert(p.pack_id == p.start_offset / 4096L, p)
    }

    val mem = MemoryStream[PackIn]
    val q = StreamingOps.packDocs(mem.toDS(), budget = 4096L)
      .writeStream.format("memory").queryName("packed").outputMode("append").start()
    try {
      // offsets must carry across the state store between triggers
      mem.addData(docs.take(3): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val streamed = s.table("packed").as[PackOut].collect().sortBy(_.doc_id)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("rateCapEvents: batch decisions equal the w8 window rank") {
    val s = spark
    import s.implicits._
    import StreamingOps.RateDecision

    // user 1: five events inside one hour (cap=3 → last two dropped);
    // user 2: two events (all kept). ts(m) keeps everything in hour 16.
    val evs = Seq(
      Event(10, ts(0), 1, "view", 1.0), Event(11, ts(1), 1, "click", 1.0),
      Event(12, ts(2), 1, "view", 1.0), Event(13, ts(3), 1, "view", 1.0),
      Event(14, ts(4), 1, "error", 1.0),
      Event(20, ts(2), 2, "view", 1.0), Event(21, ts(3), 2, "click", 1.0)
    )
    val got = StreamingOps.rateCapEvents(evs.toDS(), cap = 3)
      .collect().sortBy(_.event_id)

    // reference: the batch w8 formulation — rank by (ts, event_id) within
    // (user, hour), kept ⇔ rank ≤ cap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("hr")).orderBy(col("ts").asc, col("event_id").asc)
    val expected = evs.toDS().toDF()
      .withColumn("hr", expr("floor(unix_millis(ts) / 3600000)"))
      .withColumn("kept", row_number().over(w) <= 3)
      .select(col("event_id"), col("user_id"), col("hr"), col("event_type"), col("kept"))
      .as[RateDecision].collect().sortBy(_.event_id)
    assert(got.toSeq == expected.toSeq)
    assert(got.count(d => d.user_id == 1 && !d.kept) == 2)
  }

  test("rateCapEvents: cap enforced across micro-batches through the state store") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    import StreamingOps.RateDecision

    val evs = Seq(
      Event(10, ts(0), 1, "view", 1.0), Event(11, ts(1), 1, "click", 1.0),
      Event(12, ts(2), 1, "view", 1.0), Event(13, ts(3), 1, "view", 1.0),
      Event(14, ts(4), 1, "error", 1.0),
      Event(20, ts(2), 2, "view", 1.0), Event(21, ts(3), 2, "click", 1.0)
    )
    val batch = StreamingOps.rateCapEvents(evs.toDS(), cap = 3)
      .collect().sortBy(_.event_id)

    val mem = MemoryStream[Event]
    val q = StreamingOps.rateCapEvents(mem.toDS(), cap = 3)
      .writeStream.format("memory").queryName("ratecap").outputMode("append").start()
    try {
      // split MID-HOUR for user 1: events 12-14 must see the kept-count the
      // state store carried over from the first trigger (2), not zero
      mem.addData(evs.take(2): _*)
      q.processAllAvailable()
      mem.addData(evs.drop(2): _*)
      q.processAllAvailable()
      val streamed = s.table("ratecap").as[RateDecision].collect().sortBy(_.event_id)
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.count(_.kept) == 5)
    } finally q.stop()
  }

  test("screenVectors: streaming semantic-decontamination guard is row-identical to batch v13") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val sf = "/root/testdata/sf0.001"

    val emb = s.read.parquet(s"$sf/embeddings.parquet")
    val evals = StreamingOps.collectEvalVectors(emb)
    assert(evals.nonEmpty)
    // the batch operator the guard serves: the full v13 catalog query
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
    val batch = graft.SparkEntry.queries("v13_semantic_decontaminate")(s, sf)
      .collect().map(key).sortBy(_._1)
    assert(batch.exists(_._4) && batch.exists(!_._4))

    // same training vectors through the stateless guard, batch execution
    val train = emb.filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id"), graft.functions.quantizeVec(col("embedding"), 1000).as("q"))
    val guarded = StreamingOps.screenVectors(train, evals)
      .collect().map(key).sortBy(_._1)
    assert(guarded.toSeq == batch.toSeq)

    // stream parity across a mid-corpus trigger split (stateless: the
    // split cannot change any row)
    val rows = train.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val mem = MemoryStream[(Long, Seq[Long])]
    val q = StreamingOps.screenVectors(mem.toDF().toDF("vec_id", "q"), evals)
      .writeStream.format("memory").queryName("semscreen").outputMode("append").start()
    try {
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = s.table("semscreen").collect().map(key).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("screenDocsFuzzy: streaming fuzzy-decontamination guard is row-identical to batch d17") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    // the driver testdata has no cross-%97 near-dup pairs (d17 = 0 rows
    // there), so parity is asserted on a fixture with real contamination:
    // doc 0 is eval (0 % 97 == 0); docs 1-2 are near-dups of it, doc 3 an
    // exact dup, doc 97 a second unrelated eval, the rest clean filler
    val dir = tempDir("graft-d17-stream").toString
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square tonight"
    val docs = Seq(
      (0L, base),
      (1L, base.replace("quick", "swift")),
      (2L, base.replace("lazy dog", "sleepy cat")),
      (3L, base),
      (97L, "benchmarks deserve their own unrelated sentence with enough words to shingle cleanly"),
      // degenerate docs: empty and sub-shingle-length text — batch and
      // stream must agree these are clean, not crash or false-positive
      (41L, ""),
      (42L, "two tokens")
    ) ++ (4L to 40L).map(i => i ->
      s"document number $i talks about topic $i with entirely distinct content tokens alpha$i beta$i gamma$i delta$i epsilon$i")
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val batch = graft.queries.DedupQueries.fuzzyDecontaminate(s, dir)
      .collect().map(key).sortBy(_._1)
    assert(batch.nonEmpty, "fixture must produce contamination")
    assert(batch.map(_._1).toSet.subsetOf((1L to 96L).toSet), s"only train docs flagged: $batch")
    assert(batch.exists(_._4 == 1.0), "exact dup must verify at jaccard 1.0")

    // same training docs through the stateless guard, batch execution
    val evalIdx = StreamingOps.collectEvalDocs(
      graft.Tables.documents(s, dir).filter(col("doc_id") % 97 === 0))
    assert(evalIdx.sets.size === 2)
    val train = graft.Tables.documents(s, dir).filter(col("doc_id") % 97 =!= 0)
    val guarded = StreamingOps.screenDocsFuzzy(train, evalIdx)
      .collect().map(key).sortBy(_._1)
    assert(guarded.toSeq == batch.toSeq)

    // stream parity across a mid-corpus trigger split (stateless: the
    // split cannot change any row)
    val rows = train.select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.screenDocsFuzzy(mem.toDF().toDF("doc_id", "text"), evalIdx)
      .writeStream.format("memory").queryName("fuzzscreen").outputMode("append").start()
    try {
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = s.table("fuzzscreen").collect().map(key).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("screenDocsFuzzy: empty-doc x empty-eval collision matches batch (and 0/0 cannot throw)") {
    // Degenerate-doc parity: an empty doc digests to ONE shingle (md5 of
    // the zero-token window — shingle sets are never empty by
    // construction), so empty-train × empty-eval is a GENUINE jaccard-1.0
    // match on both sides, 1/1 not 0/0. The zero-union guard in the
    // streaming screen is therefore defense-in-depth for hand-built
    // EvalDocIndex maps with empty sets: it must never turn a degenerate
    // pair into a BigDecimal(NaN) throw that fails the whole trigger.
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-d17-empty").toString
    Seq(
      (0L, ""),           // eval member (0 % 97 == 0), empty text
      (5L, ""),           // train doc, empty text → exact match of eval 0
      (6L, "short text"), // sub-shingle-length train doc
      (7L, "a perfectly ordinary training document with plenty of distinct shingle material here")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val batch = graft.queries.DedupQueries.fuzzyDecontaminate(s, dir)
      .collect().map(key).sortBy(_._1)
    assert(batch.toSeq === Seq((5L, 1L, 0L, 1.0)),
      "empty train doc is an exact dup of the empty eval doc")

    val evalIdx = StreamingOps.collectEvalDocs(
      graft.Tables.documents(s, dir).filter(col("doc_id") % 97 === 0))
    val train = graft.Tables.documents(s, dir).filter(col("doc_id") % 97 =!= 0)
    val guarded = StreamingOps.screenDocsFuzzy(train, evalIdx)
      .collect().map(key).sortBy(_._1)
    assert(guarded.toSeq === batch.toSeq)

    // the defense-in-depth path itself: a hand-built index with a truly
    // empty eval set sharing the empty doc's band keys — the screen must
    // skip the 0/0 candidate (batch semantics: NaN fails the threshold),
    // not throw from BigDecimal(NaN)
    val emptyBands = StreamingOps.collectEvalDocs(
      Seq((0L, "")).toDF("doc_id", "text")).bands
    val degenerate = StreamingOps.EvalDocIndex(emptyBands, Map(0L -> Array.empty[Long]))
    val screened = StreamingOps.screenDocsFuzzy(
      Seq((5L, "")).toDF("doc_id", "text"), degenerate).collect()
    assert(screened.isEmpty, s"zero-union candidate leaked: ${screened.toSeq}")
  }

  test("assignVectors: streaming cell assignment is row-identical to the batch flat argmin") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val sf = "/root/testdata/sf0.001"

    val quantized = s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), graft.functions.quantizeVec(col("embedding"), 1000).as("q"))
    val cent = graft.queries.IvfCentroids.cappedSeed(quantized, 1000)
    val codebook = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val batch = graft.queries.IvfCentroids.assignFlat(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(batch.map(_._2).distinct.length > 1)

    // routed = false pins the FLAT rung under test regardless of the
    // active preset (the 100tb suite sweep runs with default dispatch =
    // routed; the routed rung has its own parity test below)
    val served = StreamingOps.assignVectors(quantized, codebook, routed = false)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(served.toSeq == batch.toSeq)

    // and the DEFAULT dispatch must equal the batch preset dispatch
    val dispatched = StreamingOps.assignVectors(quantized, codebook)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val batchDispatched = graft.queries.IvfCentroids.assign(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(dispatched.toSeq == batchDispatched.toSeq)

    // stream parity across a trigger split (stateless)
    val rows = quantized.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val mem = MemoryStream[(Long, Seq[Long])]
    val q = StreamingOps.assignVectors(mem.toDF().toDF("vec_id", "q"), codebook, routed = false)
      .select(col("vec_id"), col("cell"))
      .writeStream.format("memory").queryName("cellassign").outputMode("append").start()
    try {
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = s.table("cellassign")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("assignVectors: routed depth is row-identical to the batch two-level assignHier") {
    // the capacity-preset half of the dispatch (GraftConfig.active is
    // demo in this JVM, so exercise it via the explicit override): a
    // streamed vector must land in the SAME cell as the batch-built
    // index feeding the same inverted-list layout
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val quantized = s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), graft.functions.quantizeVec(col("embedding"), 1000).as("q"))
    val cent = graft.queries.IvfCentroids.cappedSeed(quantized, 64)
    val codebook = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val batch = graft.queries.IvfCentroids.assignHier(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(batch.map(_._2).distinct.length > 1)

    val served = StreamingOps.assignVectors(quantized, codebook, routed = true)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(served.toSeq == batch.toSeq)

    // and the two depths genuinely differ on this codebook — otherwise
    // this parity test would also pass with a flat-only implementation
    val flat = StreamingOps.assignVectors(quantized, codebook, routed = false)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(flat.toSeq != batch.toSeq,
      "expected at least one vector routed to a non-exact cell at depth 2")
  }

  test("screenVectors/assignVectors: dimension mismatch fails fast instead of truncating") {
    val s = spark
    import s.implicits._
    val evals = Seq(1L -> Array(1000L, 0L, 0L))
    val codebook = Seq(0L -> Array(0L, 0L, 0L), 1L -> Array(1000L, 1000L, 1000L))
    // a 2-dim vector against a 3-dim eval set used to score a silently
    // deflated cosine and pass the screen; now the batch fails
    val bad = Seq((7L, Seq(1000L, 0L))).toDF("vec_id", "q")
    intercept[Exception] {
      StreamingOps.screenVectors(bad, evals).collect()
    }
    intercept[Exception] {
      StreamingOps.assignVectors(bad, codebook).collect()
    }
    // well-formed rows still pass
    val good = Seq((7L, Seq(1000L, 0L, 0L))).toDF("vec_id", "q")
    assert(StreamingOps.screenVectors(good, evals).collect().length == 1)
    assert(StreamingOps.assignVectors(good, codebook).collect().length == 1)
  }

  test("ANN index maintenance survives a checkpoint restart without double-merging a batch") {
    // End-to-end streaming maintenance: assignVectors → foreachBatch delta
    // → mergeIvfDeltaOnce, stopped and restarted from the checkpoint with
    // a FORCED re-delivery (offsets committed, commit record removed — the
    // exact crash window a restart replays). The re-delivered micro-batch
    // re-invokes the sink with the same batchId; the merge ledger must
    // skip it, so the layout holds each delta row exactly once.
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    import graft.layout.Layout

    // 2-dim geometry with 4 well-separated cells; base corpus = one
    // resident per cell, clustered into 4 files (1 cell per file)
    val codebook = Seq(0L -> Array(0L, 0L), 1L -> Array(100L, 0L),
      2L -> Array(0L, 100L), 3L -> Array(100L, 100L))
    val base = Seq((0L, Seq(1L, 1L)), (1L, Seq(99L, 2L)),
      (2L, Seq(2L, 98L)), (3L, Seq(101L, 99L))).toDF("vec_id", "q")
    val lists = tempDir("graft-ann-lists").toString
    Layout.writeIvfClustered(
      StreamingOps.assignVectors(base, codebook, routed = false), lists, numFiles = 4)
    assert(Layout.readIvfLists(s, lists).count() === 4)

    val ckpt = tempDir("graft-ann-ckpt").toString
    val mem = MemoryStream[(Long, Seq[Long])]
    def start() = StreamingOps.assignVectors(
        mem.toDF().toDF("vec_id", "q"), codebook, routed = false)
      .writeStream
      .foreachBatch { (delta: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // skip no-data triggers: mergeIvfDelta treats an empty delta as a
        // loud caller error, but an empty MICRO-BATCH is routine
        if (!delta.isEmpty) Layout.mergeIvfDeltaOnce(s, lists, delta, id): Unit
      }
      .option("checkpointLocation", ckpt).start()

    // batch 0: two vectors near cell 1 — merged once, rows 4 → 6
    val q1 = start()
    try {
      mem.addData((10L, Seq(98L, 1L)), (11L, Seq(97L, 3L)))
      q1.processAllAvailable()
      assert(Layout.readIvfLists(s, lists).count() === 6)
    } finally q1.stop()

    // forced replay: drop batch 0's commit record (offsets survive), so the
    // restarted query re-runs batch 0 through the sink with batchId 0
    val commit0 = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(java.nio.file.Files.exists(commit0), "fixture: batch 0 should have committed")
    java.nio.file.Files.delete(commit0)
    // the local checksum FS shadows every file with a .crc — leave it
    // behind and the re-commit's rename fails as a spurious "concurrent
    // writer" instead of replaying
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))

    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 0 → ledger skips the merge
      assert(Layout.readIvfLists(s, lists).count() === 6,
        "re-delivered batch must not double-merge")
      // a FRESH batch still merges (the ledger gates per batch, not globally)
      mem.addData((12L, Seq(3L, 99L)))
      q2.processAllAvailable()
      assert(Layout.readIvfLists(s, lists).count() === 7)
    } finally q2.stop()

    // exactly-once outcome, row-level: every id present once
    val ids = Layout.readIvfLists(s, lists).select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L))
    // and the direct at-most-once contract: a second call with a merged
    // batchId is a no-op that reports false
    val again = StreamingOps.assignVectors(
      Seq((13L, Seq(98L, 2L))).toDF("vec_id", "q"), codebook, routed = false)
    assert(!Layout.mergeIvfDeltaOnce(s, lists, again, batchId = 0L))
    assert(Layout.readIvfLists(s, lists).count() === 7)
    assert(Layout.mergeIvfDeltaOnce(s, lists, again, batchId = 99L))
    assert(Layout.readIvfLists(s, lists).count() === 8)
  }

  test("histogramDeltas: streaming CDC counts match the batch updateHistogram fold (zero-drop at read)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val mem = MemoryStream[(Long, String, Long)] // (cell, label, delta)
    val q = StreamingOps.histogramDeltas(mem.toDF().toDF("cell", "label", "delta"))
      .writeStream.format("memory").queryName("hist_cdc").outputMode("complete").start()
    try {
      // day-0 inserts: the index build's change feed
      mem.addData((0L, "en", 1L), (0L, "en", 1L), (0L, "fr", 1L),
        (1L, "en", 1L), (1L, "fr", 1L), (2L, "fr", 1L))
      q.processAllAvailable()
      // the maintenance day as CDC: a mover 0→2 (fr), a retraction at
      // (1, fr), an in-place re-embed at (2, fr) (−1 then +1, must cancel)
      mem.addData((0L, "fr", -1L), (2L, "fr", 1L), (1L, "fr", -1L),
        (2L, "fr", -1L), (2L, "fr", 1L))
      q.processAllAvailable()
      val got = s.table("hist_cdc").filter(col("n_cl") > 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq

      // the batch fold over the same maintenance day
      val hist0 = Seq((0L, "en", 2L), (0L, "fr", 1L), (1L, "en", 1L),
        (1L, "fr", 1L), (2L, "fr", 1L)).toDF("cell", "label", "n_cl")
      val victims = Seq((101L, 0L, "fr"), (102L, 1L, "fr"), (103L, 2L, "fr"))
        .toDF("vec_id", "cell", "label")
      val assigned = Seq((101L, 2L, "fr"), (103L, 2L, "fr"))
        .toDF("vec_id", "cell", "label")
      val want = graft.queries.IncrementalPipeline.updateHistogram(hist0, victims, assigned)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(got === want, "streaming CDC histogram diverged from the batch fold")
      // emptied coordinates (0,fr) and (1,fr) are absent from the served
      // view even though their state rows linger at 0
      assert(!got.exists(t => (t._1, t._2) == (0L, "fr")))
      assert(!got.exists(t => (t._1, t._2) == (1L, "fr")))
      assert(got.contains((2L, "fr", 2L)), s"in-place re-embed must cancel: $got")
    } finally q.stop()
  }
}
