package graft.streaming

import java.nio.file.Files

import graft.SparkTestBase

class StreamingOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("readEvents normalizes the events timestamp column to micros") {
    val events = StreamingOps.readEvents(spark, sf("events"))
    assert(events.schema("ts").dataType.typeName == "timestamp")
    assert(events.count() > 0)
  }

  test("windowed type counts: streaming over event files matches batch") {
    // stage micro-precision events as the streaming source directory
    val dir = Files.createTempDirectory("graft_stream_").toString
    val events = StreamingOps.readEvents(spark, sf("events"))
    events.write.mode("overwrite").parquet(dir)

    val streaming = StreamingOps.windowedTypeCounts(
      StreamingOps.readEventStream(spark, dir))
    val q = streaming.writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out")
        .orderBy("window_start", "event_type").collect()
      val expected = StreamingOps.windowedTypeCounts(events)
        .orderBy("window_start", "event_type").collect()
      assert(got.length == expected.length && got.length > 0)
      got.zip(expected).foreach { case (g, e) => assert(g == e) }
    } finally q.stop()
  }

  test("sliding type counts: every event lands in length/slide windows; streaming matches batch") {
    val dir = Files.createTempDirectory("graft_slide_").toString
    val events = StreamingOps.readEvents(spark, sf("events"))
    events.write.mode("overwrite").parquet(dir)
    val batch = StreamingOps.slidingTypeCounts(events)
    // coverage invariant: Σ sliding n_events = 4 × event count (1h/15m)
    val total = batch.agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect().head.getLong(0)
    assert(total == events.count() * 4, s"each event must land in 4 windows")
    // window starts align to 15-minute slide boundaries
    assert(batch.where(org.apache.spark.sql.functions.expr(
      "window_start % 900 != 0")).count() == 0)
    val streaming = StreamingOps.slidingTypeCounts(
      StreamingOps.readEventStream(spark, dir))
    val q = streaming.writeStream
      .format("memory").queryName("slide_out").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("slide_out")
        .orderBy("window_start", "event_type").collect()
      val expected = batch
        .orderBy("window_start", "event_type").collect()
      assert(got.length == expected.length && got.length > 0)
      got.zip(expected).foreach { case (g, e) => assert(g == e) }
    } finally q.stop()
  }

  test("intervalJoin matches hand-computed attribution windows on static frames") {
    def ev(id: Long, user: Long, sec: Int) =
      (id, new java.sql.Timestamp(sec * 1000L), user)
    val clicks = Seq(ev(1, 1, 100), ev(2, 2, 100)).toDF("event_id", "ts", "user_id")
    val imps = Seq(
      ev(10, 1, 95),  // within 10s lookback -> matches click 1
      ev(11, 1, 100), // same instant -> matches
      ev(12, 1, 89),  // 11s before -> outside
      ev(13, 1, 101), // after, lookahead 0 -> outside
      ev(14, 2, 99),  // other user's window
      ev(15, 3, 100)  // key with no left side
    ).toDF("event_id", "ts", "user_id")
    val got = StreamingOps.intervalJoin(clicks, imps, "user_id", "ts",
      lookback = "10 seconds", lookahead = "0 seconds")
      .select("l_event_id", "r_event_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 11L), (2L, 14L)))
  }

  test("stream-stream intervalJoin equals the batch twin on the events fixture") {
    val events = StreamingOps.readEvents(spark, sf("events"))
    val lDir = Files.createTempDirectory("graft_ij_l_").toString
    val rDir = Files.createTempDirectory("graft_ij_r_").toString
    events.where($"event_id" % 10 === 0).write.mode("overwrite").parquet(lDir)
    events.where($"event_id" % 10 =!= 0).write.mode("overwrite").parquet(rDir)
    val streaming = StreamingOps.intervalJoin(
      StreamingOps.readEventStream(spark, lDir),
      StreamingOps.readEventStream(spark, rDir),
      "user_id", "ts", lookback = "10 minutes", lookahead = "1 minute")
      .select("l_event_id", "r_event_id")
    val q = streaming.writeStream
      .format("memory").queryName("ij_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ij_out").as[(Long, Long)].collect().toSet
      val expected = StreamingOps.intervalJoin(
        events.where($"event_id" % 10 === 0),
        events.where($"event_id" % 10 =!= 0),
        "user_id", "ts", lookback = "10 minutes", lookahead = "1 minute")
        .select("l_event_id", "r_event_id").as[(Long, Long)].collect().toSet
      assert(got == expected)
      assert(expected.nonEmpty, "fixture should produce interval matches")
    } finally q.stop()
  }

  test("batch sessionization splits at the inactivity gap") {
    def usRow(id: Long, user: Long, min: Int, v: Double) =
      (id, min * 60000000L, user, v)
    val events = Seq(
      usRow(1, 1, 0, 1.0), usRow(2, 1, 10, 2.0),
      usRow(3, 1, 60, 5.0), // > 30min gap → new session
      usRow(4, 2, 5, 7.0)
    ).toDF("event_id", "ts_us", "user_id", "value")
    val got = StreamingOps.sessionizeBatch(events)
      .orderBy("user_id", "session_start")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(
      (1L, 0L, 10L * 60000000L, 2L, 3.0),
      (1L, 60L * 60000000L, 60L * 60000000L, 1L, 5.0),
      (2L, 5L * 60000000L, 5L * 60000000L, 1L, 7.0)))
  }

  test("streaming dedup drops in-watermark duplicate keys") {
    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(min: Int) = new java.sql.Timestamp((86400 + min * 60) * 1000L)
    val deduped = StreamingOps.streamingDedup(
      source.toDS().toDF("id", "ts", "payload"), Seq("id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      source.addData((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(2), "a-dup"))
      q.processAllAvailable()
      source.addData((2L, ts(3), "b-dup"), (3L, ts(4), "c"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("scdSink upserts each micro-batch into a parquet SCD1 target") {
    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val target = Files.createTempDirectory("graft_scd_sink_").toString + "/t"
    val q = StreamingOps.scdSink(
      source.toDS().toDF("id", "status"), target, mode = 1, Seq("id"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft_scd_ckpt_").toString)
      .start()
    try {
      source.addData((1L, "new"), (2L, "new"))
      q.processAllAvailable()
      source.addData((2L, "updated"), (3L, "new"))
      q.processAllAvailable()
      val rows = spark.read.parquet(target)
        .select("id", "status").as[(Long, String)].collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1L, "new"), (2L, "updated"), (3L, "new")))
    } finally q.stop()
  }

  test("sessionize on a static dataset emits every session including the trailing one") {
    import StreamingOps.SessionEvent
    def ts(min: Int) = new java.sql.Timestamp((86400 + min * 60) * 1000L)
    // user 1: two sessions (gap > 10 min between min 5 and min 40);
    // user 2: one session — all of them 'open' at end-of-input
    val events = Seq(
      SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(5), 2.0),
      SessionEvent(1L, ts(40), 3.0), SessionEvent(2L, ts(10), 4.0)
    ).toDS()
    val out = StreamingOps.sessionize(events, gapMs = 10 * 60 * 1000L)
      .collect().map(s => (s.user_id, s.n_events, s.sum_value))
      .sortBy(r => (r._1, r._3)).toSeq
    assert(out == Seq((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 4.0)))
  }

  test("stateful sessionize equals window-based sessionizeBatch on the events fixture") {
    import StreamingOps.SessionEvent
    val gapUs = 30L * 60 * 1000000L
    val events = StreamingOps.readEvents(spark, sf("events"))
    // compare at millisecond precision: SessionEvent carries a Timestamp
    // whose getTime is ms, while the window path works in exact µs — the
    // µs remainder cannot flip a 30-minute gap decision in this fixture
    val viaWindows = StreamingOps
      .sessionizeBatch(events.selectExpr("event_id",
        "CAST(unix_micros(ts) AS LONG) AS ts_us", "user_id", "value"),
        gap = gapUs)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2 / 1000, r._3 / 1000, r._4, r._5)).toSet
    val viaState = StreamingOps
      .sessionize(
        events.selectExpr("user_id", "ts", "value").as[SessionEvent],
        gapMs = gapUs / 1000)
      .collect().map(s => (s.user_id,
        s.session_start.getTime, s.session_end.getTime, s.n_events,
        BigDecimal(s.sum_value)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSet
    assert(viaState == viaWindows,
      s"state-based and window-based sessionization disagree: " +
        s"only-state=${(viaState -- viaWindows).take(3)} " +
        s"only-window=${(viaWindows -- viaState).take(3)}")
    assert(viaState.nonEmpty)
  }

  test("streamingNearDupFilter flags near-duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today ok"
    val other = "completely different text about large scale data processing pipelines now"
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val decisions = StreamingOps.streamingNearDupFilter(
      source.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = decisions.writeStream
      .format("memory").queryName("neardup_out").outputMode("append").start()
    try {
      source.addData((1L, base), (10L, other))
      q.processAllAvailable()
      // batch 2: a copy of doc 1 (state from batch 1 must flag it) and a
      // doubled copy of doc 10 — token sums double, signs hold, so the
      // simhash is identical while the text is not
      source.addData((2L, base), (20L, other + " " + other))
      q.processAllAvailable()
      val out = spark.table("neardup_out")
        .groupBy("id").agg(org.apache.spark.sql.functions.min("dupOf").as("dup_of"))
        .as[(Long, Option[Long])].collect().toMap
      assert(out(1L).isEmpty, "first occurrence is novel")
      assert(out(10L).isEmpty, "unrelated doc is novel")
      assert(out(2L).contains(1L), "identical doc flagged against batch-1 state")
      // near-identical text: same simhash bucket, small hamming
      assert(out(20L).contains(10L), "near-dup flagged across batches")
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on gap and watermark timeout") {
    import StreamingOps.SessionEvent
    // offset from epoch 0: a ts equal to the initial watermark (0) would be
    // dropped as late data
    def ts(min: Int) = new java.sql.Timestamp((86400 + min * 60) * 1000L)
    implicit val sqlCtx = spark.sqlContext
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SessionEvent]
    val out = StreamingOps.sessionize(source.toDS(), gapMs = 30 * 60000L)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // batch 1: user 1 opens a session (0,10min), user 2 opens one (5min)
      source.addData(
        SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(10), 2.0),
        SessionEvent(2L, ts(5), 7.0))
      q.processAllAvailable() // watermark advances to 10min
      assert(spark.table("sessions").count() == 0)

      // batch 2: user 1's 60-min event closes the first session in-batch
      // and advances the watermark to 60min
      source.addData(SessionEvent(1L, ts(60), 5.0))
      q.processAllAvailable()

      // batch 3 evaluates timeouts against the 60min watermark: user 2's
      // session (idle since 5min, timeout at 35min) closes via event-time
      // timeout; user 1's second session (timeout 90min) stays open
      source.addData(SessionEvent(3L, ts(61), 1.0))
      q.processAllAvailable()
      val closed = spark.table("sessions")
        .as[StreamingOps.SessionSummary].collect().sortBy(_.user_id)
      assert(closed.length == 2)
      assert(closed(0).user_id == 1L && closed(0).n_events == 2L
        && closed(0).sum_value == 3.0
        && closed(0).session_start == ts(0) && closed(0).session_end == ts(10))
      assert(closed(1).user_id == 2L && closed(1).n_events == 1L
        && closed(1).sum_value == 7.0)
    } finally q.stop()
  }

  test("dedupIngestSink builds a corpus + index that suppress cross-batch dups") {
    implicit val sqlCtx = spark.sqlContext
    // snapshot, not isEmpty: getPersistentRDDs is GLOBAL to the shared
    // SparkContext, and other suites legitimately leave session-lifetime
    // caches (e.g. TextDedupSpec's minhashLshPairs signatures). The sink's
    // no-leak contract is about what IT pins per batch — assert no NEW
    // entries relative to the pre-stream snapshot.
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val root = Files.createTempDirectory("graft_ingest_").toString
    val corpus = root + "/corpus"
    val index = root + "/index"
    val q = StreamingOps.dedupIngestSink(
      source.toDS().toDF("doc_id", "text"), "doc_id", "text", corpus, index)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      source.addData(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "entirely different sentence about distributed query planning"))
      q.processAllAvailable()
      source.addData(
        // near-dup of doc 1 from the PREVIOUS batch — must be suppressed
        (3L, "the quick brown fox jumps over the lazy dog again and again ok"),
        // novel
        (4L, "completely fresh content never seen in the historical corpus"),
        // exact re-delivery of doc 2 — suppressed by the index
        (5L, "entirely different sentence about distributed query planning"))
      q.processAllAvailable()
      val ids = spark.read.parquet(corpus)
        .select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 4L))
      val indexed = spark.read.parquet(index)
        .select("__id").distinct().as[Long].collect().sorted
      assert(indexed.toSeq == Seq(1L, 2L, 4L))
      // per-batch intermediates were released — no cache leak per batch
      assert((spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore)
        .isEmpty)
    } finally q.stop()
  }

  test("searchIndexSink ingests batches as segments; equals a rebuild; idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val root = Files.createTempDirectory("graft_search_sink_").toString
    val index = root + "/index"
    val q = StreamingOps.searchIndexSink(
      source.toDS().toDF("doc_id", "text"), "doc_id", "text", index,
      numBuckets = 8)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    val docs = Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "window functions sort within partitions"),
      (3L, "merge statements upsert the target table"),
      (4L, "the optimizer prunes parquet row groups"))
    try {
      source.addData(docs(0), docs(1))
      q.processAllAvailable()
      source.addData(docs(2), docs(3))
      q.processAllAvailable()
      val terms = Seq("spark", "window", "merge", "shuffles")
      val streamed = graft.operators.Search.searchIndex(spark, index, terms)
        .as[(Long, Long, Double)].collect().toSet
      // bit-identical to a one-shot rebuild over everything ingested
      val monoDir = root + "/mono"
      graft.operators.Search.writeIndex(
        docs.toDF("doc_id", "text"), "doc_id", "text", monoDir, numBuckets = 8)
      val rebuilt = graft.operators.Search.searchIndex(spark, monoDir, terms)
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == rebuilt && streamed.nonEmpty)
      // segments are batch-named, and a replayed batch id is a no-op
      val fs = new org.apache.hadoop.fs.Path(index)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val segNames = fs.listStatus(
        new org.apache.hadoop.fs.Path(index, "segments"))
        .map(_.getPath.getName).sorted
      assert(segNames.toSeq == Seq("seg_b000000000000", "seg_b000000000001"))
      val replayed = graft.operators.Search.appendSegment(
        docs.take(2).toDF("doc_id", "text"), "doc_id", "text", index,
        numBuckets = 8, segmentName = Some("seg_b000000000000"))
      assert(!replayed, "replay of a committed batch must be skipped")
      val after = graft.operators.Search.searchIndex(spark, index, terms)
        .as[(Long, Long, Double)].collect().toSet
      assert(after == rebuilt)
    } finally q.stop()
  }

  test("sketchStoreSink: rollups over the store equal exact; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, Long)]
    val root = Files.createTempDirectory("graft_sketch_store_").toString
    val store = root + "/store"
    val q = StreamingOps.sketchStoreSink(
      source.toDS().toDF("day", "user"),
      graft.operators.Sketches.distinctSketches(_, Seq("day"), "user"),
      store)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      source.addData((1, 10L), (1, 11L), (2, 10L))
      q.processAllAvailable()
      source.addData((1, 10L), (1, 12L), (2, 20L)) // user 10 repeats on day 1
      q.processAllAvailable()
      // rollup straight over the store: merges across batches AND groups
      val byDay = graft.operators.Sketches.rollupDistinct(
        spark.read.parquet(store), Seq("day"))
        .as[(Int, Long)].collect().toMap
      assert(byDay == Map(1 -> 3L, 2 -> 2L)) // exact in HLL exact-mode range
      // a replayed batch overwrites its own partition - nothing changes
      val batch2 = Seq((1, 10L), (1, 12L), (2, 20L)).toDF("day", "user")
      StreamingOps.writeSketchBatch(
        graft.operators.Sketches.distinctSketches(batch2, Seq("day"), "user"),
        store, batchId = 1L)
      val after = graft.operators.Sketches.rollupDistinct(
        spark.read.parquet(store), Seq("day"))
        .as[(Int, Long)].collect().toMap
      assert(after == byDay)
      // the store really is partitioned by batch (two committed batches)
      assert(spark.read.parquet(store).select("__batch_id")
        .distinct().as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    } finally q.stop()
  }

  test("dedupIngestSink survives a signature-less first batch") {
    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val root = Files.createTempDirectory("graft_ingest_ws_").toString
    val q = StreamingOps.dedupIngestSink(
      source.toDS().toDF("doc_id", "text"), "doc_id", "text",
      root + "/corpus", root + "/index")
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // whitespace-only docs: survive dedup but write ZERO index rows —
      // the index dir exists with no data files after this batch
      source.addData((1L, "   "), (2L, ""))
      q.processAllAvailable()
      // the next batch must still read/bootstrap the index, not crash on
      // schema inference over an empty parquet directory
      source.addData((3L, "real content arrives in the second batch"))
      q.processAllAvailable()
      val ids = spark.read.parquet(root + "/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
      assert(spark.read.parquet(root + "/index")
        .select("__id").distinct().as[Long].collect().toSeq == Seq(3L))
    } finally q.stop()
  }

  test("substrIngestSink cuts cross-batch repeated spans, no per-batch leak") {
    implicit val sqlCtx = spark.sqlContext
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val root = Files.createTempDirectory("graft_substr_sink_").toString
    val corpus = root + "/corpus"
    val index = root + "/index"
    val q = StreamingOps.substrIngestSink(
      source.toDS().toDF("doc_id", "text"), "doc_id", "text",
      corpus, index, w = 5)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // batch 0: short doc (no windows) + a 7-token phrase carrier
      source.addData(
        (1L, "tiny doc"),
        (2L, "alpha p1 p2 p3 p4 p5 p6 p7 omega"))
      q.processAllAvailable()
      // batch 1: doc 3 embeds the batch-0 phrase (cut), doc 4 is novel
      source.addData(
        (3L, "lead in p1 p2 p3 p4 p5 p6 p7 trailing words"),
        (4L, "completely novel follow-up content with nothing shared"))
      q.processAllAvailable()
      val rows = spark.read.parquet(corpus)
        .select("doc_id", "kept_text", "removed_tokens")
        .as[(Long, String, Int)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
      val byId = rows.map(r => r._1 -> (r._2, r._3)).toMap
      assert(byId(1L) == ("tiny doc", 0))
      assert(byId(2L)._2 == 0, "first occurrence keeps its content")
      assert(byId(3L) == ("lead in trailing words", 7),
        s"batch-1 copy of the phrase must be cut, got ${byId(3L)}")
      assert(byId(4L)._2 == 0)
      // index holds batch ORIGINAL hashes from both batches
      assert(spark.read.parquet(index).distinct().count() > 0)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore)
        .isEmpty, "per-batch checkpoint must be released with the scope")

      // logical FULL REPLAY of batch 0 (its index write committed): the
      // >= w docs self-suppress — all windows match, fully-cut docs are
      // dropped, nothing re-appends; only the window-less tiny doc dups
      source.addData(
        (1L, "tiny doc"),
        (2L, "alpha p1 p2 p3 p4 p5 p6 p7 omega"))
      q.processAllAvailable()
      val replayed = spark.read.parquet(corpus)
        .select("doc_id").as[Long].collect().sorted
      assert(replayed.toSeq == Seq(1L, 1L, 2L, 3L, 4L),
        s"replay must only duplicate the sub-w doc, got ${replayed.toSeq}")
    } finally q.stop()
  }

  test("funnelLogSink: streaming funnel equals batch twin under out-of-order cross-batch delivery") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_funnel_log_").toString
    val log = root + "/log"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val steps = Seq(
      "view" -> (col("event_type") === "view"),
      "click" -> (col("event_type") === "click"),
      "purchase" -> (col("event_type") === "purchase"))
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.funnelLogSink(
      source.toDS().toDF("user_id", "ts", "event_type"),
      log, "user_id", "ts", steps)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // batch 0: user 1's LATER steps arrive FIRST; user 2 views
      source.addData((1L, ts("2026-01-01 10:05:00"), "click"),
        (1L, ts("2026-01-01 10:10:00"), "purchase"),
        (2L, ts("2026-01-01 09:00:00"), "view"))
      q.processAllAvailable()
      // batch 1: user 1's view arrives LATE — it must re-order against
      // the click/purchase already in the log; user 3 is noise
      source.addData((1L, ts("2026-01-01 10:00:00"), "view"),
        (3L, ts("2026-01-01 08:00:00"), "search"))
      q.processAllAvailable()
      val streamed = StreamingOps.funnelUsersFromLog(spark, log,
        "user_id", steps.map(_._1))
        .collect().map(_.toString).sorted.toSeq
      val allEvents = Seq(
        (1L, ts("2026-01-01 10:05:00"), "click"),
        (1L, ts("2026-01-01 10:10:00"), "purchase"),
        (2L, ts("2026-01-01 09:00:00"), "view"),
        (1L, ts("2026-01-01 10:00:00"), "view"),
        (3L, ts("2026-01-01 08:00:00"), "search"))
        .toDF("user_id", "ts", "event_type")
      val batch = graft.operators.Funnels.funnelUsers(
        allEvents, "user_id", "ts", steps)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        "log twin must equal the batch funnel over all delivered events")
      // user 1 reached all three despite the view arriving last
      val u1 = StreamingOps.funnelUsersFromLog(spark, log, "user_id",
        steps.map(_._1)).where(col("user_id") === 1L).collect().head
      assert(u1.getAs[Long]("steps_completed") == 3L)
      // replaying a batch id overwrites its own directory — no duplicates
      StatLog.writeBatch(graft.operators.Funnels.matchedStepEvents(
        Seq((1L, ts("2026-01-01 10:00:00"), "view"),
          (3L, ts("2026-01-01 08:00:00"), "search"))
          .toDF("user_id", "ts", "event_type"),
        "user_id", "ts", steps), log, batchId = 1L)
      val replayed = StreamingOps.funnelUsersFromLog(spark, log,
        "user_id", steps.map(_._1))
        .collect().map(_.toString).sorted.toSeq
      assert(replayed == batch, "batch replay must be a no-op")
      // the log stores only MATCHED rows: user 3's non-step event is gone
      assert(spark.read.parquet(log).where(col("user_id") === 3L).count() == 0)
      // compaction folds the batch fan-out into one partition with the
      // SAME funnel; a post-compaction replay of an old batch id is
      // still a no-op (duplicate-insensitive readers)
      StreamingOps.compactStatLog(spark, log)
      val dirs = new java.io.File(log).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
      assert(dirs == Seq("batch=c000000000000"), s"unexpected dirs: $dirs")
      val compacted = StreamingOps.funnelUsersFromLog(spark, log,
        "user_id", steps.map(_._1))
        .collect().map(_.toString).sorted.toSeq
      assert(compacted == batch, "compaction must not change the funnel")
      StatLog.writeBatch(graft.operators.Funnels.matchedStepEvents(
        Seq((1L, ts("2026-01-01 10:00:00"), "view"))
          .toDF("user_id", "ts", "event_type"),
        "user_id", "ts", steps), log, batchId = 1L)
      val afterReplay = StreamingOps.funnelUsersFromLog(spark, log,
        "user_id", steps.map(_._1))
        .collect().map(_.toString).sorted.toSeq
      assert(afterReplay == batch,
        "post-compaction replay must not change the funnel")
    } finally q.stop()
  }

  test("retentionLogSink: streaming retention equals batch twin; pairs dedup across batches") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_ret_log_").toString
    val log = root + "/log"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingOps.retentionLogSink(
      source.toDS().toDF("user_id", "ts"), log, "user_id", "ts",
      periodDays = 7)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // users 1,2 start in week 0; user 1 returns in weeks 1 and 2 —
      // the week-1 activity is delivered TWICE (two batches)
      source.addData((1L, ts("2026-01-01 10:00:00")),
        (2L, ts("2026-01-02 10:00:00")),
        (1L, ts("2026-01-08 10:00:00")))
      q.processAllAvailable()
      source.addData((1L, ts("2026-01-09 10:00:00")), // same period again
        (1L, ts("2026-01-15 10:00:00")))
      q.processAllAvailable()
      val streamed = StreamingOps.cohortRetentionFromLog(spark, log)
        .collect().map(_.toString).sorted.toSeq
      val allEvents = Seq(
        (1L, ts("2026-01-01 10:00:00")), (2L, ts("2026-01-02 10:00:00")),
        (1L, ts("2026-01-08 10:00:00")), (1L, ts("2026-01-09 10:00:00")),
        (1L, ts("2026-01-15 10:00:00"))).toDF("user_id", "ts")
      val batch = graft.operators.Funnels.cohortRetention(
        allEvents, "user_id", "ts", periodDays = 7)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        "log twin must equal batch cohortRetention over all events")
      // the log is pairs-sized: user 1's duplicate week-1 events reduce
      // to one pair per (user, period, batch) before distinct-on-read
      val pairs = spark.read.parquet(log)
      assert(pairs.count() <= 5, s"pairs log must be bounded, got ${pairs.count()}")
    } finally q.stop()
  }

  test("shardIngestSink: arriving batches keep the shard layout token-balanced") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_shard_ingest_").toString
    val layout = root + "/shards"
    val base = (1L to 200L).map(i => (i, 20L + i % 60)).toDF("doc_id", "n_tok")
    graft.operators.Packing.writeShards(base, layout, "doc_id", "n_tok",
      numShards = 4)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = StreamingOps.shardIngestSink(
      source.toDS().toDF("doc_id", "n_tok"), layout)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      source.addData((1000L to 1080L).map(i => (i, 25L + i % 50)): _*)
      q.processAllAvailable()
      source.addData((2000L to 2060L).map(i => (i, 15L + i % 70)): _*)
      q.processAllAvailable()
      val back = spark.read.parquet(layout)
      assert(back.count() == 200 + 81 + 61)
      val totals = back.groupBy("shard")
        .agg(org.apache.spark.sql.functions.sum("n_tok").as("t"))
        .collect().map(_.getAs[Long]("t"))
      val target = (totals.sum + 3) / 4
      assert(totals.forall(t => math.abs(t - target) <= 100),
        s"streamed layout must stay balanced: ${totals.toSeq} vs $target")
      // the manifest certifies the streamed state
      val node = graft.io.Json.parse(new String(Files.readAllBytes(
        java.nio.file.Paths.get(layout,
          graft.operators.Packing.ShardManifestFileName)), "UTF-8"))
      val manTok = {
        import scala.jdk.CollectionConverters._
        node.get("shards").elements().asScala.map(_.get("tokens").asLong()).sum
      }
      assert(manTok == totals.sum)
    } finally q.stop()
  }

  test("annIngestSink: streamed embeddings become searchable under frozen quantizers") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_ann_ingest_").toString
    val embeddings = spark.read.parquet(sf("embeddings"))
    import org.apache.spark.sql.functions.col
    val base = embeddings.filter(col("vec_id") < 400)
    val index = graft.operators.Ann.IvfPq.build(base, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, residual = true)
    graft.operators.Ann.IvfPq.writeIndex(index, s"$root/idx")
    val fresh = embeddings.filter(col("vec_id") >= 400 && col("vec_id") < 420)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long](0), r.getSeq[Float](1)))
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.annIngestSink(
      source.toDS().toDF("vec_id", "embedding"), s"$root/idx",
      "vec_id", "embedding")
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      source.addData(fresh.take(10): _*)
      q.processAllAvailable()
      source.addData(fresh.drop(10): _*)
      q.processAllAvailable()
      val loaded = graft.operators.Ann.IvfPq.loadIndex(spark, s"$root/idx")
      val queries = embeddings
        .filter(col("vec_id") >= 400 && col("vec_id") < 420)
      val hits = graft.operators.Ann.IvfPq.search(loaded, queries,
        "vec_id", "embedding", k = 3, nprobe = 8)
        .where(col("q_id") === col("id")).count()
      assert(hits == 20, s"streamed vectors must find themselves, got $hits/20")
    } finally q.stop()
  }

  test("fingerprintSink: merged per-batch fingerprints equal the one-shot corpus fingerprint") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_fp_sink_").toString
    val log = root + "/log"
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.fingerprintSink(
      source.toDS().toDF("id", "text"), Seq("id", "text"), log)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      source.addData((1L, "alpha"), (2L, "beta"))
      q.processAllAvailable()
      source.addData((3L, "gamma"))
      q.processAllAvailable()
      val merged = StreamingOps.fingerprintFromLog(spark, log).collect().head
      val oneShot = graft.operators.Validation.corpusFingerprint(
        Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "text"),
        Seq("id", "text")).collect().head
      assert(merged.toSeq == oneShot.toSeq,
        s"merge law must hold: $merged vs $oneShot")
      // compaction folds by MERGE (sum/xor), not distinct — the standing
      // fingerprint is unchanged, and a replayed pre-compaction batch id
      // (its directory re-created after being folded) cannot re-enter the
      // merge, which would double its count/sum contribution
      StreamingOps.compactStatLog(spark, log)
      assert(StreamingOps.fingerprintFromLog(spark, log)
        .collect().head.toSeq == oneShot.toSeq,
        "fingerprint must be compaction-invariant")
      graft.operators.Validation.corpusFingerprint(
        Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text"), Seq("id", "text"))
        .write.mode("overwrite").parquet(log + "/batch=b000000000000")
      assert(StreamingOps.fingerprintFromLog(spark, log)
        .collect().head.toSeq == oneShot.toSeq,
        "post-compaction replay of a folded batch must be a merge no-op")
    } finally q.stop()
  }

  test("privacy-twin sinks: streamed combo judgments equal the batch operators") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_priv_log_").toString
    val kLog = root + "/klog"
    val lLog = root + "/llog"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val qk = StreamingOps.comboCountSink(
      src.toDS().toDF("lang", "source"), Seq("lang"), kLog)
      .option("checkpointLocation", root + "/ck1").start()
    val ql = StreamingOps.diversityPairSink(
      src.toDS().toDF("lang", "source"), Seq("lang"), "source", lLog)
      .option("checkpointLocation", root + "/ck2").start()
    try {
      // en reaches k=3 only ACROSS batches; de stays rare; en gets 2
      // distinct sources, de only 1
      src.addData(("en", "web"), ("en", "web"), ("de", "web"))
      qk.processAllAvailable(); ql.processAllAvailable()
      src.addData(("en", "book"), ("de", "web"))
      qk.processAllAvailable(); ql.processAllAvailable()
      val kPass = StreamingOps.passingCombosFromLog(spark, kLog, Seq("lang"), 3L)
        .select("lang").as[String].collect().toSet
      assert(kPass == Set("en"), s"k=3 pass list: $kPass")
      // equals the batch operator's surviving combo set
      val all = Seq(("en", "web"), ("en", "web"), ("de", "web"),
        ("en", "book"), ("de", "web")).toDF("lang", "source")
      val batchPass = graft.operators.Validation.kAnonymity(all, Seq("lang"), 3)
        .select("lang").distinct().as[String].collect().toSet
      assert(kPass == batchPass)
      val lPass = StreamingOps.diverseCombosFromLog(spark, lLog,
        Seq("lang"), "source", 2L)
        .select("lang").as[String].collect().toSet
      assert(lPass == Set("en"), s"l=2 pass list: $lPass")
      val batchL = graft.operators.Validation.lDiversity(all, Seq("lang"),
        "source", 2)
        .select("lang").distinct().as[String].collect().toSet
      assert(lPass == batchL)
      // the logs are combos-sized, not events-sized
      assert(spark.read.parquet(kLog).count() <= 4)
      assert(spark.read.parquet(lLog).count() <= 4)
      // compaction folds the SUM-mergeable count log by summing (en kept
      // its total of 3 across batches — a distinct fold would collapse
      // the two identical ("de", 1) partial rows and undercount de, and
      // worse, collapse nothing for en but break on the next batch)
      StreamingOps.compactStatLog(spark, kLog)
      StreamingOps.compactStatLog(spark, lLog)
      assert(StreamingOps.passingCombosFromLog(spark, kLog, Seq("lang"), 3L)
        .select("lang").as[String].collect().toSet == Set("en"))
      assert(StreamingOps.passingCombosFromLog(spark, kLog, Seq("lang"), 2L)
        .select("lang").as[String].collect().toSet == Set("en", "de"),
        "de's cross-batch total of 2 must survive the fold")
      assert(StreamingOps.diverseCombosFromLog(spark, lLog,
        Seq("lang"), "source", 2L)
        .select("lang").as[String].collect().toSet == Set("en"))
      // a replayed pre-compaction batch id re-creating its folded
      // directory must NOT double-count the sum log
      Seq(("en", 2L), ("de", 1L)).toDF("lang", "__kcnt")
        .write.mode("overwrite").parquet(kLog + "/batch=b000000000000")
      assert(StreamingOps.passingCombosFromLog(spark, kLog, Seq("lang"), 4L)
        .select("lang").as[String].collect().isEmpty,
        "replayed folded batch must be excluded from the sum")
    } finally { qk.stop(); ql.stop() }
  }

  test("sum-log readers fold by the cells' own keys and refuse other keys") {
    val log = Files.createTempDirectory("graft_sum_log_").toString
    Seq(("en", "web", 2L), ("de", "web", 1L)).toDF("lang", "source", "__kcnt")
      .write.parquet(log + "/batch=b000000000000")
    Seq(("en", "web", 1L)).toDF("lang", "source", "__kcnt")
      .write.parquet(log + "/batch=b000000000001")
    val pass = StreamingOps.passingCombosFromLog(spark, log,
      Seq("source", "lang"), 3L).as[(String, String, Long)].collect().toSeq
    assert(pass == Seq(("web", "en", 3L)), "cells sum across batches")
    // a subset of the sink's keys would read partial cells as combos
    intercept[IllegalArgumentException](
      StreamingOps.passingCombosFromLog(spark, log, Seq("lang"), 3L))
  }

  test("cmsSink: streamed cells equal the batch sketch; fold + replay are no-ops") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cms_log_").toString
    val log = root + "/cms"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val q = StreamingOps.cmsSink(src.toDS().toDF("lang", "tok"),
      Seq("lang"), "tok", log, depth = 3, width = 64)
      .option("checkpointLocation", root + "/ck").start()
    try {
      src.addData(("en", "the"), ("en", "the"), ("en", "cat"), ("de", "der"))
      q.processAllAvailable()
      src.addData(("en", "the"), ("de", "der"), ("de", "hund"))
      q.processAllAvailable()
      val all = Seq(("en", "the"), ("en", "the"), ("en", "cat"),
        ("de", "der"), ("en", "the"), ("de", "der"), ("de", "hund"))
        .toDF("lang", "tok")
      def cells(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))
          -> r.getLong(3)).toMap
      val streamed = cells(StreamingOps.cmsCellsFromLog(spark, log, Seq("lang"))
        .select("lang", "__d", "__b", "cnt"))
      val batch = cells(graft.operators.Sketches.cmsSketches(all,
        Seq("lang"), "tok", depth = 3, width = 64)
        .select("lang", "__d", "__b", "cnt"))
      assert(streamed == batch, "log fold must equal the batch sketch")
      // point estimates ride the shared estimate path
      val est = graft.operators.Sketches.cmsPointEstimates(
        StreamingOps.cmsCellsFromLog(spark, log, Seq("lang")),
        Seq("the", "der").toDF("key"), "key", depth = 3, width = 64)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(est(("en", "the")) == 3L && est(("de", "der")) == 2L, s"got $est")
      // compaction folds additively; estimates unchanged
      StreamingOps.compactStatLog(spark, log)
      assert(cells(StreamingOps.cmsCellsFromLog(spark, log, Seq("lang"))
        .select("lang", "__d", "__b", "cnt")) == batch)
      // a replayed folded batch id must not double-count
      graft.operators.Sketches.cmsSketches(
        Seq(("en", "the"), ("en", "the"), ("en", "cat"), ("de", "der"))
          .toDF("lang", "tok"), Seq("lang"), "tok", depth = 3, width = 64)
        .withColumnRenamed("cnt", "__kcnt")
        .write.mode("overwrite").parquet(log + "/batch=b000000000000")
      assert(cells(StreamingOps.cmsCellsFromLog(spark, log, Seq("lang"))
        .select("lang", "__d", "__b", "cnt")) == batch,
        "replayed folded batch must be excluded from the sum")
    } finally q.stop()
  }

  test("linkageIngestSink: streamed batches resolve entities like the batch index") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_link_ingest_").toString
    val idx = root + "/idx"
    val name = graft.operators.Linkage.FieldWeight("name", 0.95, 0.001)
    val phone = graft.operators.Linkage.FieldWeight("phone", 0.9, 0.01)
    graft.operators.Linkage.Index.create(
      Seq((1L, "A", "alice", "p1"), (2L, "B", "bob", "p2"))
        .toDF("id", "block", "name", "phone"),
      idx, "id", Seq("block"), Seq(name, phone), threshold = 5.0)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, String)]
    val q = StreamingOps.linkageIngestSink(
      source.toDS().toDF("id", "block", "name", "phone"), idx)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      source.addData((10L, "A", "alice", "p9")) // twin of 1
      q.processAllAvailable()
      source.addData((20L, "B", "bob", "p8"), (21L, "A", "carol", "p7"))
      q.processAllAvailable()
      val ents = graft.operators.Linkage.Index.entities(spark, idx)
        .collect().map(r => r.getAs[Long]("id") ->
          r.getAs[Long]("entity_id")).toMap
      assert(ents == Map(1L -> 1L, 10L -> 1L, 2L -> 2L, 20L -> 2L,
        21L -> 21L), s"got $ents")
    } finally q.stop()
  }

  test("compactStatLog is additive: mid-fold batches, in-flight dirs, and crash leftovers survive") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_statlog_add_").toString
    val log = root + "/log"
    StatLog.writeKind(spark, log, "distinct")
    // conflicting fold law is a loud layout error
    intercept[IllegalStateException](StatLog.writeKind(spark, log, "sum"))
    def writeB(id: Long, rows: Seq[Long]): Unit =
      rows.toDF("v").write.mode("overwrite")
        .parquet(f"$log/batch=b$id%012d")
    writeB(0L, Seq(1L, 2L))
    writeB(1L, Seq(2L, 3L))
    // an in-flight batch directory (no _SUCCESS yet — exactly what a live
    // sink's half-written micro-batch looks like to the compactor's
    // snapshot) must be skipped by the fold and stay readable afterward
    writeB(2L, Seq(9L))
    assert(new java.io.File(log + "/batch=b000000000002/_SUCCESS").delete())
    StreamingOps.compactStatLog(spark, log)
    val names = new java.io.File(log).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq.sorted
    assert(names == Seq("batch=b000000000002", "batch=c000000000000"),
      s"unexpected layout: $names")
    assert(StatLog.read(spark, log).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 9L), "skipped in-flight batch must stay live")
    // a batch landing AFTER the fold's snapshot (equivalently: mid-fold)
    // is untouched; the next fold picks up both it and the skipped one
    // (now completed — the replay restored its _SUCCESS)
    writeB(3L, Seq(4L))
    assert(new java.io.File(log + "/batch=b000000000002/_SUCCESS").createNewFile())
    StreamingOps.compactStatLog(spark, log)
    // simulate a crash between publish and deletions: re-create a folded
    // directory. Readers exclude it (pure), the next compact deletes it.
    writeB(1L, Seq(2L, 3L))
    assert(StatLog.read(spark, log).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 9L))
    StreamingOps.compactStatLog(spark, log) // nothing new: deletions only
    assert(!new java.io.File(log + "/batch=b000000000001").exists(),
      "crash-leftover folded dir must be removed by the next compact")
    assert(StatLog.read(spark, log).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 9L))
    val finalNames = new java.io.File(log).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq.sorted
    assert(finalNames == Seq("batch=c000000000001"), s"layout: $finalNames")
  }

  test("StatLog is loud on unrecognized batch directories (legacy layouts never silently excluded)") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_statlog_alien_").toString
    val log = root + "/log"
    StatLog.writeKind(spark, log, "distinct")
    Seq(1L, 2L).toDF("v").write.parquet(f"$log/batch=b${0L}%012d")
    // a pre-additive compactor wrote `batch=compacted`; reading around it
    // would undercount every downstream stat with no error — refuse loudly
    Seq(0L).toDF("v").write.parquet(s"$log/batch=compacted")
    val e = intercept[IllegalStateException](StatLog.read(spark, log))
    assert(e.getMessage.contains("batch=compacted"), e.getMessage)
    intercept[IllegalStateException](StreamingOps.compactStatLog(spark, log))
    // explicit migration (here: removal) restores reads; non-batch
    // sibling dirs (checkpoints etc.) are not the log's concern
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$log/batch=compacted"))
    Seq(3L).toDF("v").write.parquet(s"$log/_checkpoint_scratch")
    assert(StatLog.read(spark, log).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L), "explicit removal restores reads; non-batch dirs ignored")
  }

  test("Maintenance.compact dispatches by kind and is loud on unknown kinds") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_maint_").toString
    val log = root + "/statlog"
    val steps = Seq(
      "view" -> (col("event_type") === "view"),
      "click" -> (col("event_type") === "click"))
    StatLog.writeBatch(graft.operators.Funnels.matchedStepEvents(
      Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), "view"))
        .toDF("user_id", "ts", "event_type"),
      "user_id", "ts", steps), log, batchId = 0L)
    StatLog.writeBatch(graft.operators.Funnels.matchedStepEvents(
      Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "click"))
        .toDF("user_id", "ts", "event_type"),
      "user_id", "ts", steps), log, batchId = 1L)
    // a pre-existing log (written outside the sink constructors) must be
    // marked with its fold law before maintenance will touch it
    intercept[IllegalStateException](
      graft.operators.Maintenance.compact(spark, "stat-log", log))
    StatLog.writeKind(spark, log, "distinct")
    graft.operators.Maintenance.compact(spark, "stat-log", log)
    val dirs = new java.io.File(log).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(dirs == Seq("batch=c000000000000"), s"unexpected dirs: $dirs")
    val u1 = StreamingOps.funnelUsersFromLog(spark, log, "user_id",
      steps.map(_._1)).collect().head
    assert(u1.getAs[Long]("steps_completed") == 2L)
    intercept[RuntimeException](
      graft.operators.Maintenance.compact(spark, "nope", log))
    // the nightly loop stops loud on the first failure
    intercept[Exception](graft.operators.Maintenance.compactAll(spark,
      Seq("stat-log" -> log, "dedup-index" -> (root + "/missing"))))
  }

  test("warcIngestSink parses arriving archives; batch replay is idempotent") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_warc_ingest_").toString
    val corpus = root + "/corpus"
    // two tiny archives on disk, arriving as two micro-batches
    def writeArchive(name: String, ids: Seq[Int]): String = {
      val docs = ids.map(i => (i.toLong, s"doc body $i"))
        .toDF("doc_id", "text")
        .withColumn("uri", concat(lit("https://e.org/"), col("doc_id")))
        .withColumn("payload", encode(col("text"), "utf-8"))
        .coalesce(1)
      graft.io.warc.Warc.writeWarc(docs, s"$root/$name", "uri", "payload")
      s"$root/$name/part-00000.warc.gz"
    }
    val f1 = writeArchive("a1", Seq(1, 2))
    val f2 = writeArchive("a2", Seq(3, 4, 5))
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = StreamingOps.warcIngestSink(
      source.toDS().toDF("path"), "path", corpus)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      source.addData(f1)
      q.processAllAvailable()
      source.addData(f2)
      q.processAllAvailable()
      def ids() = spark.read.parquet(corpus)
        .select(regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long"))
        .as[Long].collect().sorted.toSeq
      assert(ids() == Seq(1L, 2L, 3L, 4L, 5L))
      // replaying batch 1 rewrites its own partition — no duplicates
      StreamingOps.writeWarcBatch(
        Seq(f2).toDF("path"), "path", corpus, batchId = 1L)
      assert(ids() == Seq(1L, 2L, 3L, 4L, 5L), "replay must be a no-op")
      assert(spark.read.parquet(corpus).select("__batch_id")
        .distinct().as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    } finally q.stop()
  }

  test("resampleSink: streamed grid equals the batch resample; fold + replay no-ops") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_rs_log_").toString
    val log = root + "/rs"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Double)]
    val q = StreamingOps.resampleSink(src.toDS().toDF("k", "ts_us", "v"),
      "ts_us", "v", Seq("k"), stepUs = 100L, log)
      .option("checkpointLocation", root + "/ck").start()
    val b1 = Seq(("a", 0L, 1.25), ("a", 10L, 2.0), ("b", 50L, 4.0))
    val b2 = Seq(("a", 350L, 0.5), ("b", 120L, 1.0))
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      def grid(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      val streamed = grid(StreamingOps.resampleGridFromLog(
        spark, log, Seq("k"), 100L))
      val batch = grid(graft.operators.Timeseries.resample(
        (b1 ++ b2).toDF("k", "ts_us", "v"), "ts_us", "v", Seq("k"), 100L))
      assert(streamed == batch, "standing grid must equal the batch twin")
      // the a-series gap buckets exist with zeros
      assert(streamed(("a", 100L)) == ((0L, 0L)))
      assert(streamed(("a", 300L)) == ((1L, 500000L)))
      // compaction folds additively; grid unchanged
      StreamingOps.compactStatLog(spark, log)
      assert(grid(StreamingOps.resampleGridFromLog(
        spark, log, Seq("k"), 100L)) == batch)
      // replaying a folded batch id must not double-count
      graft.operators.Timeseries.cells(
        b1.toDF("k", "ts_us", "v"), "ts_us", "v", Seq("k"), 100L)
        .select(col("k"), col("__b"), explode(array(
          struct(lit("n").as("__m"), col("n_events").as("__kcnt")),
          struct(lit("v").as("__m"), col("value_micros").as("__kcnt"))))
          .as("__mv"))
        .select(col("k"), col("__b"), col("__mv.__m").as("__m"),
          col("__mv.__kcnt").as("__kcnt"))
        .write.mode("overwrite").parquet(log + "/batch=b000000000000")
      assert(grid(StreamingOps.resampleGridFromLog(
        spark, log, Seq("k"), 100L)) == batch, "replay must be a no-op")
    } finally q.stop()
  }

  test("kappaLogSink: standing kappa equals the batch eval incl. NULLs") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_kap_log_").toString
    val log = root + "/kappa"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Option[String], Option[String])]
    val q = StreamingOps.kappaLogSink(src.toDS().toDF("r1", "r2"),
      "r1", "r2", log)
      .option("checkpointLocation", root + "/ck").start()
    val b1 = Seq.fill(20)((Some("a"), Some("a"))) ++
      Seq.fill(5)((Some("a"), Some("b"))) :+ ((None, None))
    val b2 = Seq.fill(10)((Some("b"), Some("a"))) ++
      Seq.fill(15)((Some("b"), Some("b")))
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      val streamed = StreamingOps.kappaFromLog(spark, log).head()
      val batch = graft.operators.Validation.cohenKappa(
        (b1 ++ b2).toDF("r1", "r2"), "r1", "r2").head()
      assert(streamed.toSeq == batch.toSeq,
        s"standing ${streamed.toSeq} vs batch ${batch.toSeq}")
      assert(streamed.getAs[Long]("agree") == 36L, "NULL/NULL agreed")
      StreamingOps.compactStatLog(spark, log)
      assert(StreamingOps.kappaFromLog(spark, log).head().toSeq
        == batch.toSeq)
      // the SAME contingency log serves the standing chi-squared +
      // Cramér's V (shared sufficient statistic), equal to the batch
      // operator over the union — including the NULL/NULL category
      val chiStream = StreamingOps.chiSquaredFromLog(spark, log).head()
      val chiBatch = graft.operators.Validation.chiSquaredIndependence(
        (b1 ++ b2).toDF("r1", "r2"), "r1", "r2").head()
      assert(chiStream.toSeq == chiBatch.toSeq,
        s"standing ${chiStream.toSeq} vs batch ${chiBatch.toSeq}")
      assert(chiStream.getAs[Long]("dof") == 4L) // 3 x 3 incl. NULLs
      // categorical strings cannot rank: the Spearman reading of the
      // same log refuses loudly instead of string-ordering "a" < "b"
      val se = intercept[IllegalArgumentException](
        StreamingOps.spearmanFromLog(spark, log))
      assert(se.getMessage.contains("integral"), se.getMessage)
    } finally q.stop()
  }

  test("spearmanFromLog: standing rho over an integral-score contingency log equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_sp_log_").toString
    val log = root + "/cells"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = StreamingOps.kappaLogSink(src.toDS().toDF("x", "y"),
      "x", "y", log)
      .option("checkpointLocation", root + "/ck").start()
    // monotone-with-ties scores across two batches (ties on both axes)
    val b1 = Seq.tabulate(25)(i => ((i % 7).toLong, ((i % 7) * 10).toLong))
    val b2 = Seq.tabulate(25)(i => ((i % 5).toLong, ((i % 5) * 10 + (i % 2)).toLong))
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      val streamed = StreamingOps.spearmanFromLog(spark, log).head()
      val batch = graft.operators.Validation.spearmanCorrelation(
        (b1 ++ b2).map { case (x, y) => ("k", x, y) }.toDF("k", "x", "y"),
        Seq("k"), "x", "y").head()
      assert(streamed.getAs[Long]("n") == batch.getAs[Long]("n") &&
        streamed.getAs[Long]("sum_dxdy") == batch.getAs[Long]("sum_dxdy") &&
        streamed.getAs[Double]("rho") == batch.getAs[Double]("rho"),
        s"standing ${streamed.toSeq} vs batch ${batch.toSeq}")
      // fold law: compaction is a no-op
      StreamingOps.compactStatLog(spark, log)
      assert(StreamingOps.spearmanFromLog(spark, log).head().toSeq
        == streamed.toSeq)
    } finally q.stop()
  }

  test("ratingLogSink/krippendorffFromLog: standing alpha equals batch; late ratings for seen units fold; NULL loud") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_kr_log_").toString
    val log = root + "/ratings"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.ratingLogSink(src.toDS().toDF("unit", "value"),
      "unit", "value", log)
      .option("checkpointLocation", root + "/ck").start()
    val b1 = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"))
    // batch 2 adds a LATE third rating to unit 1 and completes unit 3:
    // the unit's pairable mass must recompute from the total counts
    val b2 = Seq((1L, "b"), (3L, "b"), (4L, "a"), (4L, "a"), (4L, "a"))
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      val streamed = StreamingOps.krippendorffFromLog(spark, log).head()
      val batch = graft.operators.Validation.krippendorffAlpha(
        (b1 ++ b2).toDF("unit", "value"), "unit", "value").head()
      assert(streamed.toSeq == batch.toSeq,
        s"standing ${streamed.toSeq} vs batch ${batch.toSeq}")
      assert(streamed.getAs[Long]("n_units") == 4L)
      StreamingOps.compactStatLog(spark, log)
      assert(StreamingOps.krippendorffFromLog(spark, log).head().toSeq
        == batch.toSeq)
    } finally q.stop()
    // NULL ratings are refused at fold time, not silently categorized
    val root2 = Files.createTempDirectory("graft_kr_null_").toString
    val src2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Option[String])]
    val q2 = StreamingOps.ratingLogSink(src2.toDS().toDF("unit", "value"),
      "unit", "value", root2 + "/r")
      .option("checkpointLocation", root2 + "/ck").start()
    try {
      src2.addData((1L, Some("a")), (1L, None)); q2.processAllAvailable()
      val e = intercept[IllegalArgumentException](
        StreamingOps.krippendorffFromLog(spark, root2 + "/r"))
      assert(e.getMessage.contains("abstention"), e.getMessage)
    } finally q2.stop()
  }

  test("termCountSink: standing mirror cosine AND JSD equal batch; cross-batch slice growth folds; doc-key refusal survives the log") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_tc_log_").toString
    val log = root + "/terms"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Option[String], String)]
    val q = StreamingOps.termCountSink(src.toDS().toDF("src", "text"),
      "src", "text", log)
      .option("checkpointLocation", root + "/ck").start()
    // slice A grows ACROSS batches (its term counts must fold before
    // comparing); NULL slice drops at the sink
    val b1 = Seq((Some("A"), "x x"), (Some("B"), "x y y"),
      (None.asInstanceOf[Option[String]], "x y z"))
    val b2 = Seq((Some("A"), "y"), (Some("C"), "z z"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        r.toSeq.drop(2)).toMap
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      val batchDf = (b1 ++ b2).toDF("src", "text")
      val simS = StreamingOps.sourceSimilarityFromLog(spark, log)
      val simB = graft.operators.TextAnalysis.sourceSimilarity(
        batchDf, "src", "text")
      val (simSm, simBm) = (pairs(simS), pairs(simB))
      graft.core.Caches.releaseCheckpoint(simS)
      graft.core.Caches.releaseCheckpoint(simB)
      assert(simSm == simBm, s"standing $simSm vs batch $simBm")
      // A folded to {x:2, y:1}: dot(A,B) = 2 + 2 = 4, cos = 0.8
      assert(simSm(("A", "B")) == Seq(4L, 0.8))
      val jsdS = StreamingOps.sliceDivergenceFromLog(spark, log)
      val jsdB = graft.operators.TextAnalysis.sliceDivergence(
        batchDf, "src", "text")
      val (jsdSm, jsdBm) = (pairs(jsdS), pairs(jsdB))
      graft.core.Caches.releaseCheckpoint(jsdS)
      graft.core.Caches.releaseCheckpoint(jsdB)
      assert(jsdSm == jsdBm, s"standing $jsdSm vs batch $jsdBm")
      // the THIRD consumer of the same log: standing vocabulary
      // richness/coverage equals batch on the delivered union (the
      // cross-batch fold matters — slice A's x:2 + y:1 merge before
      // f1/f2 are read)
      def cov(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val covS = StreamingOps.vocabularyCoverageFromLog(spark, log)
      val covB = graft.operators.TextAnalysis.vocabularyCoverage(
        batchDf, Seq("src"), "text")
      val (covSm, covBm) = (cov(covS), cov(covB))
      graft.core.Caches.releaseCheckpoint(covS)
      graft.core.Caches.releaseCheckpoint(covB)
      assert(covSm == covBm, s"standing $covSm vs batch $covBm")
      // A folded to {x:2, y:1}: N=3, V=2, f1=1, f2=1 -> chao1 2.0,
      // coverage 1 - 1/3
      assert(covSm("A") == Seq(3L, 2L, 1L, 1L, 2.0, 0.666667), covSm("A"))
      // fold law: compaction is a no-op
      StreamingOps.compactStatLog(spark, log)
      val simS2 = StreamingOps.sourceSimilarityFromLog(spark, log)
      val simS2m = pairs(simS2)
      graft.core.Caches.releaseCheckpoint(simS2)
      assert(simS2m == simBm)
      // the eager doc-granularity refusal survives the log path
      val e = intercept[IllegalArgumentException](
        StreamingOps.sourceSimilarityFromLog(spark, log, maxSlices = 2))
      assert(e.getMessage.contains("quadratic"), e.getMessage)
    } finally q.stop()
  }

  test("cliffsDeltaFromLogs: standing effect size equals batch; fractional/NULL logs loud") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cd_log_").toString
    val (logA, logB) = (root + "/a", root + "/b")
    val srcA = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Option[Double]]
    val srcB = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Option[Double]]
    val qA = StreamingOps.valueCountSink(srcA.toDS().toDF("v"), "v", logA)
      .option("checkpointLocation", root + "/cka").start()
    val qB = StreamingOps.valueCountSink(srcB.toDS().toDF("v"), "v", logB)
      .option("checkpointLocation", root + "/ckb").start()
    val a1 = Seq.tabulate(30)(i => Some(((i * 7) % 20).toDouble))
    val a2 = Seq.tabulate(20)(i => Some(((i * 3) % 25).toDouble))
    val b1 = Seq.tabulate(40)(i => Some(((i * 11) % 15).toDouble))
    try {
      srcA.addData(a1: _*); qA.processAllAvailable()
      srcA.addData(a2: _*); qA.processAllAvailable()
      srcB.addData(b1: _*); qB.processAllAvailable()
      val streamed = StreamingOps.cliffsDeltaFromLogs(spark, logA, logB)
        .head()
      val batchIn = ((a1 ++ a2).map(v => (true, v.get.toLong)) ++
        b1.map(v => (false, v.get.toLong))).toDF("g", "v")
      val batch = graft.operators.Validation.cliffsDelta(batchIn, "g", "v")
        .head()
      assert(streamed.toSeq == batch.toSeq,
        s"standing ${streamed.toSeq} vs batch ${batch.toSeq}")
      // a fractional logged value breaks the integral contract loudly
      srcB.addData(Some(1.5)); qB.processAllAvailable()
      intercept[IllegalArgumentException](
        StreamingOps.cliffsDeltaFromLogs(spark, logA, logB))
    } finally { qA.stop(); qB.stop() }
  }

  test("benfordLogSink + cusumPointSink: standing audits equal their batch operators") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_bc_log_").toString
    // --- benford
    val blog = root + "/benford"
    val srcB = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Option[Double]]
    val qB = StreamingOps.benfordLogSink(srcB.toDS().toDF("v"), "v", blog)
      .option("checkpointLocation", root + "/ckb").start()
    val b1 = Seq.tabulate(50)(i => Some((i * 137 + 1).toDouble))
    val b2 = Seq.tabulate(30)(i => Some((i * 29 + 7).toDouble)) ++
      Seq(Some(-3.0), None)
    // no LONG integer part: the digit-0 bucket, not a failed batch
    val b3 = Seq(Double.NaN, Double.PositiveInfinity, -1e19, 42.0).map(Some(_))
    try {
      srcB.addData(b1: _*); qB.processAllAvailable()
      srcB.addData(b2: _*); qB.processAllAvailable()
      srcB.addData(b3: _*); qB.processAllAvailable()
      val streamed = StreamingOps.benfordFromLog(spark, blog)
        .collect().map(r => r.getInt(0) -> r.toSeq).toMap
      val batch = graft.operators.Validation.benfordAudit(
        (b1 ++ b2 ++ b3).toDF("v"), "v")
        .collect().map(r => r.getInt(0) -> r.toSeq).toMap
      assert(streamed == batch, s"$streamed vs $batch")
      assert(streamed(0)(1) == 5L, s"digit 0: -3, NULL, NaN, +Inf, -1e19: $streamed")
    } finally qB.stop()
    // --- cusum
    val clog = root + "/cusum"
    val srcC = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Long)]
    val qC = StreamingOps.cusumPointSink(srcC.toDS().toDF("k", "t", "v"),
      "k", "t", "v", clog)
      .option("checkpointLocation", root + "/ckc").start()
    val c1 = (0L until 10L).map(t => ("m", t, 9L + (t % 3)))
    val c2 = (10L until 20L).map(t => ("m", t, 14L + (t % 3))) :+
      (("m", 5L, 9L + (5L % 3))) // duplicate point folds + re-expands
    try {
      srcC.addData(c1: _*); qC.processAllAvailable()
      srcC.addData(c2: _*); qC.processAllAvailable()
      val streamed = StreamingOps.cusumFromLog(spark, clog,
        target = 10L, slack = 1L, threshold = 15L)
        .collect().map(_.toSeq).sortBy(_.toString)
      val batch = graft.operators.Timeseries.cusumChangepoints(
        (c1 ++ c2).toDF("__k", "__t", "__x"), Seq("__k"), "__t", "__x",
        10L, 1L, 15L)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.nonEmpty)
    } finally qC.stop()
  }

  test("valueCountSink + ksFromLogs equals the batch KS over the slices") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_ks_log_").toString
    val (logB, logA) = (root + "/before", root + "/after")
    val srcB = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Option[Double]]
    val srcA = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Option[Double]]
    val qB = StreamingOps.valueCountSink(srcB.toDS().toDF("v"), "v", logB)
      .option("checkpointLocation", root + "/ckb").start()
    val qA = StreamingOps.valueCountSink(srcA.toDS().toDF("v"), "v", logA)
      .option("checkpointLocation", root + "/cka").start()
    val b1 = Seq.tabulate(80)(i => Some(((i * 37) % 50).toDouble))
    val b2 = Seq.tabulate(40)(i => Some(((i * 11) % 30).toDouble)) :+ None
    val a1 = Seq.tabulate(90)(i => Some(((i * 53) % 45).toDouble))
    try {
      srcB.addData(b1: _*); qB.processAllAvailable()
      srcB.addData(b2: _*); qB.processAllAvailable()
      srcA.addData(a1: _*); qA.processAllAvailable()
      val streamed = StreamingOps.ksFromLogs(spark, logB, logA).head()
      val batch = graft.operators.Validation.ksStatistic(
        (b1 ++ b2).toDF("v"), a1.toDF("v"), "v").head()
      assert(streamed.toSeq == batch.toSeq,
        s"standing ${streamed.toSeq} vs batch ${batch.toSeq}")
      assert(streamed.getAs[Long]("null_before") == 1L)
      StreamingOps.compactStatLog(spark, logB)
      assert(StreamingOps.ksFromLogs(spark, logB, logA).head().toSeq
        == batch.toSeq)
    } finally { qB.stop(); qA.stop() }
  }

  test("trimmedMeanSink: standing trimmed means equal the batch operator; fold + replay no-ops; NULL loud") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_tm_log_").toString
    val log = root + "/tm"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Double)]
    val q = StreamingOps.trimmedMeanSink(src.toDS().toDF("g", "v"),
        Seq("g"), "v", log)
      .option("checkpointLocation", root + "/ck").start()
    // outliers on both tails, ties across batch boundaries
    val b1 = (1 to 30).map(i =>
      (if (i % 3 == 0) "A" else "B", ((i * 7) % 11).toDouble)) :+
      (("A", 1e6)) :+ (("B", -1e6))
    val b2 = (1 to 20).map(i =>
      (if (i % 4 == 0) "C" else "A", ((i * 5) % 11).toDouble))
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[String]("g") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("n_kept"),
            r.getAs[Double]("trimmed_mean")))).toMap
      val streamed = rows(
        StreamingOps.trimmedMeanFromLog(spark, log, Seq("g"), trim = 0.1))
      val batch = rows(graft.operators.Validation.trimmedMean(
        (b1 ++ b2).toDF("g", "v"), Seq("g"), "v", trim = 0.1))
      assert(streamed == batch, s"standing $streamed vs batch $batch")
      // the SAME log serves standing exact quantiles (one sink, two
      // readbacks) — equal to the batch operator over the union
      def qrows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[String]("g"), r.getAs[Double]("p")) ->
          ((r.getAs[Long]("n"), r.getAs[Double]("value")))).toMap
      val qStreamed = qrows(StreamingOps.groupedQuantilesFromLog(
        spark, log, Seq("g"), Seq(0.5, 0.9)))
      val qBatch = qrows(graft.operators.Validation.groupedQuantiles(
        (b1 ++ b2).toDF("g", "v"), Seq("g"), "v", Seq(0.5, 0.9)))
      assert(qStreamed == qBatch, s"standing $qStreamed vs batch $qBatch")
      // the trim must have defeated the planted outliers
      assert(math.abs(streamed("A")._3) < 11.0 &&
        math.abs(streamed("B")._3) < 11.0)
      // fold is a no-op on the answer
      StreamingOps.compactStatLog(spark, log)
      assert(rows(StreamingOps.trimmedMeanFromLog(
        spark, log, Seq("g"), trim = 0.1)) == batch)
      // replaying one batch id (a second write counts once) is the
      // StatLog.sink contract, tested on its own below
      // NULL values refuse loudly inside the stream
      val srcN = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Option[Double])]
      val qN = StreamingOps.trimmedMeanSink(srcN.toDS().toDF("g", "v"),
          Seq("g"), "v", root + "/tmn")
        .option("checkpointLocation", root + "/ckn").start()
      srcN.addData(("A", Option.empty[Double]))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qN.processAllAvailable()
      }
      assert(e.getMessage.contains("NULL") ||
        Option(e.getCause).exists(_.getMessage.contains("NULL")),
        e.getMessage)
      qN.stop()
      // so do values with no LONG micro-value (NaN, ±Inf, |v| ≥ 9.2e12)
      val srcF = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Double)]
      val qF = StreamingOps.trimmedMeanSink(srcF.toDS().toDF("g", "v"),
          Seq("g"), "v", root + "/tmf")
        .option("checkpointLocation", root + "/ckf").start()
      srcF.addData(("A", 1.0), ("A", Double.NaN),
        ("A", Double.PositiveInfinity), ("A", 1e13))
      val eF = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qF.processAllAvailable()
      }
      assert(eF.getMessage.contains("3 NaN, infinite") ||
        Option(eF.getCause).exists(_.getMessage.contains("3 NaN, infinite")),
        eF.getMessage)
      qF.stop()
    } finally q.stop()
  }

  test("StatLog.sink: an empty micro-batch writes no directory; a rewritten batch id counts once") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_sink_").toString
    val log = root + "/log"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = StatLog.sink(src.toDS().toDF("v").where(col("v") > 0L), log,
        "sum") { (batch, _) => batch.groupBy("v").agg(count(lit(1)).as("__kcnt")) }
      .option("checkpointLocation", root + "/ck").start()
    try {
      src.addData(-1L); q.processAllAvailable() // batch 0: filtered empty
      src.addData(5L); q.processAllAvailable()
    } finally q.stop()
    val dirs = new java.io.File(log).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(dirs == Seq("batch=b000000000001"), s"unexpected dirs: $dirs")
    val cells = Seq((9L, 2L)).toDF("v", "__kcnt")
    StatLog.writeBatch(cells, log, 7L)
    StatLog.writeBatch(cells, log, 7L)
    def total(v: Long) = StatLog.read(spark, log).where(col("v") === v)
      .agg(sum("__kcnt")).head().getLong(0)
    assert(total(9L) == 2L && total(5L) == 1L)
  }

  test("swProjectionSink + swFromLog equals the batch slicedWasserstein") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_sw_log_").toString
    val log = root + "/sw"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Seq[Double])]
    val q = StreamingOps.swProjectionSink(src.toDS().toDF("k", "vec"),
        "k", "vec", log, directions = 8, salt = 7L)
      .option("checkpointLocation", root + "/ck").start()
    def vec(i: Int) = Seq(i.toDouble, 2.0 * i, (i % 7).toDouble)
    val b1 = (1 to 15).map(i => (if (i % 3 == 0) "A" else "B", vec(i)))
    val b2 = (16 to 40).map(i =>
      (if (i % 4 == 0) "C" else if (i % 2 == 0) "A" else "B", vec(i * 3)))
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = {
        val m = df.collect().map(r => (r.getAs[String]("key_a"),
          r.getAs[String]("key_b")) -> ((r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("sw")))).toMap
        graft.core.Caches.releaseCheckpoint(df)
        m
      }
      val streamed = rows(StreamingOps.swFromLog(spark, log,
        directions = 8, grid = 32))
      val batch = rows(graft.operators.Ann.slicedWasserstein(
        (b1 ++ b2).toDF("k", "vec"), "k", "vec",
        directions = 8, grid = 32, salt = 7L))
      assert(streamed == batch, s"standing $streamed vs batch $batch")
      assert(streamed.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
      // the fold is a no-op for the standing read
      StreamingOps.compactStatLog(spark, log)
      assert(rows(StreamingOps.swFromLog(spark, log,
        directions = 8, grid = 32)) == batch)
      // frozen-parameter contract: a mismatched direction count refuses
      val e = intercept[IllegalArgumentException](
        StreamingOps.swFromLog(spark, log, directions = 4))
      assert(e.getMessage.contains("frozen"), e.getMessage)
    } finally q.stop()
  }

  test("aucLogSink: standing AUC equals the batch eval; fold is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_auc_log_").toString
    val log = root + "/auc"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int)]
    val q = StreamingOps.aucLogSink(src.toDS().toDF("s", "y"), "s", "y", log)
      .option("checkpointLocation", root + "/ck").start()
    val b1 = Seq.tabulate(120)(i => (((i * 131) % 37).toLong, if ((i * 17) % 5 < 2) 1 else 0))
    val b2 = Seq.tabulate(90)(i => (((i * 71) % 29).toLong, if ((i * 13) % 4 < 1) 1 else 0))
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      def row(df: org.apache.spark.sql.DataFrame) = {
        val r = df.head()
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }
      val streamed = row(StreamingOps.aucFromLog(spark, log))
      val batch = row(graft.operators.RankEval.aucRoc(
        (b1 ++ b2).toDF("s", "y"), "s", "y"))
      assert(streamed == batch, s"standing $streamed vs batch $batch")
      StreamingOps.compactStatLog(spark, log)
      assert(row(StreamingOps.aucFromLog(spark, log)) == batch)
    } finally q.stop()
  }

  test("pcaMomentSink: incremental fit is bit-identical to the batch fit") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_pca_log_").toString
    val log = root + "/pca"
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Seq[Float]]
    val q = StreamingOps.pcaMomentSink(src.toDS().toDF("embedding"),
      "embedding", dim = 4, log)
      .option("checkpointLocation", root + "/ck").start()
    val b1 = Seq.tabulate(40)(i =>
      Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11 - 5).toFloat))
    val b2 = Seq.tabulate(25)(i =>
      Seq.tabulate(4)(j => ((i * 13 + j * 5) % 9 - 4).toFloat))
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      val streamed = StreamingOps.pcaFitFromLog(spark, log, dim = 4, k = 3)
      val batch = graft.similarity.Pca.fit(
        (b1 ++ b2).toDF("embedding"), "embedding", k = 3)
      assert(streamed.nRows == 65L && batch.nRows == 65L)
      assert(streamed.mean.toSeq == batch.mean.toSeq)
      assert(streamed.eigenvalues.toSeq == batch.eigenvalues.toSeq)
      assert(streamed.components.map(_.toSeq).toSeq ==
        batch.components.map(_.toSeq).toSeq)
      // compaction folds the cells; the fit is unchanged
      StreamingOps.compactStatLog(spark, log)
      val folded = StreamingOps.pcaFitFromLog(spark, log, dim = 4, k = 3)
      assert(folded.components.map(_.toSeq).toSeq ==
        batch.components.map(_.toSeq).toSeq)
      // a wrong dim is loud, not a garbage model
      assert(intercept[IllegalArgumentException](
        StreamingOps.pcaFitFromLog(spark, log, dim = 5, k = 2))
        .getMessage.contains("dim"))
    } finally q.stop()
  }
}
