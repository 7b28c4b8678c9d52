package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming specs: windowed aggregate incrementality and custom
  * per-user state across micro-batches. */
class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  test("hourlyCounts aggregates an event-time window incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.hourlyCounts(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 4.0))
      q.processAllAvailable()
      in.addData((Timestamp.valueOf("2024-01-01 10:30:00"), "click", 8.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select("hour_start", "event_type", "n", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows == Set(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 3L, 11.0),
        (Timestamp.valueOf("2024-01-01 11:00:00"), "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming ANN index ingest: foreachBatch-appended index == rebuild") {
    // the streaming form of the batch append-equals-rebuild proof
    // (RelevanceHistSpec): signatures are per-row projections against
    // literal planes, so each micro-batch indexes in isolation through
    // the exactly-once foreachBatch sink, and the accumulated index is
    // bit-identical to a full rebuild — a 100 TB index keeps up with
    // ingest without ever recomputing standing shards.
    import graft.ops.Similarity
    implicit val sqlCtx = spark.sqlContext
    val dir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_stream_ix")
    rmTree(dir)
    val mk = (id: Long) =>
      (id, Array.tabulate(4)(i => math.sin(id * 3.7 + i).toFloat))
    val in = MemoryStream[(Long, Array[Float])]
    val q = in.toDF().toDF("id", "vec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        EventStream.idempotentBatchWriter(dir.getPath)(
          Similarity.lshIndexTable(batch, dims = 4, planes = 8, bands = 2),
          bid)
      }.start()
    try {
      in.addData((1L to 8L).map(mk): _*)
      q.processAllAvailable()
      in.addData((9L to 12L).map(mk): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(dir.getPath)
    val rebuilt = Similarity.lshIndexTable(
      (1L to 12L).map(mk).toDF("id", "vec"), dims = 4, planes = 8,
      bands = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("band", "bits", "nid", "_nn")
        .as[(Int, Long, Long, Double)].collect().toSet
    assert(rows(streamed) == rows(rebuilt))
    // and the streamed index serves identical KNN answers
    val qs = (1L to 2L).map(mk).toDF("id", "vec")
    def ans(ix: org.apache.spark.sql.DataFrame) =
      Similarity.lshKnnIndexed(qs, ix, k = 3, dims = 4, planes = 8,
        bands = 2).as[(Long, Long, Long, Double)].collect().toSet
    assert(ans(streamed) == ans(rebuilt))
    rmTree(dir)
  }

  test("idempotentBatchWriter: redelivered batch ids never duplicate") {
    val dir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_idem_sink")
    rmTree(dir)
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    EventStream.idempotentBatchWriter(dir.getPath)(b0, 0L)
    // at-least-once redelivery of the SAME id (post-commit crash replay):
    // the finalized directory must win over the replayed data
    EventStream.idempotentBatchWriter(dir.getPath)(
      Seq((9L, "dup")).toDF("id", "v"), 0L)
    EventStream.idempotentBatchWriter(dir.getPath)(
      Seq((3L, "c")).toDF("id", "v"), 1L)
    val back = spark.read.parquet(dir.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a crash MID-write (no _SUCCESS) must be overwritten, not skipped
    val partial = new java.io.File(dir, "batch=2")
    partial.mkdirs()
    EventStream.idempotentBatchWriter(dir.getPath)(
      Seq((4L, "d")).toDF("id", "v"), 2L)
    val all = spark.read.parquet(dir.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(all == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    rmTree(dir)
  }

  test("heavyHitters emits only keys at the threshold, incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = EventStream.heavyHitters(df, col("user_id"), threshold = 2L,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("hh")
      .outputMode("complete").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 7L),
        (Timestamp.valueOf("2024-01-01 10:10:00"), 8L),
        (Timestamp.valueOf("2024-01-01 11:05:00"), 7L)) // other window
      q.processAllAvailable()
      in.addData((Timestamp.valueOf("2024-01-01 10:40:00"), 7L))
      q.processAllAvailable()
      val rows = spark.table("hh")
        .select("hour_start", "key", "cnt")
        .as[(Timestamp, Long, Long)].collect().toSet
      // user 8 (1 event) and window-11 user 7 (1 event) stay below 2
      assert(rows == Set(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 7L, 2L)))
      // batch twin: the SAME plan over the replayed static data
      val batch = EventStream.heavyHitters(
        Seq(
          (Timestamp.valueOf("2024-01-01 10:05:00"), 7L),
          (Timestamp.valueOf("2024-01-01 10:10:00"), 8L),
          (Timestamp.valueOf("2024-01-01 11:05:00"), 7L),
          (Timestamp.valueOf("2024-01-01 10:40:00"), 7L))
          .toDF("ts", "user_id"), col("user_id"), threshold = 2L)
        .select("hour_start", "key", "cnt")
        .as[(Timestamp, Long, Long)].collect().toSet
      assert(batch == rows, "stream and batch twins must agree")
    } finally q.stop()
  }

  test("windowedVote tallies incrementally; a late vote flips the majority") {
    implicit val sqlCtx = spark.sqlContext
    val vocab = Seq("click", "error", "purchase", "signup", "view")
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStream.windowedVote(df, col("user_id"),
        col("event_type"), vocab, minVotes = 3L, win = "1 day",
        watermark = "1 day")
      .writeStream.format("memory").queryName("wv")
      .outputMode("complete").start()
    try {
      val t = (h: Int) => Timestamp.valueOf(f"2024-03-05 $h%02d:00:00")
      in.addData((t(1), 1L, "view"), (t(2), 1L, "view"), (t(3), 1L, "click"))
      q.processAllAvailable()
      val first = spark.table("wv")
        .select("item", "majority", "total", "top")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(first == Set((1L, "view", 3L, 2L)))
      // two late clicks arrive for the SAME day: tally 3-2 click — the
      // open window's counters update and the argmax flips
      in.addData((t(4), 1L, "click"), (t(5), 1L, "click"))
      q.processAllAvailable()
      val second = spark.table("wv")
        .select("item", "majority", "total", "top")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(second == Set((1L, "click", 5L, 3L)))
      // batch twin over the full replay agrees with the final state
      val batch = EventStream.windowedVote(
        Seq((t(1), 1L, "view"), (t(2), 1L, "view"), (t(3), 1L, "click"),
          (t(4), 1L, "click"), (t(5), 1L, "click"))
          .toDF("ts", "user_id", "event_type"),
        col("user_id"), col("event_type"), vocab, minVotes = 3L,
        win = "1 day")
        .select("item", "majority", "total", "top")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(batch == second, "stream and batch twins must agree")
    } finally q.stop()
  }

  test("windowedVote suppresses below-minVotes consensus and ties break by vocab") {
    val vocab = Seq("click", "error", "purchase", "signup", "view")
    val t = Timestamp.valueOf("2024-03-05 12:00:00")
    val out = EventStream.windowedVote(
      Seq((t, 1L, "view"), (t, 1L, "view"), (t, 1L, "signup"),
        (t, 1L, "signup"), // user 1: 2-2 tie -> signup (lower index)
        (t, 2L, "click"), (t, 2L, "click")) // user 2: only 2 votes
        .toDF("ts", "user_id", "event_type"),
      col("user_id"), col("event_type"), vocab, minVotes = 3L,
      win = "1 day")
      .select("item", "majority", "total", "top")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(out == Set((1L, "signup", 4L, 2L)))
  }

  test("dedupStream drops re-seen fingerprints across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val df = in.toDF().toDF("ts", "doc_id", "fp")
    val q = EventStream.dedupStream(df, "ts", Seq("fp"),
      watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "a", "fp1"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), "b", "fp2"),
        (Timestamp.valueOf("2024-01-01 10:02:00"), "c", "fp1")) // dup of a
      q.processAllAvailable()
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:10:00"), "d", "fp1"), // still dup
        (Timestamp.valueOf("2024-01-01 10:11:00"), "e", "fp3"))
      q.processAllAvailable()
      val kept = spark.table("dedup").select("doc_id").as[String]
        .collect().toSet
      assert(kept == Set("a", "b", "e"))
    } finally q.stop()
  }

  test("dedupStream batch twin keeps the same rows as the streaming path") {
    // the s08 equivalence claim: when micro-batches arrive in event-time
    // order and the dataset's span fits in the watermark horizon, the
    // batch branch (first row per fingerprint by ts, tiebreak) keeps
    // exactly what the streaming operator keeps
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("2024-01-01 10:00:00", "a", "fp1"),
      ("2024-01-01 10:01:00", "b", "fp2"),
      ("2024-01-01 10:02:00", "c", "fp1"),
      ("2024-01-01 10:10:00", "d", "fp1"),
      ("2024-01-01 10:11:00", "e", "fp3"))
      .map(r => (Timestamp.valueOf(r._1), r._2, r._3))
    val in = MemoryStream[(Timestamp, String, String)]
    val q = EventStream.dedupStream(in.toDF().toDF("ts", "doc_id", "fp"),
        "ts", Seq("fp"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_eq")
      .outputMode("append").start()
    try {
      rows.grouped(2).foreach { batch =>
        in.addData(batch)
        q.processAllAvailable()
      }
      val streamed = spark.table("dedup_eq").select("doc_id").as[String]
        .collect().toSet
      val batched = EventStream.dedupStream(
          rows.toDF("ts", "doc_id", "fp"), "ts", Seq("fp"),
          tieCol = Some("doc_id"))
        .select("doc_id").as[String].collect().toSet
      assert(streamed == batched)
      assert(batched == Set("a", "b", "e"))
    } finally q.stop()
  }

  test("sessionStats merges gap-based session windows incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val df = in.toDF().toDF("ts", "user_id", "value")
    val q = EventStream.sessionStats(df, gap = "30 minutes",
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
        (Timestamp.valueOf("2024-01-01 10:10:00"), 1L, 2.0), // same session
        (Timestamp.valueOf("2024-01-01 12:00:00"), 1L, 4.0), // new session
        (Timestamp.valueOf("2024-01-01 10:05:00"), 2L, 8.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
    } finally q.stop()
  }

  test("session_window break is > gap (the s11 oracle convention)") {
    // Batch run of the SAME sessionStats plan. Spark's merge rule is
    // INCLUSIVE: an event at exactly prev_ts + gap still merges into the
    // session (measured here — a first draft of the s11 oracle assumed
    // the exclusive `>=` break and only escaped red because continuous
    // testdata timestamps never land on the boundary). One microsecond
    // past the gap starts a new session. The s11 DuckDB oracle encodes
    // this as `us - pus > 1800000000`; this spec is the engine-side pin.
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
      (Timestamp.valueOf("2024-01-01 10:30:00"), 1L, 2.0), // = gap: same
      (Timestamp.valueOf("2024-01-01 12:00:00"), 2L, 4.0),
      (Timestamp.valueOf("2024-01-01 12:30:00.000001"), 2L, 8.0)) // NEW
      .toDF("ts", "user_id", "value")
    val out = EventStream.sessionStats(df, gap = "30 minutes")
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 2L, 3.0), (2L, 1L, 4.0), (2L, 1L, 8.0)))
  }

  test("sessionTracker closes sessions on gap and flushes by timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.SessEvent]
    val q = EventStream.sessionTracker(in.toDS(), gapUs = 1800000000L)
      .writeStream.format("memory").queryName("tracked")
      .outputMode("append").start()
    val H = 3600000000L // one hour in us
    def ev(u: Long, us: Long, cents: Long) =
      EventStream.SessEvent(u, us, cents, new Timestamp(us / 1000L))
    try {
      // batch 1: two events 10 min apart (one open session)
      in.addData(ev(1L, H, 100L), ev(1L, H + 600000000L, 50L))
      q.processAllAvailable()
      assert(spark.table("tracked").count() == 0) // still open
      // batch 2: an event 2h later closes the first session immediately
      in.addData(ev(1L, 3 * H, 7L))
      q.processAllAvailable()
      // batch 3: another user far in the future -> watermark passes
      // user 1's last + gap, the event-time TIMEOUT flushes session 2
      in.addData(ev(2L, 10 * H, 1L))
      q.processAllAvailable()
      val got = spark.table("tracked").as[EventStream.Session]
        .collect().toSet
      assert(got == Set(
        EventStream.Session(1L, H, H + 600000000L, 2L, 150L),
        EventStream.Session(1L, 3 * H, 3 * H, 1L, 7L)))
      // the batch twin over the same rows emits those two PLUS the
      // still-open trailing sessions (emitOpen) — stream ≡ batch prefix
      val batch = EventStream.sessionTracker(Seq(
          ev(1L, H, 100L), ev(1L, H + 600000000L, 50L),
          ev(1L, 3 * H, 7L), ev(2L, 10 * H, 1L)).toDS(),
        gapUs = 1800000000L, emitOpen = true).collect().toSet
      assert(batch == got +
        EventStream.Session(2L, 10 * H, 10 * H, 1L, 1L))
    } finally q.stop()
  }

  test("rollingFeature carries the last-n window across micro-batches " +
    "(state API v2)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[EventStream.RollEvent]
      val q = EventStream.rollingFeature(in.toDS(), n = 2)
        .writeStream.format("memory").queryName("roll")
        .outputMode("append").start()
      val rows = Seq(
        EventStream.RollEvent(1L, 1L, 100L, 10L),
        EventStream.RollEvent(1L, 2L, 200L, 20L),
        EventStream.RollEvent(1L, 3L, 300L, 40L), // window [10,20]: n=2
        EventStream.RollEvent(1L, 4L, 400L, 80L)) // 10 evicted: [20,40]
      try {
        in.addData(rows.take(2))
        q.processAllAvailable()
        in.addData(rows.drop(2)) // ListState must survive the batch gap
        q.processAllAvailable()
        val got = spark.table("roll").as[EventStream.RollFeature]
          .collect().toSet
        assert(got == Set(
          EventStream.RollFeature(1L, 1L, 0L, 0L),
          EventStream.RollFeature(1L, 2L, 1L, 10L),
          EventStream.RollFeature(1L, 3L, 2L, 30L),
          EventStream.RollFeature(1L, 4L, 2L, 60L)))
        // the batch twin (one handleInputRows call with the full
        // history) replays the same fold — what the s13 oracle checks
        val batch = EventStream.rollingFeature(rows.toDS(), n = 2)
          .collect().toSet
        assert(batch == got)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("clickAttribution joins streams within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp, Double)]
    val cdf = clicks.toDF().toDF("user_id", "event_id", "ts")
    val pdf = buys.toDF().toDF("user_id", "event_id", "ts", "value")
    val q = EventStream.clickAttribution(cdf, pdf, horizon = "1 hour")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      clicks.addData(
        (1L, 100L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (1L, 101L, Timestamp.valueOf("2024-01-01 08:00:00")), // too old
        (2L, 102L, Timestamp.valueOf("2024-01-01 10:10:00"))) // other user
      buys.addData(
        (1L, 200L, Timestamp.valueOf("2024-01-01 10:30:00"), 9.5))
      q.processAllAvailable()
      // a later click arriving in the next micro-batch still joins the
      // buffered purchase (both sides are stateful)
      clicks.addData((1L, 103L, Timestamp.valueOf("2024-01-01 10:20:00")))
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select("click_id", "purchase_id", "purchase_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((100L, 200L, 9.5), (103L, 200L, 9.5)))
    } finally q.stop()
  }

  test("clickAttribution leftOuter emits unmatched clicks after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp, Double)]
    val cdf = clicks.toDF().toDF("user_id", "event_id", "ts")
    val pdf = buys.toDF().toDF("user_id", "event_id", "ts", "value")
    val q = EventStream.clickAttribution(cdf, pdf, horizon = "1 hour",
      watermark = "10 minutes", joinType = "leftOuter")
      .writeStream.format("memory").queryName("outer_attrib")
      .outputMode("append").start()
    try {
      clicks.addData(
        (1L, 100L, Timestamp.valueOf("2024-01-01 10:00:00")), // converts
        (2L, 101L, Timestamp.valueOf("2024-01-01 10:05:00"))) // never does
      buys.addData(
        (1L, 200L, Timestamp.valueOf("2024-01-01 10:30:00"), 9.5))
      q.processAllAvailable()
      // advance BOTH watermarks past click+horizon+delay so the engine
      // can prove click 101 has no possible match left...
      clicks.addData((9L, 900L, Timestamp.valueOf("2024-01-01 14:00:00")))
      buys.addData((9L, 901L, Timestamp.valueOf("2024-01-01 14:00:00"), 1.0))
      q.processAllAvailable()
      // ...and one more micro-batch for the post-watermark eviction pass
      clicks.addData((9L, 902L, Timestamp.valueOf("2024-01-01 14:00:01")))
      q.processAllAvailable()
      val rows = spark.table("outer_attrib")
        .select("click_id", "purchase_id")
        .as[(Long, Option[Long])].collect()
      assert(rows.contains((100L, Some(200L)))) // matched pair intact
      assert(rows.contains((101L, None)),       // drop-off surfaced
        s"unmatched click missing from ${rows.toSeq}")
    } finally q.stop()
  }

  test("hllWindowedRegisters: streaming registers equal the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = EventStream.hllWindowedRegisters(df, col("user_id"), p = 6)
      .writeStream.format("memory").queryName("hllregs")
      .outputMode("complete").start()
    try {
      in.addData((1 to 300).map(i =>
        (Timestamp.valueOf("2024-01-01 10:15:00"), (i % 120).toLong)): _*)
      q.processAllAvailable()
      in.addData((1 to 50).map(i =>
        (Timestamp.valueOf("2024-01-01 10:45:00"), (i + 200).toLong)): _*)
      q.processAllAvailable()
      val streamed = spark.table("hllregs")
        .select($"j", $"mj").as[(Long, Int)].collect().toSet
      // batch twin over the same rows, same window grouping
      val batchDf = ((1 to 300).map(i => (i % 120).toLong)
        ++ (1 to 50).map(i => (i + 200).toLong))
        .toDF("user_id")
        .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 10:30:00")))
      val batch = graft.ops.Sketches.hllRegisters(batchDf,
        window(col("ts"), "1 hour"), col("user_id"), 6)
        .select($"j", $"mj").as[(Long, Int)].collect().toSet
      assert(streamed == batch)
      // and the estimate over the streamed registers is the batch estimate
      // (rebuilt as a fresh DataFrame: hllFromRegisters self-joins its
      // input, and a memory-sink view's watermark-tagged attributes can't
      // self-join)
      val regsFresh = spark.createDataFrame(
        java.util.Arrays.asList(spark.table("hllregs").collect(): _*),
        spark.table("hllregs").schema)
      val est = graft.ops.Sketches.hllFromRegisters(regsFresh, 6)
        .collect()(0).getAs[Double]("est_distinct")
      val bEst = graft.ops.Sketches.hllFromRegisters(
        graft.ops.Sketches.hllRegisters(batchDf,
          window(col("ts"), "1 hour"), col("user_id"), 6), 6)
        .collect()(0).getAs[Double]("est_distinct")
      assert(est == bEst)
    } finally q.stop()
  }

  test("runningUserStats keeps per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.Event]
    val q = EventStream.runningUserStats(in.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try {
      in.addData(EventStream.Event(1L, 10.0), EventStream.Event(1L, 20.0))
      q.processAllAvailable()
      in.addData(EventStream.Event(1L, 30.0), EventStream.Event(2L, 5.0))
      q.processAllAvailable()
      val last = spark.table("running")
        .groupBy("user_id").agg(max("n").as("n"), max("total").as("total"))
        .as[(Long, Long, Double)].collect().toSet
      assert(last == Set((1L, 3L, 60.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("runningUserStats state survives a checkpointed restart") {
    // the fault-tolerance contract a 100 TB/day stream actually relies
    // on: stop the query, start a NEW query from the same checkpoint,
    // and the per-user state store must carry over — the post-restart
    // snapshot continues the count/total, not restart them from zero
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.Event]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink shape, collecting snapshots into a local buffer
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    def start() = EventStream.runningUserStats(in.toDS())
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[EventStream.UserSnapshot],
         _: Long) =>
        val rows = batch.collect().map(s => (s.user_id, s.n, s.total))
        seen.synchronized { seen ++= rows }; ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      val q1 = start()
      try {
        in.addData(EventStream.Event(1L, 10.0), EventStream.Event(1L, 20.0))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        in.addData(EventStream.Event(1L, 30.0))
        q2.processAllAvailable()
        // n=3/total=60 proves recovered state: a fresh state store would
        // report n=1/total=30 for the post-restart event
        val last = seen.synchronized(seen.toSet)
        assert(last.contains((1L, 3L, 60.0)),
          s"state did not survive the restart: $last")
      } finally q2.stop()
    } finally rmTree(new java.io.File(ckpt))
  }

  test("cmsCounts: streaming counters match the batch sketch by addition") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "event_type")
    val q = EventStream.cmsCounts(df, col("event_type"), depth = 4,
      width = 64, watermark = "10 minutes")
      .writeStream.format("memory").queryName("cms")
      .outputMode("complete").start()
    try {
      val t = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      in.addData((t(1), "click"), (t(2), "click"), (t(3), "view"))
      q.processAllAvailable()
      in.addData((t(4), "click")) // same window — counters must merge
      q.processAllAvailable()
      val counters = spark.table("cms")
        .select("j", "b", "cnt").as[(Int, Long, Long)].collect()
        .map { case (j, b, c) => (j, b) -> c }.toMap
      // query "click" exactly like the batch sketch: min over its 4 buckets
      val est = (0 until 4).map { j =>
        val b = spark.range(1).select(pmod(graft.ops.Dedup.md5Hash(
          lit("click"), lit("cms" + j)), lit(64L))).head().getLong(0)
        counters.getOrElse((j, b), 0L)
      }.min
      assert(est == 3L) // 3 clicks across both micro-batches
      // every counter row is bounded state: at most depth*width rows
      assert(counters.size <= 4 * 64)
    } finally q.stop()
  }

  test("enrichWithDim joins each micro-batch against the static dim") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val df = in.toDF().toDF("event_id", "user_id")
    val dim = Seq((1L, "AUTO"), (2L, "HOUSE")).toDF("key", "segment")
    val q = EventStream.enrichWithDim(df, dim, col("user_id"), col("key"))
      .select("event_id", "user_id", "segment")
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      in.addData((100L, 1L), (101L, 9L)) // 9 has no dim row -> null segment
      q.processAllAvailable()
      in.addData((102L, 2L)) // next micro-batch re-probes the static side
      q.processAllAvailable()
      val rows = spark.table("enrich")
        .as[(Long, Long, Option[String])].collect().toSet
      assert(rows == Set((100L, 1L, Some("AUTO")), (101L, 9L, None),
        (102L, 2L, Some("HOUSE"))))
    } finally q.stop()
  }

  test("histogramCounts shard tables merge by addition into the corpus table") {
    // the mergeability contract the scaladoc claims: fixed bounds make
    // per-shard (window, type, bin) counts combinable by plain SUM —
    // how a 1000-executor rollup (or late data) folds into a standing
    // histogram without re-reading raw events
    val rows = (1 to 200).map { i =>
      (Timestamp.valueOf("2024-01-01 10:15:00"), if (i % 2 == 0) "click"
        else "view", (i % 37) * 3.0, i)
    }
    val all = rows.toDF("ts", "event_type", "value", "i")
    // shard by row parity so the SAME (window, type, bin) key gets
    // nonzero counts from BOTH shards — a value-range split would give
    // each bin to exactly one shard and never exercise the SUM
    val (shardA, shardB) = (all.filter($"i" % 2 === 0), all.filter($"i" % 2 === 1))
    def hist(df: org.apache.spark.sql.DataFrame) =
      EventStream.histogramCounts(df, lo = 0.0, hi = 120.0, bins = 12)
    val merged = hist(shardA).unionByName(hist(shardB))
      .groupBy("hour_start", "event_type", "bin")
      .agg(sum("cnt").as("cnt"))
      .as[(Timestamp, String, Int, Long)].collect().toSet
    val corpus = hist(all)
      .as[(Timestamp, String, Int, Long)].collect().toSet
    assert(merged == corpus)
  }

  test("histogramCounts bins incrementally; late rows fold into their bin") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    // fixed bounds [0, 100), 10 bins of width 10
    val q = EventStream.histogramCounts(df, lo = 0.0, hi = 100.0, bins = 10,
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("hist")
      .outputMode("complete").start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 5.0), // bin 0
        (Timestamp.valueOf("2024-01-01 10:06:00"), "click", 15.0), // bin 1
        (Timestamp.valueOf("2024-01-01 10:07:00"), "click", 999.0)) // clamp 9
      q.processAllAvailable()
      in.addData( // same window, same bin as the first row — must merge
        (Timestamp.valueOf("2024-01-01 10:08:00"), "click", 7.0)) // bin 0
      q.processAllAvailable()
      val rows = spark.table("hist")
        .select("bin", "cnt").as[(Int, Long)].collect().toSet
      assert(rows == Set((0, 2L), (1, 1L), (9, 1L)))
    } finally q.stop()
  }

  test("sftStream carries context across micro-batches and equals both " +
      "the batch twin and the d89 window form") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    try {
    val evs = Seq(
      EventStream.SftEvent(1L, 10L, 100L, "a"),
      EventStream.SftEvent(1L, 11L, 101L, "b"),
      EventStream.SftEvent(2L, 10L, 200L, "x"),
      // second batch: user 1's context ("a b") must survive in state
      EventStream.SftEvent(1L, 12L, 102L, "c"),
      EventStream.SftEvent(1L, 13L, 103L, "d"),
      EventStream.SftEvent(1L, 14L, 104L, "e"),
      EventStream.SftEvent(2L, 11L, 201L, "y"))
    val in = MemoryStream[EventStream.SftEvent]
    val q = EventStream.sftStream(in.toDS(), k = 3)
      .writeStream.format("memory").queryName("sftout")
      .outputMode("append").start()
    try {
      in.addData(evs.take(3): _*); q.processAllAvailable()
      in.addData(evs.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("convo_id", "example_id", "context", "target", "n_ctx",
          "example_fp")
        .as[(Long, Long, String, String, Long, String)].collect().toSet
    val streamed = rows(spark.table("sftout"))
    // the k=3 window slid: example for 'e' sees "b c d", not "a b c d"
    assert(streamed.exists(r => r._4 == "e" && r._3 == "b c d"))
    assert(streamed.exists(r => r._4 == "c" && r._3 == "a b")) // x-batch
    val batchTwin = rows(EventStream.sftStream(evs.toDS(), k = 3).toDF())
    assert(streamed == batchTwin)
    val viaWindow = rows(graft.ops.Prep.sftExamples(
      evs.toDF("user_id", "us", "event_id", "event_type"),
      col("user_id"), col("event_id"),
      Seq(col("us"), col("event_id")), col("event_type"), k = 3)
      .withColumnRenamed("convo_id", "convo_id"))
    assert(streamed == viaWindow)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("packingStatsRaw streams: complete-mode stats equal the batch run " +
      "and the packed-placement stats") {
    // the s14 contract: chunks/waste depend only on each (source, shard)
    // stream's token TOTAL, so the raw keyed aggregation (a) streams in
    // complete mode across micro-batches, (b) equals the same function
    // over the static table, and (c) equals packingStats over the full
    // d74 placement — the padding-waste readout stays current as shards
    // land, without ever re-running the placement window.
    import graft.ops.Sampling
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "web", 100L), (2L, "web", 60L), (3L, "web", 130L),
      (4L, "code", 7L), (5L, "code", 250L), (6L, "web", 128L),
      (7L, "code", 1L), (8L, "web", 0L)) // zero-token row must drop
    val in = MemoryStream[(Long, String, Long)]
    val q = Sampling.packingStatsRaw(
        in.toDF().toDF("doc_id", "source", "toks"),
        col("doc_id"), col("source"), col("toks"), capacity = 128,
        shards = 2)
      .writeStream.format("memory").queryName("packstats")
      .outputMode("complete").start()
    try {
      in.addData(docs.take(4): _*); q.processAllAvailable()
      in.addData(docs.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "shard", "n_docs", "n_tokens", "n_chunks",
          "waste_tokens")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val static = docs.toDF("doc_id", "source", "toks")
    val batch = Sampling.packingStatsRaw(static, col("doc_id"),
      col("source"), col("toks"), capacity = 128, shards = 2)
    val viaPlacement = Sampling.packingStats(
      Sampling.packSequences(static, col("doc_id"), col("source"),
        col("toks"), capacity = 128, shards = 2),
      col("source"), capacity = 128)
    val streamed = rows(spark.table("packstats"))
    assert(streamed.nonEmpty && streamed.map(_._3).sum == 7L) // 8 docs - 1 zero
    assert(streamed == rows(batch))
    assert(rows(batch) == rows(viaPlacement))
  }

  test("qualityGateStats streams: the served model equals the batch gate") {
    // the s16 contract: a fitted d95 model (weights + standardization,
    // here small literals on the 6-dp grid) applied through the SAME
    // qcRawFeatures → qualityGateStats call on (a) a MemoryStream of raw
    // documents across two micro-batches in complete mode and (b) the
    // static table — per-source docs/pass/mean-score must be identical,
    // the train/serve equivalence the row exists to pin.
    import graft.ops.Learn
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog and runs"),
      (2L, "web", "a a a a a a a a a a a a"),
      (3L, "code", "def main print hello world and return zero now"),
      (4L, "web", ("the cat sat on the mat and then the dog sat on " +
        "the mat too while it was raining outside all day long")),
      (5L, "code", "x y z"))
    val w = Seq(0.4, 0.3, 1.2, -0.2, 2.1)
    val stats = Seq((0.2, 0.15), (0.6, 0.2), (0.45, 0.08), (0.5, 0.3))
    def gate(df: org.apache.spark.sql.DataFrame) =
      Learn.qualityGateStats(
        graft.QueriesPrep.qcRawFeatures(df), w, stats)
    val in = MemoryStream[(Long, String, String)]
    val q = gate(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("qgate")
      .outputMode("complete").start()
    try {
      in.addData(docs.take(2): _*); q.processAllAvailable()
      in.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "n_docs", "n_pass", "mean_score")
        .as[(String, Long, Long, Double)].collect().toSet
    val streamed = rows(spark.table("qgate"))
    val batch = rows(gate(docs.toDF("doc_id", "source", "text")))
    assert(streamed == batch)
    assert(streamed.map(_._2).sum == 5L)
    // scores genuinely vary: the gate is not a constant pass-through
    assert(streamed.map(_._4).size > 1)
  }

  test("audioGateStats streams: the decoded-clip gate equals the batch gate") {
    // the s18 contract (the s16 move, audio edition): the per-clip path
    // is a pure per-row map — content-addressed length, fused REAL
    // encode/decode/moments carrying the source key — so the SAME
    // audioGateStats call runs on (a) a MemoryStream of raw documents
    // across two micro-batches in complete mode and (b) the static
    // table; per-source clips/pass/total-ms/mean-amp must be identical.
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "web", "a a a a a a a a"),
      (3L, "code", "def main print hello world"),
      (4L, "web", "lorem ipsum dolor sit amet consectetur"),
      (5L, "code", "x y z"))
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.QueriesVectors.audioGateStats(df)
    val in = MemoryStream[(Long, String, String)]
    val q = gate(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("agate")
      .outputMode("complete").start()
    try {
      in.addData(docs.take(2): _*); q.processAllAvailable()
      in.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "n_clips", "n_pass", "total_ms", "mean_amp")
        .as[(String, Long, Long, Long, Double)].collect().toSet
    val streamed = rows(spark.table("agate"))
    val batch = rows(gate(docs.toDF("doc_id", "source", "text")))
    assert(streamed == batch)
    assert(streamed.map(_._2).sum == 5L)
    // the REAL codec ran: durations vary with the content-addressed length
    assert(streamed.map(_._4).size > 1)
  }

  test("videoGateStats streams: the decoded-clip motion gate equals the " +
      "batch gate") {
    // the s23 contract (the s18 move, video edition): the per-clip path
    // is a pure per-row map — content-addressed frame count and
    // static/dynamic split, fused REAL encode/decode/moments/motion —
    // so the SAME videoGateStats call runs on (a) a MemoryStream of
    // documents across two micro-batches in complete mode and (b) the
    // static table; per-source clips/pass/total-ms/mean-motion must be
    // identical.
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "web", "a a a a a a a a"),
      (3L, "code", "def main print hello world"),
      (4L, "web", "lorem ipsum dolor sit amet consectetur"),
      (5L, "code", "x y z"))
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.QueriesVectors.videoGateStats(df)
    val in = MemoryStream[(Long, String, String)]
    val q = gate(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("vgate")
      .outputMode("complete").start()
    try {
      in.addData(docs.take(2): _*); q.processAllAvailable()
      in.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "n_clips", "n_pass", "total_ms", "mean_motion")
        .as[(String, Long, Long, Long, Double)].collect().toSet
    val streamed = rows(spark.table("vgate"))
    val batch = rows(gate(docs.toDF("doc_id", "source", "text")))
    assert(streamed == batch)
    assert(streamed.map(_._2).sum == 5L)
  }

  test("crossModalServing streams: text tower over a stream joined to " +
      "the static image index equals the batch matcher") {
    // the s22 contract: the text tower is a stateless per-row map, the
    // candidate join is stream-static on the bucket key, the rollup is
    // a keyed aggregate — so the SAME crossModalServing call runs with
    // (a) a MemoryStream of text documents across two micro-batches in
    // complete mode against the static image corpus and (b) both sides
    // static; per-source pairs/kept/aligned-recall must be identical.
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "web", "a a a a a a a a"),
      (3L, "code", "def main print hello world"),
      (4L, "web", "lorem ipsum dolor sit amet consectetur"),
      (5L, "code", "x y z"))
    val static = docs.toDF("doc_id", "source", "text")
    def serve(txt: org.apache.spark.sql.DataFrame) =
      graft.QueriesVectors.crossModalServing(txt, static)
    val in = MemoryStream[(Long, String, String)]
    val q = serve(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("xmodal")
      .outputMode("complete").start()
    try {
      in.addData(docs.take(2): _*); q.processAllAvailable()
      in.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "n_pairs", "n_kept", "n_txt", "n_txt_dropped",
          "aligned_recall")
        .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val streamed = rows(spark.table("xmodal"))
    val batch = rows(serve(static))
    assert(streamed == batch)
    // every aligned pair is a candidate (identical vectors share the
    // bucket) and scores cosine 1 — recall must be 1.0 once all text
    // has arrived, and no text is candidate-starved (n_txt_dropped 0)
    assert(streamed.nonEmpty && streamed.forall(_._6 == 1.0))
    assert(streamed.forall(_._5 == 0L))
  }

  test("ingestDedupServing streams: the codec tower maps arriving " +
      "images per-row, the dup check is stream-static, stream == batch") {
    // the s24 contract: arrivals (dims rows) flow through the fused
    // image tower (stateless), LEFT SEMI against the static index on
    // the bucket key + exact-parallel test, ONE complete-mode rollup.
    // Arrival 101 duplicates doc 1's spec (must be rejected), 102 is
    // new content (admitted), 103 duplicates doc 3 (rejected), 104 new.
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "web", "a a a a a a a a"),
      (3L, "code", "def main print hello world")).toDF(
      "doc_id", "source", "text")
    val corpusDims = graft.QueriesVectors.towerDims(corpus).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    def dimOf(id: Long) = corpusDims.find(_._1 == id).get
    // dims rows carry mv (PGM maxval; 255 = the identity clamp)
    val arrivals = Seq(
      (101L, "web", dimOf(1L)._3, dimOf(1L)._4, dimOf(1L)._5, 255L),
      (102L, "web", "completely new content here", 9L, 5L, 255L),
      (103L, "code", dimOf(3L)._3, dimOf(3L)._4, dimOf(3L)._5, 255L),
      (104L, "code", "another brand new document", 11L, 7L, 255L))
    def serve(arr: org.apache.spark.sql.DataFrame) =
      graft.QueriesVectors.ingestDedupServing(arr, corpus)
    val in = MemoryStream[(Long, String, String, Long, Long, Long)]
    val q = serve(in.toDF().toDF("doc_id", "source", "text", "w", "h", "mv"))
      .writeStream.format("memory").queryName("ingestgate")
      .outputMode("complete").start()
    try {
      in.addData(arrivals.take(2): _*); q.processAllAvailable()
      in.addData(arrivals.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "n_arrivals", "n_dup", "n_admitted")
        .as[(String, Long, Long, Long)].collect().toSet
    val streamed = rows(spark.table("ingestgate"))
    val batch = rows(serve(
      arrivals.toDF("doc_id", "source", "text", "w", "h", "mv")))
    assert(streamed == batch)
    assert(streamed == Set(("web", 2L, 1L, 1L), ("code", 2L, 1L, 1L)))
  }

  test("s25 index maintenance streams: foreachBatch-admitted tower rows " +
      "accumulate to the batch operator's served index") {
    // the production shape: each micro-batch of arrivals runs the gate
    // (per-row tower + anti-join vs the STATIC corpus tower) inside
    // foreachBatch and appends admitted rows to the served index store
    // through the exactly-once idempotent sink; because the admit
    // decision is per-row against a static corpus,
    // admitted(b1 UNION b2) = admitted(b1) UNION admitted(b2), so the
    // accumulated index is bit-identical to the batch operator's — and
    // the whole serving row (widths, sizes, recall) matches too.
    implicit val sqlCtx = spark.sqlContext
    val dir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_s25_ix")
    rmTree(dir)
    val corpus = (1L to 30L).map(i =>
      (i, s"src${i % 3}", s"document body number $i with words"))
      .toDF("doc_id", "source", "text")
    val nBefore = corpus.count()
    val bits0 = graft.QueriesVectors.adaptiveTowerBits(nBefore)
    val corpusTower = graft.QueriesVectors.imageTowerFromDims(
      graft.QueriesVectors.towerDims(corpus), bits0).localCheckpoint(true)
    // arrivals: the registered mix (re-uploads + fresh), streamed in 2
    // micro-batches as raw dims rows
    val arrAll = graft.QueriesVectors.ingestArrivalDims(corpus)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(arrAll.length >= 4, "fixture must produce arrivals")
    val in = MemoryStream[(Long, String, String, Long, Long, Long)]
    val q = in.toDF().toDF("doc_id", "source", "text", "w", "h", "mv")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        EventStream.idempotentBatchWriter(dir.getPath)(
          graft.QueriesVectors.admittedArrivalTower(
            batch, corpusTower, bits0), bid)
      }.start()
    try {
      in.addData(arrAll.take(arrAll.length / 2).toSeq: _*); q.processAllAvailable()
      in.addData(arrAll.drop(arrAll.length / 2).toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(dir.getPath)
    val arrDf = arrAll.toSeq
      .toDF("doc_id", "source", "text", "w", "h", "mv")
    val batchAdmitted = graft.QueriesVectors.admittedArrivalTower(
      arrDf, corpusTower, bits0)
    def ixRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("source"), col("ibucket"), col("in2"),
          concat_ws(",", col("ivec")))
        .as[(Long, String, Long, Long, String)].collect().toSet
    assert(ixRows(streamed) == ixRows(batchAdmitted),
      "foreachBatch-accumulated admitted index != batch gate output")
    assert(ixRows(streamed).nonEmpty)
    // and the batch operator's full serving row (re-derived width,
    // index sizes, admitted retrieval) is what the accumulated index
    // serves — the decision per row matched, so the report must too
    val report = graft.QueriesVectors.ingestIndexUpdateServing(
      arrDf, corpus).collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      assert(r.getAs[Double]("recall_admitted") == 1.0,
        s"admitted content must be served at top-1: $r")
      assert(r.getAs[Long]("n_starved") == 0L)
      assert(r.getAs[Long]("n_index_after") ==
        r.getAs[Long]("n_index_before") + r.getAs[Long]("n_admitted"))
    }
    rmTree(dir)
  }

  test("vadSegments streams in APPEND mode: segments emitted per clip " +
      "equal the batch segments") {
    // the s19 contract: encode + VAD are stateless per-row maps, so an
    // append-mode stream emits each clip's utterance rows as the clip
    // arrives — no state, no watermark — and the union across
    // micro-batches must equal the batch run exactly.
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b c"),
      (3L, "lorem ipsum dolor sit amet consectetur adipiscing"))
    def seg(df: org.apache.spark.sql.DataFrame) =
      graft.QueriesVectors.vadSegments(df)
    val in = MemoryStream[(Long, String)]
    val q = seg(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("vadseg")
      .outputMode("append").start()
    try {
      in.addData(docs.take(1): _*); q.processAllAvailable()
      in.addData(docs.drop(1): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "seg", "seg_start", "seg_len", "energy")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val streamed = rows(spark.table("vadseg"))
    val batch = rows(seg(docs.toDF("doc_id", "text")))
    assert(streamed == batch)
    // 3 utterances per clip by construction
    assert(streamed.size == 9)
  }

  test("dpReleaseDf streams: every complete-mode snapshot is the " +
      "correctly noised release for the data seen so far") {
    // the s17 contract: keyed count/sum + post-aggregate noise whose
    // draw depends only on the source key — so the stream's final
    // snapshot equals the batch release, and the MID-STREAM snapshot
    // equals the batch release over the prefix (checked via a second
    // batch call on the first micro-batch alone).
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "web", "alpha beta gamma delta"),
      (2L, "web", "one two three"),
      (3L, "code", "def main return"),
      (4L, "web", "lorem ipsum dolor sit amet"))
    val in = MemoryStream[(Long, String, String)]
    val q = graft.QueriesPrep.dpReleaseDf(
        in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("dprel")
      .outputMode("complete").start()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "n_docs", "tok_clipped", "noisy_docs",
          "noisy_tokens")
        .as[(String, Long, Long, Double, Double)].collect().toSet
    val mid = try {
      in.addData(docs.take(2): _*); q.processAllAvailable()
      val m = rows(spark.table("dprel"))
      in.addData(docs.drop(2): _*); q.processAllAvailable()
      m
    } finally q.stop()
    val end = rows(spark.table("dprel"))
    assert(mid == rows(graft.QueriesPrep.dpReleaseDf(
      docs.take(2).toDF("doc_id", "source", "text"))))
    assert(end == rows(graft.QueriesPrep.dpReleaseDf(
      docs.toDF("doc_id", "source", "text"))))
    // the noise moved the published values off the true integers
    assert(end.forall(r => r._4 != r._2.toDouble))
  }

  test("slotQuantileSnapshot streams in complete mode: every snapshot is " +
      "the correct sketch of the prefix seen so far (s20 twin)") {
    implicit val sqlCtx = spark.sqlContext
    // (event_id, event_type, value): two types, values chosen so the
    // batch-1 prefix and the full stream have different quantiles
    val b1 = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      i.toDouble))
    val b2 = (41 to 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      i * 10.0))
    val in = MemoryStream[(Long, String, Double)]
    val sketch = graft.ops.Sketches.slotQuantileSnapshot(
      in.toDF().toDF("event_id", "event_type", "value"),
      col("event_type"), col("event_id"), col("value"),
      Seq(("q50", 0.5), ("q90", 0.9)), k = 16)
    val q = sketch.writeStream.format("memory").queryName("sqs")
      .outputMode("complete").start()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "n_rows", "q50", "q90")
        .as[(String, Long, Double, Double)].collect().toSet
    def batchOn(data: Seq[(Long, String, Double)]) =
      rows(graft.ops.Sketches.slotQuantileSnapshot(
        data.toDF("event_id", "event_type", "value"),
        col("event_type"), col("event_id"), col("value"),
        Seq(("q50", 0.5), ("q90", 0.9)), k = 16))
    val mid = try {
      in.addData(b1: _*); q.processAllAvailable()
      val m = rows(spark.table("sqs"))
      in.addData(b2: _*); q.processAllAvailable()
      m
    } finally q.stop()
    val end = rows(spark.table("sqs"))
    // the mid-stream snapshot equals the batch sketch of the PREFIX —
    // the min-per-slot state merged correctly, not just the final total
    assert(mid == batchOn(b1))
    assert(end == batchOn(b1 ++ b2))
    assert(mid != end, "batch 2 must move the sketch")
    assert(end.forall(_._2 == 50L))
  }

  test("windowedQuantiles: per-window sketches fold late rows into " +
      "their window and equal the batch twin (s21)") {
    implicit val sqlCtx = spark.sqlContext
    val t = (m: String) => Timestamp.valueOf(s"2024-01-01 $m:00")
    // window 10:00 gets rows in BOTH micro-batches (the late row must
    // merge into the existing window state); window 11:00 opens late
    val b1 = Seq((t("10:05"), 1L, 10.0), (t("10:20"), 2L, 30.0),
      (t("10:40"), 3L, 50.0))
    val b2 = Seq((t("10:55"), 4L, 70.0), (t("11:10"), 5L, 100.0))
    val in = MemoryStream[(Timestamp, Long, Double)]
    val q = EventStream.windowedQuantiles(
        in.toDF().toDF("ts", "event_id", "value"),
        col("event_id"), col("value"), Seq(("q50", 0.5), ("q90", 0.9)),
        k = 16, watermark = "2 hours")
      .select(col("grp.start").as("ws"), col("n_rows"),
        col("q50"), col("q90"))
      .writeStream.format("memory").queryName("wq")
      .outputMode("complete").start()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Timestamp, Long, Double, Double)].collect().toSet
    try {
      in.addData(b1: _*); q.processAllAvailable()
      assert(rows(spark.table("wq")).map(_._1) == Set(t("10:00")))
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val end = rows(spark.table("wq"))
    val batch = rows(EventStream.windowedQuantiles(
        (b1 ++ b2).toDF("ts", "event_id", "value"),
        col("event_id"), col("value"), Seq(("q50", 0.5), ("q90", 0.9)),
        k = 16)
      .select(col("grp.start").as("ws"), col("n_rows"),
        col("q50"), col("q90")))
    assert(end == batch)
    assert(end.map(_._1) == Set(t("10:00"), t("11:00")))
    // the late 10:55 row reached the 10:00 window: 4 rows, not 3
    assert(end.find(_._1 == t("10:00")).get._2 == 4L)
  }
}
