package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{FunnelStream, Sessionize, Streams}

/** Structured Streaming semantics: windowed stats, alerts, dedup, and
  * stateful sessionization via MemoryStream → memory sink.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedStats aggregates tumbling event-time windows on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "etype", "value")
    val q = Streams.windowedStats(df, "ts", "etype", "value", "1 minute", "10 minutes")
      .writeStream.format("memory").queryName("winstats").outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (ts("2024-01-01 00:00:10"), "cpu", 50.0),
        (ts("2024-01-01 00:00:40"), "cpu", 70.0),
        (ts("2024-01-01 00:01:10"), "cpu", 90.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first windows
      in.addData((ts("2024-01-01 01:00:00"), "cpu", 1.0))
      q.processAllAvailable()
      val rows = spark.table("winstats")
        .select("window_start", "n", "sum_value").orderBy("window_start")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      assert(rows.contains(("2024-01-01 00:00:00.0", 2L, 120.0)))
      assert(rows.contains(("2024-01-01 00:01:00.0", 1L, 90.0)))
    } finally q.stop()
  }

  test("windowDistinctSketch: streaming registers EQUAL the batch sketch under out-of-order multi-batch delivery") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    import graft.functions.Hashing
    // 3 hours of events, duplicated users, delivered fully shuffled
    // across three micro-batches — register max is order-independent,
    // so the closed windows must equal the batch sketch BIT-FOR-BIT.
    // The 4 h watermark covers the whole shuffle horizon: rows older
    // than the watermark are DROPPED by contract (they'd be late in
    // any engine), and this test is about ORDER, not lateness
    val all = (0 until 300).map { i =>
      (ts(f"2024-01-01 0${i % 3}%d:${(i / 3) % 60}%02d:11"), (i % 70).toLong)
    }
    val (b1, rest) = new scala.util.Random(7).shuffle(all).splitAt(100)
    val (b2, b3) = rest.splitAt(100)
    val in = MemoryStream[(Timestamp, Long)]
    val q = Streams.windowDistinctSketch(
      in.toDF().toDF("ts", "user_id"), "ts", "user_id",
      window = "1 hour", watermark = "4 hours")
      .writeStream.format("memory").queryName("hllwin")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
      in.addData((ts("2024-01-02 00:00:00"), 9999L)) // close all 3 windows
      q.processAllAvailable()
      val got = spark.table("hllwin")
        .filter(col("window_start") < ts("2024-01-01 12:00:00"))
        .select("window_start", "n_events", "regs")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getSeq[Int](2)))
        .sortBy(_._1)
      val batch = all.toDF("ts", "user_id")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00:00.0").as("key"))
        .agg(count(lit(1)).as("n"),
          Sketches.hllAgg(6)(Hashing.h60(col("user_id").cast("string"))).as("regs"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2)))
        .sortBy(_._1)
      assert(got.length === 3)
      assert(got.toSeq === batch.toSeq) // registers bit-identical, no tolerance
    } finally q.stop()
  }

  test("windowQuantileSample: streaming pairs EQUAL the batch sample bit-for-bit; fractional metrics rejected") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    // 2 hours, 150 events each, unique ids, shuffled across 3 batches
    val all = (0 until 300).map { i =>
      (ts(f"2024-01-01 0${i % 2}%d:${(i / 2) % 60}%02d:07"), i.toLong,
        ((i * 37) % 500).toLong)
    }
    val (b1, rest) = new scala.util.Random(11).shuffle(all).splitAt(100)
    val (b2, b3) = rest.splitAt(100)
    val in = MemoryStream[(Timestamp, Long, Long)]
    val q = Streams.windowQuantileSample(
      in.toDF().toDF("ts", "event_id", "v"), "ts", "event_id", "v",
      window = "1 hour", watermark = "3 hours", k = 32)
      .writeStream.format("memory").queryName("qsample")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
      in.addData((ts("2024-01-02 00:00:00"), 9999L, 0L)) // close both windows
      q.processAllAvailable()
      val got = spark.table("qsample")
        .filter(col("window_start") < ts("2024-01-01 12:00:00"))
        .select("window_start", "n", "pairs").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1),
          r.getSeq[org.apache.spark.sql.Row](2).map(p => (p.getLong(0), p.getLong(1)))))
        .sortBy(_._1)
      val batch = Sketches.pairSampleByKey(
        all.toDF("ts", "event_id", "v"),
        date_format(col("ts"), "yyyy-MM-dd HH:00:00.0"),
        col("event_id"), col("v"), k = 32)
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getSeq[org.apache.spark.sql.Row](2).map(p => (p.getLong(0), p.getLong(1)))))
        .sortBy(_._1)
      assert(got.length === 2)
      assert(got.toSeq === batch.toSeq) // the sample IS the state — bit-identical
      // downstream estimator runs on the streamed sample unchanged
      val est = Sketches.quantilesFromSample(
        spark.table("qsample")
          .filter(col("window_start") < ts("2024-01-01 12:00:00"))
          .select(col("window_start").cast("string").as("key"),
            col("n"), col("pairs")),
        qs = Seq(0.5)).collect()
      assert(est.length === 2 && est.forall(r => r.getLong(3) >= 0))
    } finally q.stop()
    // fractional metric: loudly rejected, mirroring the batch gate
    intercept[IllegalArgumentException] {
      Streams.windowQuantileSample(
        Seq((ts("2024-01-01 00:00:01"), 1L, 1.5)).toDF("ts", "event_id", "v"),
        "ts", "event_id", "v")
    }
  }

  test("dedupEvents drops same-id events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "event_id", "etype")
    val q = Streams.dedupEvents(df, "ts", "event_id")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (ts("2024-01-01 00:00:01"), 1L, "a"),
        (ts("2024-01-01 00:00:02"), 1L, "a-dup"),
        (ts("2024-01-01 00:00:03"), 2L, "b"))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("alerts tier severities (batch twin)") {
    val df = Seq(("a", 50.0), ("b", 85.0), ("c", 95.0)).toDF("id", "v")
    val got = Streams.alerts(df, "v", warn = 80, crit = 90)
      .select("id", "severity").as[(String, String)].collect().toMap
    assert(got == Map("b" -> "warning", "c" -> "critical"))
  }

  test("retentionByAge keeps rows near the data's max timestamp") {
    val df = Seq(
      (ts("2024-01-01 00:00:00"), 1L),
      (ts("2024-01-01 11:00:00"), 2L),
      (ts("2024-01-01 12:00:00"), 3L)).toDF("ts", "id")
    val kept = Streams.retentionByAge(df, "ts", "2 HOURS").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("file-source streaming ingest: drop directory → windowed stats") {
    val dir = java.nio.file.Files.createTempDirectory("evdrop")
    def drop(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), lines.mkString("\n"))
    drop("batch1.json",
      """{"ts":"2024-01-01 00:00:05","etype":"view","value":1.0}""",
      """{"ts":"2024-01-01 00:00:20","etype":"view","value":2.0}""")
    val stream = spark.readStream
      .schema("ts TIMESTAMP, etype STRING, value DOUBLE")
      .json(dir.toString)
    val q = Streams.windowedStats(stream, "ts", "etype", "value", "1 minute", "10 minutes")
      .writeStream.format("memory").queryName("filewin").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // second file arrives later; far-future event closes the window
      drop("batch2.json", """{"ts":"2024-01-01 02:00:00","etype":"view","value":9.0}""")
      q.processAllAvailable()
      val rows = spark.table("filewin").select("n", "sum_value")
        .as[(Long, Double)].collect().toSet
      assert(rows.contains((2L, 3.0)))
    } finally q.stop()
  }

  test("sessionize: late in-watermark event never shrinks session bounds") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sessionize.Ev]
    val out = Sessionize.sessions(in.toDS(), gapMs = 60000L, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("latesess")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Sessionize.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:30"), "a", 1.0))
      out.processAllAvailable()
      // batch 2: a LATE event 10 s earlier — must extend start, not move last back
      in.addData(Sessionize.Ev(1L, Timestamp.valueOf("2024-01-01 00:00:20"), "a", 2.0))
      out.processAllAvailable()
      // far-future event from another user pushes the watermark past the deadline
      in.addData(Sessionize.Ev(2L, Timestamp.valueOf("2024-01-01 03:00:00"), "a", 0.0))
      out.processAllAvailable()
      val rows = spark.table("latesess")
        .filter($"userId" === 1L)
        .select("sessionStart", "sessionEnd", "nEvents")
        .as[(Timestamp, Timestamp, Int)].collect()
      assert(rows.length == 1)
      val (start, end, n) = rows(0)
      assert(n == 2)
      assert(start == Timestamp.valueOf("2024-01-01 00:00:20"))
      assert(end == Timestamp.valueOf("2024-01-01 00:00:30"), s"late event shrank last to $end")
    } finally out.stop()
  }

  test("funnel stream: completion emits and clears; silence emits the drop-off row") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sessionize.Ev]
    val out = FunnelStream.progress(
      in.toDS(), steps = Seq("view", "click", "purchase"),
      idleMs = 60000L, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("funnelstream")
      .outputMode(OutputMode.Append()).start()
    try {
      // u1 completes across two batches; u2 stalls after view+click;
      // same-batch disorder (click before view in arrival order, same
      // batch) heals via the (ts, step) sort
      in.addData(
        Sessionize.Ev(1L, ts("2024-01-01 00:00:10"), "click", 0.0),
        Sessionize.Ev(1L, ts("2024-01-01 00:00:05"), "view", 0.0),
        Sessionize.Ev(2L, ts("2024-01-01 00:00:07"), "view", 0.0),
        Sessionize.Ev(3L, ts("2024-01-01 00:00:08"), "click", 0.0)) // never step 0
      out.processAllAvailable()
      in.addData(
        Sessionize.Ev(1L, ts("2024-01-01 00:00:20"), "purchase", 0.0),
        Sessionize.Ev(2L, ts("2024-01-01 00:00:21"), "click", 0.0))
      out.processAllAvailable()
      val done = spark.table("funnelstream")
        .filter($"completed").as[FunnelStream.FunnelOut].collect()
      assert(done.length == 1)
      assert(done(0).userId == 1L && done(0).stepsCompleted == 3)
      assert(done(0).firstTs == ts("2024-01-01 00:00:05"))
      assert(done(0).lastTs == ts("2024-01-01 00:00:20"))
      // far-future event pushes the watermark past u2's idle deadline
      in.addData(Sessionize.Ev(9L, ts("2024-01-01 05:00:00"), "view", 0.0))
      out.processAllAvailable()
      val dropped = spark.table("funnelstream")
        .filter(!$"completed" && $"userId" === 2L)
        .as[FunnelStream.FunnelOut].collect()
      assert(dropped.length == 1)
      assert(dropped(0).stepsCompleted == 2, "u2 dropped off after view+click")
      assert(dropped(0).firstTs == ts("2024-01-01 00:00:07"),
        "firstTs is the step-0 advance time")
      // u3 never completed step 0: the drop-off row carries a NULL
      // firstTs (the batch twin's first_ts contract) but a real lastTs
      val zero = spark.table("funnelstream")
        .filter(!$"completed" && $"userId" === 3L)
        .as[FunnelStream.FunnelOut].collect()
      assert(zero.length == 1)
      assert(zero(0).stepsCompleted == 0)
      assert(zero(0).firstTs == null, s"0-step drop-off must not claim a funnel start, got ${zero(0).firstTs}")
      assert(zero(0).lastTs == ts("2024-01-01 00:00:08"))
      // completion CLEARED u1: no drop-off row for them at timeout
      assert(spark.table("funnelstream")
        .filter(!$"completed" && $"userId" === 1L).count() == 0)
    } finally out.stop()
  }

  test("funnel stream exact: cross-batch disorder heals to batch-operator parity") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val in = MemoryStream[Sessionize.Ev]
    val out = FunnelStream.progressExact(
      in.toDS(), steps, idleMs = 60000L, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("funnelexact")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 delivers u1's MIDDLE step first; batch 2 brings the
      // first and last — exactly the cross-batch disorder the greedy
      // mode documents as its divergence. u2 clicks+purchases but
      // never views (a 0-step drop-off in both engines).
      in.addData(
        Sessionize.Ev(1L, ts("2024-01-01 00:00:10"), "click", 0.0),
        Sessionize.Ev(2L, ts("2024-01-01 00:00:10"), "click", 0.0))
      out.processAllAvailable()
      in.addData(
        Sessionize.Ev(1L, ts("2024-01-01 00:00:05"), "view", 0.0),
        Sessionize.Ev(1L, ts("2024-01-01 00:00:20"), "purchase", 0.0),
        Sessionize.Ev(2L, ts("2024-01-01 00:00:21"), "purchase", 0.0))
      out.processAllAvailable()
      // exactness trades latency: every event is still inside the
      // watermark horizon, so NOTHING may emit yet
      assert(spark.table("funnelexact").count() == 0,
        "exact mode emitted before the watermark finalized the events")
      // two far-future ticks: the first advances the watermark past the
      // deadlines, the second triggers the timed-out groups' drain
      in.addData(Sessionize.Ev(9L, ts("2024-01-01 05:00:00"), "view", 0.0))
      out.processAllAvailable()
      in.addData(Sessionize.Ev(9L, ts("2024-01-01 12:00:00"), "view", 0.0))
      out.processAllAvailable()

      val got = spark.table("funnelexact")
        .filter($"userId".isin(1L, 2L)).as[FunnelStream.FunnelOut]
        .collect().map(r => r.userId -> r).toMap
      assert(got.size == 2, s"expected one row per user, got $got")

      // the batch operator over the SAME events (ts in epoch millis)
      val evDf = Seq(
        (1L, ts("2024-01-01 00:00:10").getTime, "click"),
        (1L, ts("2024-01-01 00:00:05").getTime, "view"),
        (1L, ts("2024-01-01 00:00:20").getTime, "purchase"),
        (2L, ts("2024-01-01 00:00:10").getTime, "click"),
        (2L, ts("2024-01-01 00:00:21").getTime, "purchase"))
        .toDF("user_id", "ts_ms", "etype")
      val batch = graft.operators.Funnel.funnel(
        evDf, col("user_id"), col("ts_ms"), col("etype"), steps)
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap

      for ((u, (nSteps, firstTs, doneTs)) <- batch) {
        val g = got(u)
        assert(g.stepsCompleted == nSteps, s"u$u steps: got ${g.stepsCompleted}, batch $nSteps")
        assert(Option(g.firstTs).map(_.getTime) == firstTs, s"u$u firstTs diverged")
        assert(g.completed == (nSteps == steps.length))
        // for a completed funnel the stream's lastTs IS the completing
        // event — the batch done_ts
        doneTs.foreach(d => assert(g.lastTs.getTime == d, s"u$u doneTs diverged"))
      }
      // and the healed ordering is the thing greedy mode cannot do:
      // u1 completes all 3 steps despite the middle step arriving first
      assert(got(1L).stepsCompleted == 3 && got(1L).completed)
      assert(got(2L).stepsCompleted == 0 && got(2L).firstTs == null)
    } finally out.stop()
  }

  test("dedupByContent: whitespace-variant duplicates collapse on the stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.dedupByContent(df, "ts", "text")
      .writeStream.format("memory").queryName("cdedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 00:00:01"), 1L, "Hello  World"),
        (Timestamp.valueOf("2024-01-01 00:00:02"), 2L, "hello world"), // normalize-dup of 1
        (Timestamp.valueOf("2024-01-01 00:00:03"), 3L, "something else"))
      q.processAllAvailable()
      in.addData(
        (Timestamp.valueOf("2024-01-01 00:01:00"), 4L, "HELLO   world"), // still within watermark
        (Timestamp.valueOf("2024-01-01 00:01:01"), 5L, "brand new text"))
      q.processAllAvailable()
      val ids = spark.table("cdedup").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("correlateStreams: stream-stream interval join matches within the bound only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val buys = MemoryStream[(Timestamp, Long, String)]
    val q = Streams.correlateStreams(
      clicks.toDF().toDF("c_ts", "c_user", "page"), "c_ts", "c_user",
      buys.toDF().toDF("b_ts", "b_user", "item"), "b_ts", "b_user",
      watermark = "10 seconds", joinWindow = "1 minute")
      .writeStream.format("memory").queryName("corr")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        (Timestamp.valueOf("2024-01-01 00:00:10"), 1L, "p1"),
        (Timestamp.valueOf("2024-01-01 00:00:10"), 2L, "p2"))
      buys.addData(
        (Timestamp.valueOf("2024-01-01 00:00:40"), 1L, "i1"), // user 1, +30 s: in window
        (Timestamp.valueOf("2024-01-01 00:05:00"), 2L, "i2")) // user 2, +290 s: out
      q.processAllAvailable()
      // a later right-side row for user 2 inside the window still joins
      buys.addData((Timestamp.valueOf("2024-01-01 00:00:55"), 2L, "i3"))
      q.processAllAvailable()
      val got = spark.table("corr").select("c_user", "page", "item")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got === Set((1L, "p1", "i1"), (2L, "p2", "i3")), s"got $got")
    } finally q.stop()
    // refused: ambiguous column names
    intercept[IllegalArgumentException] {
      Streams.correlateStreams(
        clicks.toDF().toDF("ts", "user", "x"), "ts", "user",
        buys.toDF().toDF("ts", "user", "y"), "ts", "user")
    }
  }

  test("tool-report streaming ingest: dropped scan logs parse per micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("avdrop")
    def drop(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), lines.mkString("\n"))
    drop("scan1.log",
      "C:\\Users\\a\\evil.exe: Win.Trojan.Alpha FOUND",
      "C:\\Users\\a\\fine.txt: OK")
    val q = Streams.reportStream(spark, dir.toString, graft.parse.ToolParsers.clamav)
      .writeStream.format("memory").queryName("avfind")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      drop("scan2.log", "C:\\Users\\b\\worse.dll: Win.Malware.Beta FOUND")
      q.processAllAvailable()
      val titles = spark.table("avfind").select("title").as[String].collect().toSet
      assert(titles == Set("ClamAV: Win.Trojan.Alpha", "ClamAV: Win.Malware.Beta"))
      val target = spark.table("avfind").select("target").as[String].collect().toSet
      assert(target.contains("C:\\Users\\a\\evil.exe")) // last-colon split held in streaming too
    } finally q.stop()
  }

  test("sessionize: inline close on post-gap event AND timeout close for silent users") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sessionize.Ev]
    val q = Sessionize.sessions(in.toDS(), gapMs = 60000, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Sessionize.Ev(7, ts("2024-01-01 00:00:00"), "view", 1.0),
        Sessionize.Ev(7, ts("2024-01-01 00:00:30"), "click", 2.0))
      q.processAllAvailable()
      // user 7's next event is past the gap → closes session 1 inline
      in.addData(Sessionize.Ev(7, ts("2024-01-01 00:10:00"), "view", 5.0))
      q.processAllAvailable()
      // user 7 then goes silent forever; user 8 advances the watermark
      // past 7's deadline, so 7's second session must close via TIMEOUT
      in.addData(Sessionize.Ev(8, ts("2024-01-01 03:00:00"), "view", 7.0))
      q.processAllAvailable()
      in.addData(Sessionize.Ev(8, ts("2024-01-01 03:00:01"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("userId", "nEvents", "sumValue").as[(Long, Int, Double)].collect().toSet
      assert(rows.contains((7L, 2, 3.0)), s"inline-closed session missing: $rows")
      assert(rows.contains((7L, 1, 5.0)), s"timeout-closed session missing: $rows")
    } finally q.stop()
  }

  test("curationGate: quality gate + sample-mix selects identical rows on stream and batch") {
    // the full curation FRONT (quality gate + token floor + stratified
    // sample) on a document stream: every stage is narrow and
    // deterministic, so the stream must select exactly the batch subset
    // — and the gate must actually gate (some docs fail quality)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("doc_id", "lang", "text")
    val q = Streams.curationGate(df, "text", "lang", "doc_id",
      rates = Map("en" -> 0.5), salt = "cg1")
      .writeStream.format("memory").queryName("curgate")
      .outputMode(OutputMode.Append()).start()
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val docs = (1L to 200L).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      val text = if (i % 5 == 0) "x!!" else s"$good item $i"
      (i, lang, text)
    }
    try {
      in.addData(docs.take(120): _*)
      q.processAllAvailable()
      in.addData(docs.drop(120): _*) // second micro-batch: same filter, no state
      q.processAllAvailable()
      val streamed = spark.table("curgate").select("doc_id").as[Long].collect().toSet
      val batch = Streams.curationGate(
        docs.toDF("doc_id", "lang", "text"), "text", "lang", "doc_id",
        rates = Map("en" -> 0.5), salt = "cg1")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, "stream and batch curated different subsets")
      assert(docs.filter(_._1 % 5 == 0).map(_._1).toSet.intersect(streamed).isEmpty,
        "low-quality docs leaked through the gate")
      assert(streamed.nonEmpty && streamed.size < docs.size,
        s"gate is vacuous: ${streamed.size} of ${docs.size} kept")
    } finally q.stop()
  }

  test("curation filters are streamable: hash-threshold sampling on a stream") {
    // the sampling membership is a pure narrow filter (no state, no
    // watermark), so the SAME operator runs unchanged on a stream and
    // selects the SAME subset a batch pass selects — the property that
    // lets one curation recipe serve both the backfill and the live feed
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "lang")
    val sampled = graft.operators.Sampling.stratifiedSample(
      df, col("lang"), col("doc_id"), Map("en" -> 0.25), defaultRate = 1.0, salt = "s1")
    val q = sampled.writeStream.format("memory").queryName("samp")
      .outputMode(OutputMode.Append()).start()
    try {
      val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      in.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("samp").select("doc_id").as[Long].collect().toSet
      val batch = graft.operators.Sampling.stratifiedSample(
        docs.toDF("doc_id", "lang"), col("lang"), col("doc_id"),
        Map("en" -> 0.25), defaultRate = 1.0, salt = "s1")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, "stream and batch selected different subsets")
      assert(docs.filter(_._2 == "de").map(_._1).toSet.subsetOf(streamed))
    } finally q.stop()
  }

  test("dedupGate: ledger suppresses cross-batch content dups; in-batch keeps lowest id") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_dedupgate").toString
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupGate(
      in.toDF().toDF("id", "text"), s"$work/ckpt", s"$work/ledger",
      "id", "text",
      batch => emitted.synchronized {
        emitted ++= batch.collect().map(r => (r.getLong(0), r.getString(1)))
      })
    try {
      // batch 1: "a" duplicated in-batch (ids 1 and 3 -> keep 1)
      in.addData((1L, "a"), (2L, "b"), (3L, "a"))
      q.processAllAvailable()
      // batch 2: "b" already in the LEDGER (suppressed), "c" fresh,
      // null text passes through; an exact (id, text) row copy inside
      // the batch collapses to ONE emitted row and one ledger entry
      in.addData((4L, "b"), (5L, "c"), (5L, "c"), (6L, null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    assert(emitted.map(_._1).sorted.toSeq === Seq(1L, 2L, 5L, 6L),
      s"emitted ${emitted.toSeq}")
    // the ledger holds each fingerprint exactly once
    val fps = spark.read.parquet(s"$work/ledger").collect().map(_.getString(0)).toSeq
    assert(fps.length === fps.distinct.length && fps.length === 3)
  }

  test("neardupGate: band ledger suppresses cross-batch NEAR-dups; in-batch exact verify keeps lowest id") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    val ledger = s"$work/ledger"
    // ~40 tokens; variants share all but the tail → jaccard ≈ 0.9
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val variant = (1 to 39).map(i => s"tok$i").mkString(" ") + " other"
    val later = (1 to 38).map(i => s"tok$i").mkString(" ") + " changed tail"
    val distinctA = (100 to 140).map(i => s"word$i").mkString(" ")
    val distinctB = (200 to 240).map(i => s"term$i").mkString(" ")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = Streams.neardupGate(
      in.toDF().toDF("id", "text"), s"$work/ckpt", ledger, "id", "text",
      batch => emitted.synchronized { emitted ++= batch.collect().map(_.getLong(0)) },
      n = 3, k = 64, rowsPerBand = 2, minJaccard = 0.5)
    try {
      // batch 1: 1 and 3 are near-dups (exact verify) → keep 1; 2 distinct
      in.addData((1L, base), (3L, variant), (2L, distinctA))
      q.processAllAvailable()
      // batch 2: 4 is a near-dup of LEDGERED 1 (agreement estimate) →
      // suppressed; 5 fresh; 6 null text passes through
      in.addData((4L, later), (5L, distinctB), (6L, null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    assert(emitted.sorted.toSeq === Seq(1L, 2L, 5L, 6L), s"emitted ${emitted.toSeq}")
    // signature lake: survivors only, one row each, bucketed by id hash
    val sigs = spark.read.parquet(s"$ledger/sigs")
    assert(sigs.select("oid").as[String].collect().toSet === Set("1", "2", "5"))
    // postings lake: bucketed by band hash, only survivors' bands
    val post = spark.read.parquet(s"$ledger/postings")
    assert(post.select("oid").distinct().as[String].collect().toSet === Set("1", "2", "5"))
    assert(new java.io.File(s"$ledger/postings").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("bucket=")))
  }

  test("neardupGate scans are bucket-pruned and absent lakes read as no-history") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_neardup_bkt").toString
    val ledger = s"$work/ledger"
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = Streams.neardupGate(
      in.toDF().toDF("id", "text"), s"$work/ckpt", ledger, "id", "text",
      batch => emitted.synchronized { emitted ++= batch.collect().map(_.getLong(0)) },
      n = 3, k = 64, rowsPerBand = 2, minJaccard = 0.5)
    try {
      in.addData((0 until 20).map(i =>
        (i.toLong, (0 until 30).map(j => s"u${i}w$j").mkString(" "))): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(emitted.size === 20)
    // a scan for one present bucket reads only that bucket's files
    val buckets = new java.io.File(s"$ledger/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=")).sorted
    assert(buckets.length > 3, s"expected spread over buckets, got ${buckets.toSeq}")
    val one = Streams.neardupPostingsScan(spark, ledger, Seq(buckets.head)).get
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(_.contains(s"bucket=${buckets.head}")))
    val all = Streams.neardupPostingsScan(spark, ledger, buckets.toSeq).get
    assert(one.inputFiles.length < all.inputFiles.length)
    // non-existent buckets and a missing lake both read as None
    assert(Streams.neardupPostingsScan(spark, ledger, Seq("zz")).isEmpty)
    assert(Streams.neardupSigsScan(spark, s"$work/nowhere", Seq("00")).isEmpty)
  }

  test("neardupGate: moderate overlap below the threshold is NOT suppressed cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_neardup_thr").toString
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    // halves share 15 of 45 tokens → jaccard ≈ 0.2, agreement ≈ 0.2 < 0.5
    val first = (1 to 45).map(i => s"tok$i").mkString(" ")
    val second = ((31 to 45) ++ (100 to 130)).map(i => s"tok$i").mkString(" ")
    val q = Streams.neardupGate(
      in.toDF().toDF("id", "text"), s"$work/ckpt", s"$work/ledger", "id", "text",
      batch => emitted.synchronized { emitted ++= batch.collect().map(_.getLong(0)) },
      n = 3, k = 64, rowsPerBand = 2, minJaccard = 0.5)
    try {
      in.addData((1L, first))
      q.processAllAvailable()
      in.addData((2L, second))
      q.processAllAvailable()
    } finally q.stop()
    assert(emitted.sorted.toSeq === Seq(1L, 2L),
      "a below-threshold overlap was wrongly suppressed")
  }

  test("dedupGate ledger is bucketed: a batch reads only its touched bucket dirs") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_dedupgate_bkt").toString
    val ledger = s"$work/ledger"
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupGate(
      in.toDF().toDF("id", "text"), s"$work/ckpt", ledger, "id", "text",
      batch => emitted.synchronized { emitted ++= batch.collect().map(_.getLong(0)) })
    try {
      // 40 distinct texts spread fingerprints over many prefix buckets
      in.addData((0 until 40).map(i => (i.toLong, s"document number $i")): _*)
      q.processAllAvailable()
      // cross-batch dedup still works over the bucketed layout
      in.addData((100L, "document number 7"), (101L, "brand new text"))
      q.processAllAvailable()
    } finally q.stop()
    assert(emitted.toSet == (0 until 40).map(_.toLong).toSet + 101L,
      "bucketed ledger changed dedup semantics")
    // layout: every committed file lives under a bucket=<2-hex> dir
    val buckets = new java.io.File(ledger).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map(_.getName)
    assert(buckets.length > 5, s"expected many prefix buckets, got ${buckets.toSeq}")
    // THE scale assertion: a batch touching one fingerprint reads only
    // that fingerprint's bucket dir, not the 40-doc history
    val fp = spark.sql("SELECT 1").select(
      graft.functions.Text.fingerprint(org.apache.spark.sql.functions.lit("document number 7")))
      .head.getString(0)
    val touched = Seq(fp.substring(0, 2))
    val scan = Streams.ledgerScan(spark, ledger, touched).get
    val files = scan.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"bucket=${touched.head}")),
      s"pruned scan read outside its bucket: ${files.toSeq}")
    val allFiles = Streams.ledgerScan(spark, ledger, buckets.map(_.stripPrefix("bucket=")).toSeq)
      .get.inputFiles
    assert(files.length < allFiles.length,
      "touched-bucket scan read as many files as the full ledger")
    // an untouched (non-existent) bucket reads as no-history
    assert(Streams.ledgerScan(spark, ledger, Seq("zz")).isEmpty)
  }

  test("dedupGate ledger compaction: per-batch file decay cured, fingerprints and semantics intact") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_dedupgate_cmp").toString
    val ledger = s"$work/ledger"
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupGate(
      in.toDF().toDF("id", "text"), s"$work/ckpt", ledger, "id", "text",
      batch => emitted.synchronized { emitted ++= batch.collect().map(_.getLong(0)) })
    try {
      // several batches share prefixes → multiple files per bucket dir
      for (b <- 0 until 4) {
        in.addData((0 until 12).map(i => ((b * 100 + i).toLong, s"text number $i extra $b")): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val before = spark.read.parquet(ledger).select("fp").as[String].collect().toSet
    Streams.compactLedger(spark, ledger)
    val after = spark.read.parquet(ledger).select("fp").as[String].collect().toSet
    assert(after == before, "compaction changed the fingerprint set")
    new java.io.File(ledger).listFiles().filter(_.getName.startsWith("bucket=")).foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n <= 1, s"${d.getName} still fragmented into $n files after compaction")
    }
    // the compacted ledger still suppresses history
    val emitted2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in2 = MemoryStream[(Long, String)]
    val q2 = Streams.dedupGate(
      in2.toDF().toDF("id", "text"), s"$work/ckpt2", ledger, "id", "text",
      batch => emitted2.synchronized { emitted2 ++= batch.collect().map(_.getLong(0)) })
    try {
      in2.addData((900L, "text number 3 extra 1"), (901L, "never seen before"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(emitted2.toSeq == Seq(901L), s"post-compaction dedup broke: $emitted2")
  }

  test("exactly-once dedup gate: every crash window converges — nothing emitted twice, nothing lost") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_dedup_eo").toString
    val ledger = s"$work/ledger"; val sink = s"$work/sink"
    def sinkRows() = spark.read.parquet(sink)
      .select("id", "text", "batch").as[(Long, String, String)].collect().toSet
    def ledgerFps() = spark.read.parquet(ledger).select("fp").as[String].collect().toSeq
    def fpOf(t: String) = Seq(t).toDF("t")
      .select(graft.functions.Text.fingerprint(col("t"))).as[String].head()

    // batch 0 through the REAL stream: in-batch keep-first + sink
    // write, markers/tags scoped by the checkpoint's run id
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupGateExactlyOnce(
      in.toDF().toDF("id", "text"), s"$work/ckpt", ledger, sink, "id", "text")
    try {
      in.addData((2L, "alpha"), (1L, "alpha"), (3L, "beta"))
      q.processAllAvailable()
    } finally q.stop()
    val rid = Streams.streamingRunId(spark, s"$work/ckpt")
    assert(rid.nonEmpty)
    val s0 = sinkRows()
    assert(s0 == Set((1L, "alpha", s"$rid-0"), (3L, "beta", s"$rid-0")), s"batch 0 wrong: $s0")
    assert(new java.io.File(s"$ledger/_batches/$rid-0").isFile, "commit marker missing")
    val l0 = ledgerFps()
    assert(l0.toSet == Set(fpOf("alpha"), fpOf("beta")) && l0.size == 2)

    // WINDOW A — replay of a COMMITTED batch: the marker short-circuits,
    // so not a single file moves (byte-identical by construction)
    def treeListing() = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isFile) Seq((f.getPath, f.length()))
        else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      (walk(new java.io.File(sink)) ++ walk(new java.io.File(ledger))).sorted
    }
    val before = treeListing()
    val b0 = Seq((2L, "alpha"), (1L, "alpha"), (3L, "beta")).toDF("id", "text")
    Streams.exactlyOnceBatch(b0, rid, 0L, ledger, sink, "id", "text")
    assert(treeListing() == before, "replay of a committed batch wrote files")

    // WINDOW B — crashed AFTER the sink write, BEFORE the ledger
    // append (no marker): fabricate exactly that state for batch 1,
    // then replay — sink partition must be overwritten (not doubled),
    // the ledger must gain gamma ONCE
    val b1 = Seq((4L, "beta"), (5L, "gamma")).toDF("id", "text")
    Seq((5L, "gamma")).toDF("id", "text").withColumn("batch", lit(s"$rid-1"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(sink)
    Streams.exactlyOnceBatch(b1, rid, 1L, ledger, sink, "id", "text")
    assert(sinkRows() == s0 + ((5L, "gamma", s"$rid-1")), s"window B sink: ${sinkRows()}")
    val l1 = ledgerFps()
    assert(l1.size == 3 && l1.count(_ == fpOf("gamma")) == 1, s"window B ledger: $l1")
    assert(new java.io.File(s"$ledger/_batches/$rid-1").isFile)

    // WINDOW C — crashed AFTER the ledger append, BEFORE the sink
    // write (the LOSS window an append-first at-least-once gate has):
    // batch 2's fresh fingerprint is already in the ledger tagged with
    // THIS run's pair, the sink has nothing, no marker. The replay
    // must still EMIT (self-exclusion) and not duplicate the row.
    val deltaFp = fpOf("delta")
    Seq((deltaFp, s"$rid-2")).toDF("fp", "batch_tag")
      .withColumn("bucket", substring(col("fp"), 1, 2))
      .write.partitionBy("bucket").mode("append").parquet(ledger)
    val b2 = Seq((6L, "delta"), (7L, "beta")).toDF("id", "text")
    Streams.exactlyOnceBatch(b2, rid, 2L, ledger, sink, "id", "text")
    assert(sinkRows() == s0 + ((5L, "gamma", s"$rid-1")) + ((6L, "delta", s"$rid-2")),
      s"window C swallowed the batch: ${sinkRows()}")
    val l2 = ledgerFps()
    assert(l2.count(_ == deltaFp) == 1, s"window C duplicated the ledger row: $l2")
    assert(new java.io.File(s"$ledger/_batches/$rid-2").isFile)

    // WINDOW D — marker lost but batch fully landed (worst-case
    // operator surgery): the replay rewrites the same sink row-set and
    // appends nothing — converged, not duplicated
    assert(new java.io.File(s"$ledger/_batches/$rid-2").delete())
    Streams.exactlyOnceBatch(b2, rid, 2L, ledger, sink, "id", "text")
    assert(sinkRows() == s0 + ((5L, "gamma", s"$rid-1")) + ((6L, "delta", s"$rid-2")))
    assert(ledgerFps().sorted == l2.sorted, "window D changed the ledger")
    assert(new java.io.File(s"$ledger/_batches/$rid-2").isFile, "marker not restored")

    // the at-least-once-era interop: a ledger row WITHOUT batch_tag
    // (dedupGate's schema) still suppresses — a null tag is genuine
    // history, never self-excluded — and compaction of the mixed
    // ledger skips the _batches marker dir
    Seq(fpOf("omega")).toDF("fp")
      .withColumn("bucket", substring(col("fp"), 1, 2))
      .write.partitionBy("bucket").mode("append").parquet(ledger)
    val b3 = Seq((8L, "alpha"), (9L, "epsilon"), (12L, "omega")).toDF("id", "text")
    Streams.exactlyOnceBatch(b3, rid, 3L, ledger, sink, "id", "text")
    assert(sinkRows().exists(r => r._1 == 9L) && !sinkRows().exists(r => r._1 == 8L))
    assert(!sinkRows().exists(r => r._1 == 12L),
      "a legacy (untagged) ledger row failed to suppress")
    Streams.compactLedger(spark, ledger)
    assert(new java.io.File(s"$ledger/_batches/$rid-3").isFile,
      "compaction destroyed the commit markers")
    assert(ledgerFps().toSet.size == 6)
    // suppression still intact post-compaction
    val b4 = Seq((10L, "epsilon"), (11L, "zeta")).toDF("id", "text")
    Streams.exactlyOnceBatch(b4, rid, 4L, ledger, sink, "id", "text")
    assert(!sinkRows().exists(_._1 == 10L) && sinkRows().exists(_._1 == 11L))

    // CHECKPOINT RECREATION — the silent-loss scenario run-scoping
    // exists for: a NEW run restarts batch ids at 0. The old run's
    // $rid-0 marker must NOT short-circuit it (its new data must
    // emit), the old run's batch=$rid-0 sink partition must NOT be
    // clobbered, and fingerprints the LEDGER already holds must still
    // suppress across runs (cross-run dedup is the ledger's job).
    val preRecreate = sinkRows()
    Streams.exactlyOnceBatch(
      Seq((20L, "theta"), (21L, "alpha")).toDF("id", "text"),
      "run2", 0L, ledger, sink, "id", "text")
    val after2 = sinkRows()
    assert(after2.contains((20L, "theta", "run2-0")),
      "a recreated checkpoint's batch 0 was silently skipped by the old run's marker")
    assert(!after2.exists(_._1 == 21L), "cross-run ledger suppression broke")
    assert(preRecreate.subsetOf(after2), "the new run clobbered the old run's sink partitions")
    assert(new java.io.File(s"$ledger/_batches/run2-0").isFile)

    // MARKER RETENTION — one file per batch forever is small-files
    // decay; a tight window shows old markers of THIS run retired
    // while other runs' markers stay untouched
    Streams.exactlyOnceBatch(Seq((30L, "iota")).toDF("id", "text"),
      rid, 6L, ledger, sink, "id", "text", markerRetention = 1)
    assert(new java.io.File(s"$ledger/_batches/$rid-6").isFile)
    assert(!new java.io.File(s"$ledger/_batches/$rid-0").exists(),
      "retention kept a dead marker")
    assert(!new java.io.File(s"$ledger/_batches/$rid-4").exists())
    assert(new java.io.File(s"$ledger/_batches/run2-0").isFile,
      "retention touched another run's markers")
  }

  test("ledger crashed-swap park: every entry point refuses loudly, never reads empty") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_ledger_park").toString
    val ledger = s"$work/ledger"
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupGate(
      in.toDF().toDF("id", "text"), s"$work/ckpt", ledger, "id", "text",
      batch => emitted.synchronized { emitted ++= batch.collect().map(_.getLong(0)) })
    try {
      in.addData((1L, "history one"), (2L, "history two"))
      q.processAllAvailable()
    } finally q.stop()
    // a crashed compactLedger leaf swap parks at
    // <ledger>__compact_old/bucket=xx — a bucket's only copy; every
    // entry point must refuse it, or the stream reads the missing
    // bucket as "no prior fingerprints" and the next append recreates
    // the dir, blocking rename-back recovery
    val bucketDir = new java.io.File(ledger).listFiles()
      .find(_.getName.startsWith("bucket=")).get
    val parkedLeaf = new java.io.File(
      s"${ledger}__compact_old/${bucketDir.getName}")
    assert(parkedLeaf.getParentFile.mkdirs())
    assert(bucketDir.renameTo(parkedLeaf))
    val e1b = intercept[IllegalArgumentException](
      Streams.ledgerScan(spark, ledger, Seq("00")))
    assert(e1b.getMessage.contains("crashed mid-rename"), e1b.getMessage)
    intercept[IllegalArgumentException](Streams.compactLedger(spark, ledger))
    // rename-back recovery restores service with full history
    assert(parkedLeaf.renameTo(bucketDir))
    assert(parkedLeaf.getParentFile.delete())
    assert(Streams.ledgerScan(spark, ledger,
      (0 until 256).map(b => f"$b%02x")).get.count() == 2)
  }

  test("dedupGate: null-id rows pass through instead of silently vanishing") {
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_dedupgate_nid").toString
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Option[Long]]
    val in = MemoryStream[(Option[Long], String)]
    val q = Streams.dedupGate(
      in.toDF().toDF("id", "text"), s"$work/ckpt", s"$work/ledger",
      "id", "text",
      batch => emitted.synchronized {
        emitted ++= batch.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      })
    try {
      in.addData((Some(1L), "a"), (None, "unique content"))
      q.processAllAvailable()
    } finally q.stop()
    assert(emitted.sortBy(_.getOrElse(-1L)).toSeq === Seq(None, Some(1L)),
      s"emitted $emitted")
    // only the id-arbitratable row reached the ledger
    assert(spark.read.parquet(s"$work/ledger").count() === 1)
  }

  test("indexIngest: streamed micro-batch adds ≡ build-all on the persisted IVF index") {
    // clustered fixture (the ANN spec family's shape: structure makes
    // cell probing meaningful)
    val dim = 16
    def vec(cluster: Int, j: Int): Array[Float] = {
      val a = new Array[Float](dim)
      a(cluster * 2) = 1.0f
      a(cluster * 2 + 1) = 0.5f
      a((cluster + j) % dim) = a((cluster + j) % dim) + 0.05f * ((j % 5) + 1)
      a
    }
    val rows = for (c <- 0 until 8; j <- 0 until 25) yield (c.toLong * 100 + j, vec(c, j))
    val df = rows.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") % 100 >= 5)
    val qs = df.filter(col("vec_id") % 100 < 5)
    val even = base.filter(col("vec_id") % 2 === 0)
    val oddRows = rows.filter(r => r._1 % 100 >= 5 && r._1 % 2 == 1)
    val pStream = java.nio.file.Files.createTempDirectory("graft_ingest").toString + "/ix"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingest_ck").toString
    graft.operators.Ann.buildIvfIndex(even, col("vec_id"), col("embedding"), pStream, nlist = 8)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexIngest(
      in.toDF().toDF("vec_id", "embedding"), ckpt,
      batch => graft.operators.Ann.addToIvfIndex(
        spark, pStream, batch, col("vec_id"), col("embedding")))
    try {
      // two micro-batches: the daily-add cadence compressed
      val (h1, h2) = oddRows.splitAt(oddRows.size / 2)
      in.addData(h1: _*)
      q.processAllAvailable()
      in.addData(h2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // equivalence target: one-shot build over the SAME rows with the
    // quantizer fit on the same half (the batch add's proven contract)
    val pAll = java.nio.file.Files.createTempDirectory("graft_ingest_all").toString + "/ix"
    graft.operators.Ann.buildIvfIndex(
      base, col("vec_id"), col("embedding"), pAll, nlist = 8, fitOn = Some(even))
    def res(p: String) = graft.operators.Ann.queryIvfIndex(
      spark, p, qs, col("vec_id"), col("embedding"), k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val streamed = res(pStream)
    val all = res(pAll)
    assert(streamed == all,
      s"stream-ingested index diverged from build-all:\n  only stream: ${streamed -- all}\n  only all: ${all -- streamed}")
    assert(streamed.exists(_._2 % 2 == 1), "no streamed (odd-id) row reachable via the query path")
    // occupancy reflects every streamed batch
    val members = spark.read.parquet(s"$pStream/codebook")
      .agg(sum("members")).head.getLong(0)
    assert(members == base.count(), s"occupancy $members != ${base.count()} after streamed adds")
  }

  test("indexIngest dedupe: replaying a micro-batch leaves the index byte-identical") {
    val dim = 16
    def vec(cluster: Int, j: Int): Array[Float] = {
      val a = new Array[Float](dim)
      a(cluster * 2) = 1.0f
      a(cluster * 2 + 1) = 0.5f
      a((cluster + j) % dim) = a((cluster + j) % dim) + 0.05f * ((j % 5) + 1)
      a
    }
    val rows = for (c <- 0 until 8; j <- 0 until 25) yield (c.toLong * 100 + j, vec(c, j))
    val even = rows.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val odd = rows.filter(_._1 % 2 == 1)
    val p = java.nio.file.Files.createTempDirectory("graft_ingest_idem").toString + "/ix"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingest_idem_ck").toString
    graft.operators.Ann.buildIvfIndex(even, col("vec_id"), col("embedding"), p, nlist = 8)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexIngest(
      in.toDF().toDF("vec_id", "embedding"), ckpt,
      batch => graft.operators.Ann.addToIvfIndex(
        spark, p, batch, col("vec_id"), col("embedding")),
      dedupe = Some(("vec_id", () => graft.operators.Ann.indexIds(spark, p))))
    // full content + file-layout snapshot: the dedupe contract is
    // "byte-identical index", not just "same query answers"
    def snapshot(): (Set[(String, Long)], Long, Seq[org.apache.spark.sql.Row]) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val root = new java.io.File(p)
      val files = walk(root)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath.stripPrefix(root.getAbsolutePath), f.length()))
        .toSet
      val members = spark.read.parquet(s"$p/codebook").agg(sum("members")).head.getLong(0)
      val ids = spark.read.parquet(s"$p/base").select("b_id").orderBy("b_id").collect().toSeq
      (files, members, ids)
    }
    try {
      in.addData(odd: _*)
      q.processAllAvailable()
      val afterFirst = snapshot()
      // the at-least-once hazard, simulated: the SAME rows arrive again
      // (a replayed micro-batch after failure recovery). The anti-join
      // against the index's current ids must skip the add entirely.
      in.addData(odd: _*)
      q.processAllAvailable()
      assert(snapshot() == afterFirst,
        "replayed micro-batch mutated the index (dedupe failed to make ingest idempotent)")
      // a MIXED batch (replayed ids + genuinely new ids) adds ONLY the
      // new ids — partial replays must not block fresh data
      val extra = Seq((9000L, vec(3, 7)), (9001L, vec(5, 11)))
      in.addData(odd.take(5) ++ extra: _*)
      q.processAllAvailable()
      val (_, members2, ids2) = snapshot()
      assert(members2 == afterFirst._2 + 2, s"occupancy $members2 != ${afterFirst._2} + 2")
      assert(ids2.map(_.getLong(0)).toSet ==
        afterFirst._3.map(_.getLong(0)).toSet ++ Set(9000L, 9001L))
      // INTRA-batch duplicate: the same new id delivered twice within
      // one micro-batch must be added once — the anti-join alone can't
      // catch it (the index doesn't hold the id yet), the per-batch
      // dropDuplicates must
      in.addData(Seq((9002L, vec(1, 3)), (9002L, vec(1, 3))): _*)
      q.processAllAvailable()
      val (_, members3, ids3) = snapshot()
      assert(members3 == members2 + 1,
        s"intra-batch duplicate id added twice (occupancy $members3 != ${members2} + 1)")
      assert(ids3.map(_.getLong(0)).count(_ == 9002L) == 1)
    } finally q.stop()
  }

  test("streaming hot-key tracking: per-batch MG increments into the sketch lake") {
    // the q26 lake pattern under foreachBatch: each micro-batch writes
    // one mgSketch increment (<= k+1 narrow rows, batch-id as the
    // increment label), and the merged lake answers the GLOBAL
    // heavy-hitter question over everything streamed so far — bounded
    // state per batch, no corpus retained, no stateful operator.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val k = 8
    val lake = java.nio.file.Files.createTempDirectory("graft_stream_mg").toString + "/lake"
    val in = MemoryStream[String]
    val q = in.toDF().toDF("key").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        Sketches.mgSketch(batch, col("key"), k, s"batch_$batchId")
          .write.mode("append").parquet(lake)
        ()
      }
      .start()
    val b1 = Seq.fill(60)("hot1") ++ (1 to 40).map(i => s"a$i")
    val b2 = Seq.fill(45)("hot2") ++ Seq.fill(20)("hot1") ++ (1 to 30).map(i => s"b$i")
    val b3 = (1 to 50).map(i => s"c$i") // diffuse batch: raises the threshold only
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val union = b1 ++ b2 ++ b3
    val got = Sketches.heavyHittersFromSketches(
      union.toDF("key"), col("key"), spark.read.parquet(lake), k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val n = union.size
    val brute = union.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2.toDouble > n.toDouble / (k + 1))
      .toSeq.sortBy { case (key2, c) => (-c, key2) }
    assert(got === brute)
    assert(got.map(_._1).toSet === Set("hot1", "hot2"))
    // the lake stayed sketch-sized: <= (k+1) rows per micro-batch
    assert(spark.read.parquet(lake).count() <= 3L * (k + 1))
  }

  test("ewmaExact: batch parity on out-of-order input; idle drain evicts") {
    import graft.streaming.EwmaStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EwmaStream.Ev]
    val out = EwmaStream.ewmaExact(
      in.toDS(), alpha = 0.25, idleMs = 60000L, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("ewmaexact")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 delivers u1's SECOND event first; batch 2 brings the
      // first and third out of order — the cross-batch disorder that
      // breaks any fold-on-arrival EWMA (the recursion is
      // order-sensitive by construction)
      in.addData(
        EwmaStream.Ev(1L, ts("2024-01-01 00:00:10"), 2L, 4.0),
        EwmaStream.Ev(2L, ts("2024-01-01 00:00:10"), 1L, 7.0))
      out.processAllAvailable()
      in.addData(
        EwmaStream.Ev(1L, ts("2024-01-01 00:00:05"), 1L, 2.0),
        EwmaStream.Ev(1L, ts("2024-01-01 00:00:20"), 3L, 8.0))
      out.processAllAvailable()
      // exactness trades latency: everything is inside the horizon
      assert(spark.table("ewmaexact").count() == 0,
        "exact mode emitted before the watermark finalized the events")
      // two far-future ticks: advance the watermark, then fire timeouts
      in.addData(EwmaStream.Ev(9L, ts("2024-01-01 05:00:00"), 1L, 0.0))
      out.processAllAvailable()
      in.addData(EwmaStream.Ev(9L, ts("2024-01-01 12:00:00"), 2L, 0.0))
      out.processAllAvailable()

      val fin = spark.table("ewmaexact")
        .filter($"finalRow" && $"userId".isin(1L, 2L))
        .as[EwmaStream.EwmaOut]
        .collect().map(r => r.userId -> r).toMap
      assert(fin.size == 2, s"expected one final row per user, got $fin")

      // the batch operator over the SAME events (ts in epoch millis)
      val evDf = Seq(
        (1L, ts("2024-01-01 00:00:05").getTime, 1L, 2.0),
        (1L, ts("2024-01-01 00:00:10").getTime, 2L, 4.0),
        (1L, ts("2024-01-01 00:00:20").getTime, 3L, 8.0),
        (2L, ts("2024-01-01 00:00:10").getTime, 1L, 7.0))
        .toDF("user_id", "ts_ms", "tie", "v")
      val batch = graft.operators.Temporal.ewma(
        evDf, col("user_id"), col("ts_ms"), col("tie"), col("v"), 0.25)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      for ((u, (n, last, e)) <- batch) {
        val g = fin(u)
        assert(g.nEvents == n, s"u$u nEvents")
        assert(g.lastValue == last, s"u$u lastValue")
        assert(g.ewma == e, s"u$u ewma: got ${g.ewma}, batch $e")
      }
      // the healed ordering: 2.0 -> 2.5 -> 3.875, despite 4.0 arriving first
      assert(fin(1L).ewma == 3.875)
    } finally out.stop()
  }

  test("sketchIngest: streamed HLL increments → compact → estimate ≡ batch one-shot; re-runs dedupe; parked refusal") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val base = java.nio.file.Files.createTempDirectory("graft_sk_ingest").toString
    val lake = base + "/lake"
    // 3 hours of events, duplicated users, shuffled across 3 micro-batches
    val all = (0 until 300).map { i =>
      (ts(f"2024-01-01 0${i % 3}%d:${(i / 3) % 60}%02d:23"), (i % 55).toLong)
    }
    val (b1, rest) = new scala.util.Random(5).shuffle(all).splitAt(100)
    val (b2, b3) = rest.splitAt(100)
    def run(ck: String): Unit = {
      val in = MemoryStream[(Timestamp, Long)]
      val q = Streams.sketchIngest(
        Streams.windowDistinctSketch(
          in.toDF().toDF("ts", "user_id"), "ts", "user_id",
          window = "1 hour", watermark = "4 hours")
          .select(col("window_start").cast("string").as("key"), col("regs")),
        ck, lake, keyCols = Seq("key"))
      try {
        Seq(b1, b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
        in.addData((ts("2024-01-02 00:00:00"), 9999L)) // close all 3 windows
        q.processAllAvailable()
      } finally q.stop()
    }
    run(base + "/ck1")
    assert(spark.read.parquet(lake).count() === 3L, "one increment per closed window")
    // compaction heals the per-micro-batch file decay behind the swap contract
    Sketches.compactHllLake(spark, lake, p = 6)
    def lakeRegs() = spark.read.parquet(lake)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val batch = Sketches.hllSketchByKey(
      all.toDF("ts", "user_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:00:00"),
      col("user_id"), p = 6)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(lakeRegs() === batch, "stream → lake → compact must equal the batch one-shot registers")
    // a full re-run over the same source (fresh checkpoint) re-emits the
    // same window keys; the key anti-join dedupes every append to empty
    run(base + "/ck2")
    assert(spark.read.parquet(lake).count() === 3L)
    assert(lakeRegs() === batch)
    // appends refuse a parked crashed-compaction sibling loudly
    val parked = new java.io.File(lake + "__compact_old")
    parked.mkdirs()
    java.nio.file.Files.writeString(parked.toPath.resolve("part-0.parquet"), "x")
    val in2 = MemoryStream[(Timestamp, Long)]
    val q2 = Streams.sketchIngest(
      Streams.windowDistinctSketch(
        in2.toDF().toDF("ts", "user_id"), "ts", "user_id")
        .select(col("window_start").cast("string").as("key"), col("regs")),
      base + "/ck3", lake, keyCols = Seq("key"))
    try {
      in2.addData((ts("2024-01-01 00:00:01"), 1L))
      val e = intercept[Exception](q2.processAllAvailable())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("parked")), s"got: $e")
    } finally q2.stop()
  }

  test("dedup gates refuse scratch-name collisions; near-dup ledger k-drift fails by name") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.functions.Hashing
    // refuse-don't-clobber: a user column named __fp / batch is DATA —
    // withColumn would silently replace it and feed it to the sink
    val withFp = Seq((ts("2024-01-01 00:00:01"), 1L, "t", "x"))
      .toDF("ts", "id", "text", "__fp")
    intercept[IllegalArgumentException](
      Streams.dedupByContent(withFp, "ts", "text"))
    val base = java.nio.file.Files.createTempDirectory("graft_guards").toString
    intercept[IllegalArgumentException](
      Streams.dedupGate(withFp, base + "/ck", base + "/lg", "id", "text", _ => ()))
    val withBatch = Seq((1L, "t", "b0")).toDF("id", "text", "batch")
    intercept[IllegalArgumentException](
      Streams.exactlyOnceBatch(withBatch, "r", 0L,
        base + "/lg2", base + "/sink", "id", "text"))
    // k-drift: a ledger whose signatures were written at a different k
    // must refuse by name, not silently halve every agreement estimate
    val dir = base + "/nd"
    val doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val batch = Seq((10L, doc)).toDF("id", "text")
    val sig = Dedup.minhashSignatures(batch, col("id"), col("text"), 3, 8)
      .select("sig").head.getSeq[Long](0)
    val band = Dedup.minhashSignatures(batch, col("id"), col("text"), 3, 8)
      .select(explode(Hashing.minhashBands(col("sig"), 8, 2)).as("band"))
      .select("band").head.getString(0)
    def b2(s: String) =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s).substring(0, 2)
    Seq((band, "99", b2(band))).toDF("band", "oid", "bucket")
      .write.partitionBy("bucket").parquet(dir + "/postings")
    Seq(("99", sig.take(4), b2("99"))).toDF("oid", "sig", "bucket")
      .write.partitionBy("bucket").parquet(dir + "/sigs")
    val e = intercept[Exception] {
      Streams.neardupBatch(batch, dir, "id", "text", _ => (),
        n = 3, k = 8, rowsPerBand = 2, minJaccard = 0.1)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("different k")), s"got: $e")
  }

  test("sketchIngest: quantile-sample lake — ingest + compact + estimate ≡ batch; re-run cannot double pairs or n") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    // the pair-sample lake is the NON-idempotent one: a duplicated
    // increment doubles n and lets copies of a pair occupy two
    // bottom-k slots — so the key anti-join is load-bearing here,
    // not just hygienic as with HLL registers
    val base = java.nio.file.Files.createTempDirectory("graft_qs_ingest").toString
    val lake = base + "/lake"
    val all = (0 until 240).map { i =>
      (ts(f"2024-01-01 0${i % 2}%d:${(i / 2) % 60}%02d:41"), i.toLong,
        ((i * 53) % 400).toLong)
    }
    val (b1, rest) = new scala.util.Random(13).shuffle(all).splitAt(80)
    val (b2, b3) = rest.splitAt(80)
    def run(ck: String): Unit = {
      val in = MemoryStream[(Timestamp, Long, Long)]
      val q = Streams.sketchIngest(
        Streams.windowQuantileSample(
          in.toDF().toDF("ts", "event_id", "v"), "ts", "event_id", "v",
          window = "1 hour", watermark = "3 hours", k = 32)
          .select(col("window_start").cast("string").as("key"),
            col("n"), col("pairs")),
        ck, lake, keyCols = Seq("key"))
      try {
        Seq(b1, b2, b3).foreach { b => in.addData(b); q.processAllAvailable() }
        in.addData((ts("2024-01-02 00:00:00"), 9999L, 0L)) // close both windows
        q.processAllAvailable()
      } finally q.stop()
    }
    run(base + "/ck1")
    Sketches.compactSampleLake(spark, lake, k = 32)
    def estimates() = Sketches.quantilesFromSample(
      Sketches.mergePairSamples(spark.read.parquet(lake), k = 32),
      qs = Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    val streamed = estimates()
    val batch = Sketches.sampleQuantilesByKey(
      all.toDF("ts", "event_id", "v"),
      date_format(col("ts"), "yyyy-MM-dd HH:00:00"),
      col("event_id"), col("v"), k = 32, qs = Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(streamed === batch, "stream → lake → compact must equal the batch one-shot")
    // a full re-run over the same source MUST dedupe to empty: a
    // doubled increment would inflate n and corrupt the sample
    run(base + "/ck2")
    assert(estimates() === batch)
  }
}
