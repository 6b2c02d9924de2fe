package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.CoreQueries

/** Streaming ≡ batch equivalence: the incremental plans must produce
  * exactly what their batch counterparts produce over the same files.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  /** The events file as a fresh stream source dir. */
  private def eventsDir: String = EventStreams.streamDir(
    java.nio.file.Files.createTempDirectory("events-stream-"),
    s"$sf/events.parquet")

  /** A file stream over `frames` as ordered arrival waves: each frame
    * lands as one parquet file whose mtime pins its trigger order (the
    * file source batches by modification time — write timing alone is
    * a race). Call the returned factory once per run.
    */
  private def waveStream(base: java.nio.file.Path,
      frames: Seq[org.apache.spark.sql.DataFrame])
      : () => org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val waves = base.resolve("waves")
    java.nio.file.Files.createDirectories(waves)
    frames.zipWithIndex.foreach { case (df, i) =>
      val tmp = base.resolve(s"w$i")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = waves.resolve(s"wave-$i.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (frames.size - i) * 60000L))
    }
    val schema = frames.head.schema
    () => s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(waves.toString)
  }

  /** The documents fixture in two waves: even doc ids, then odd. */
  private def docWaves(base: java.nio.file.Path,
      docs: org.apache.spark.sql.DataFrame)
      : () => org.apache.spark.sql.DataFrame =
    waveStream(base, Seq(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1)))

  test("streamed hourly counts equal the batch aggregation") {
    val events = EventStreams.readEvents(s, eventsDir)
    val q = EventStreams.hourlyCounts(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      val streamed = s.table("hourly_out")
        .orderBy("hour_bucket", "event_type").collect().toSeq
      val batch = CoreQueries.eventsHourly(s, sf).collect().toSeq
      assert(streamed.map(_.toString) == batch.map(_.toString))
    } finally q.stop()
  }

  test("sessionization state carries across micro-batches") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(uid: Long, t: String, v: Double) =
      EventStreams.Event(uid, java.sql.Timestamp.valueOf(t), v)
    implicit val sq = s.sqlContext
    val src = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(src.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("xbatch_sessions").start()
    try {
      // batch 1: open a session for user 1
      src.addData(ev(1, "2024-01-01 10:00:00", 1.0),
        ev(1, "2024-01-01 10:05:00", 2.0))
      q.processAllAvailable()
      assert(s.table("xbatch_sessions").count() == 0, "session still open")
      // batch 2: event within the gap EXTENDS the session from batch 1
      src.addData(ev(1, "2024-01-01 10:12:00", 3.0))
      q.processAllAvailable()
      assert(s.table("xbatch_sessions").count() == 0, "still open")
      // batch 3: event past the gap closes the combined session
      src.addData(ev(1, "2024-01-01 11:00:00", 4.0))
      q.processAllAvailable()
      val closed = s.table("xbatch_sessions").collect()
      assert(closed.length == 1)
      val r = closed.head
      assert(r.getAs[java.sql.Timestamp]("session_start").toString
        .startsWith("2024-01-01 10:00:00"))
      assert(r.getAs[java.sql.Timestamp]("session_end").toString
        .startsWith("2024-01-01 10:12:00"))
      assert(r.getAs[Int]("n_events") == 3, "batch-1 events + batch-2 event")
      assert(r.getAs[Double]("sum_value") == 6.0)
    } finally q.stop()
  }

  test("streaming funnel folds out-of-order arrivals in event-time order") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(uid: Long, t: String, tp: String) =
      EventStreams.FEvent(uid, java.sql.Timestamp.valueOf(t), tp)
    implicit val sq = s.sqlContext
    val src = MemoryStream[EventStreams.FEvent]
    val q = EventStreams.funnelStream(src.toDS(),
        steps = Seq("view", "click", "purchase"),
        windowMs = 7L * 86400 * 1000,
        watermarkDelay = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("xbatch_funnel").start()
    try {
      // batch 1: click + purchase arrive BEFORE the view (late/reordered
      // delivery) — a process-on-arrival automaton would reject both
      src.addData(ev(1, "2024-01-01 10:05:00", "click"),
        ev(1, "2024-01-01 10:08:00", "purchase"),
        ev(2, "2024-01-01 10:05:00", "click")) // never views: non-member
      q.processAllAvailable()
      // batch 2: the view, earlier in event time, still inside the
      // watermark delay — must slot BEFORE the buffered click
      src.addData(ev(1, "2024-01-01 10:01:00", "view"))
      q.processAllAvailable()
      assert(s.table("xbatch_funnel").count() == 0, "nothing sealed yet")
      // noise pushing the watermark past every t1 + window (Jan 8); the
      // deadline timeout then folds each buffer in order and emits
      src.addData(ev(-9, "2024-01-10 12:00:00", "noise"))
      q.processAllAvailable()
      src.addData(ev(-9, "2024-01-20 12:00:00", "noise"))
      q.processAllAvailable()
      val hits = s.table("xbatch_funnel").filter(col("user_id") > 0)
        .orderBy("user_id", "step").collect()
        .map(r => (r.getLong(0), r.getInt(1),
          r.getTimestamp(2).toString.take(19)))
      assert(hits.toSeq == Seq(
        (1L, 1, "2024-01-01 10:01:00"),
        (1L, 2, "2024-01-01 10:05:00"),
        (1L, 3, "2024-01-01 10:08:00")),
        s"got ${hits.toSeq} — user 2 (no view) must emit nothing")
    } finally q.stop()
  }

  test("windowed batch funnel equals the stream's first epoch") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(uid: Long, t: String, tp: String) =
      EventStreams.FEvent(uid, java.sql.Timestamp.valueOf(t), tp)
    val W = 3600 * 1000L // 1-hour conversion window
    val data = Seq(
      // user 1: completes within the hour
      ev(1, "2024-01-01 10:00:00", "view"),
      ev(1, "2024-01-01 10:20:00", "click"),
      ev(1, "2024-01-01 10:40:00", "purchase"),
      // user 2: the only click falls outside epoch 1's window; a SECOND
      // stream epoch then forms — first-epoch parity must ignore it
      ev(2, "2024-01-01 09:00:00", "view"),
      ev(2, "2024-01-01 11:30:00", "view"),
      ev(2, "2024-01-01 11:40:00", "click"),
      // user 3: click lands at exactly t1 + window — inclusive both sides
      ev(3, "2024-01-01 09:00:00", "view"),
      ev(3, "2024-01-01 10:00:00", "click"))
    implicit val sq = s.sqlContext
    val src = MemoryStream[EventStreams.FEvent]
    val q = EventStreams.funnelStream(src.toDS(),
        steps = Seq("view", "click", "purchase"), windowMs = W,
        watermarkDelay = "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("wfunnel_parity").start()
    try {
      src.addData(data: _*)
      q.processAllAvailable()
      src.addData(ev(-9, "2024-02-01 00:00:00", "noise"))
      q.processAllAvailable()
      src.addData(ev(-9, "2024-03-01 00:00:00", "noise"))
      q.processAllAvailable()
      val hits = s.table("wfunnel_parity").filter(col("user_id") > 0)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2)))
      val t1 = hits.filter(_._2 == 1).groupBy(_._1)
        .map { case (u, hs) => u -> hs.map(_._3.getTime).min }
      val firstEpoch = hits.filter { case (u, _, t) =>
        t.getTime <= t1(u) + W }.toSet
      val batch = graft.operators.Funnel.funnel(
          data.filter(_.user_id > 0).toDF(),
          steps = Seq("view", "click", "purchase"),
          tsCol = col("event_time"), windowMs = Some(W))
        .collect().flatMap { r =>
          (1 to 3).flatMap { j =>
            Option(r.getTimestamp(j)).map(t => (r.getLong(0), j, t))
          }
        }.toSet
      assert(batch == firstEpoch,
        s"batch ${batch.mkString(",")} vs stream first epoch " +
          firstEpoch.mkString(","))
    } finally q.stop()
  }

  test("funnel user quiet beyond the watermark delay still completes") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(uid: Long, t: String, tp: String) =
      EventStreams.FEvent(uid, java.sql.Timestamp.valueOf(t), tp)
    implicit val sq = s.sqlContext
    val src = MemoryStream[EventStreams.FEvent]
    val q = EventStreams.funnelStream(src.toDS(),
        steps = Seq("view", "click", "purchase"),
        windowMs = 7L * 86400 * 1000,
        watermarkDelay = "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("quiet_funnel").start()
    try {
      // view arrives; OTHER traffic pushes the watermark far past it —
      // user 1's buffer drains and they go quiet for >> the delay
      src.addData(ev(1, "2024-01-01 10:00:00", "view"),
        ev(-9, "2024-01-01 10:30:00", "noise"))
      q.processAllAvailable()
      src.addData(ev(-9, "2024-01-01 11:00:00", "noise"))
      q.processAllAvailable()
      // a buffer-drain timeout would have finalized user 1 at depth 1
      // here; the deadline (t1 + 7 days) must keep the funnel open
      assert(s.table("quiet_funnel").filter(col("user_id") > 0).count()
        == 0, "funnel finalized prematurely")
      // the on-time continuation completes the funnel...
      src.addData(ev(1, "2024-01-01 12:00:00", "click"),
        ev(1, "2024-01-01 12:30:00", "purchase"))
      q.processAllAvailable()
      // ...and the deadline flush emits all three steps
      src.addData(ev(-9, "2024-01-09 12:00:00", "noise"))
      q.processAllAvailable()
      src.addData(ev(-9, "2024-01-20 12:00:00", "noise"))
      q.processAllAvailable()
      val hits = s.table("quiet_funnel").filter(col("user_id") > 0)
        .orderBy("step").collect().map(r => (r.getInt(1),
          r.getTimestamp(2).toString.take(19)))
      assert(hits.toSeq == Seq(
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 12:00:00"),
        (3, "2024-01-01 12:30:00")), hits.toSeq.toString)
    } finally q.stop()
  }

  test("funnel re-entry: a second epoch's events arriving EARLY still " +
      "form a second funnel") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(uid: Long, t: String, tp: String) =
      EventStreams.FEvent(uid, java.sql.Timestamp.valueOf(t), tp)
    implicit val sq = s.sqlContext
    val src = MemoryStream[EventStreams.FEvent]
    val q = EventStreams.funnelStream(src.toDS(),
        steps = Seq("view", "click", "purchase"),
        windowMs = 3600 * 1000L, // 1-hour conversion window
        watermarkDelay = "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("epoch_funnel").start()
    try {
      // BOTH epochs' events in one batch: the second funnel's events
      // sit in the buffer while epoch 1 is still open — they must be
      // retained through its close, not discarded with it
      src.addData(
        ev(1, "2024-01-01 10:00:00", "view"),
        ev(1, "2024-01-01 10:10:00", "click"),
        ev(1, "2024-01-01 10:20:00", "purchase"),
        ev(1, "2024-01-01 12:00:00", "view"), // past 11:00 deadline
        ev(1, "2024-01-01 12:05:00", "click"),
        ev(1, "2024-01-01 12:10:00", "purchase"))
      q.processAllAvailable()
      src.addData(ev(-9, "2024-01-01 14:00:00", "noise"))
      q.processAllAvailable()
      src.addData(ev(-9, "2024-01-01 16:00:00", "noise"))
      q.processAllAvailable()
      val hits = s.table("epoch_funnel").filter(col("user_id") > 0)
        .orderBy("step_time").collect()
        .map(r => (r.getInt(1), r.getTimestamp(2).toString.take(19)))
      assert(hits.toSeq == Seq(
        (1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:10:00"),
        (3, "2024-01-01 10:20:00"),
        (1, "2024-01-01 12:00:00"), (2, "2024-01-01 12:05:00"),
        (3, "2024-01-01 12:10:00")), hits.toSeq.toString)
    } finally q.stop()
  }

  test("stateful sessionization matches the batch window oracle") {
    import s.implicits._
    val rawEvents = s.read.parquet(s"$sf/events.parquet")
    val batchEvents = rawEvents
      .withColumn("event_time",
        graft.functions.TrinoFunctions.eventTime(rawEvents))
      .select(col("user_id"), col("event_time"), col("value"))
    val expected = EventStreams.sessionizeBatch(batchEvents, gapMs = 600000L)
      .orderBy("user_id", "session_start")

    val stream = EventStreams.readEvents(s, eventsDir)
      .select(col("user_id"), col("event_time"), col("value"))
      .as[EventStreams.Event]
    val q = EventStreams.sessionize(stream, gapMs = 600000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      val got = s.table("sessions_out")
      // streaming emits only *closed* sessions (the last session per user
      // stays open in state) → got ⊆ expected, and any session it does
      // emit must match the batch oracle exactly.
      val expKeys = expected.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getInt(3), r.getDouble(4))).toSet
      val gotRows = got.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getInt(3), r.getDouble(4))).toSet
      assert(gotRows.nonEmpty, "no sessions closed — gap too large?")
      assert(gotRows.subsetOf(expKeys),
        s"streaming emitted sessions the batch oracle doesn't have: " +
          s"${(gotRows -- expKeys).take(3)}")
      // every user's non-final batch sessions must have been emitted
      val openPerUser = expected.collect().groupBy(_.getLong(0))
        .view.mapValues(_.maxBy(_.getTimestamp(1).getTime)).toMap
      val expectedClosed = expKeys.filterNot { k =>
        openPerUser.get(k._1).exists(r => r.getTimestamp(1) == k._2)
      }
      assert(expectedClosed.subsetOf(gotRows),
        s"batch-closed sessions missing from stream output: " +
          s"${(expectedClosed -- gotRows).take(3)}")
    } finally q.stop()
  }

  test("interval join matches a click to a view from an earlier batch") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    def df(m: MemoryStream[(Long, java.sql.Timestamp, Long)]) =
      m.toDF().toDF("user_id", "event_time", "event_id")
    val q = EventStreams.intervalJoin(df(views), df(clicks))
      .writeStream.outputMode("append")
      .format("memory").queryName("ijoin_xbatch").start()
    try {
      // batch 1: only the view arrives — no output yet
      views.addData((1L, ts("2024-01-01 10:00:00"), 100L))
      q.processAllAvailable()
      assert(s.table("ijoin_xbatch").count() == 0)
      // batch 2: a click 2h later (inside the 4h window) joins the
      // buffered view; one outside the window does not
      clicks.addData((1L, ts("2024-01-01 12:00:00"), 200L),
        (1L, ts("2024-01-01 15:00:01"), 201L))
      q.processAllAvailable()
      val got = s.table("ijoin_xbatch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 100L, 200L)), s"got $got")
    } finally q.stop()
  }

  test("lake ingest commits each micro-batch once and skips replays") {
    val base = java.nio.file.Files.createTempDirectory("ingest-test-")
    // two files, one per micro-batch
    val src = s"$sf/events.parquet"
    val streamDir = EventStreams.streamDir(
      java.nio.file.Files.createDirectory(base.resolve("src")), src, copies = 2)
    def stream = s.readStream
      .schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val table = graft.lake.LakeTable.create(s,
      base.resolve("table").toString, Left(stream.schema))
    val n = StreamIngest.ingestAvailable(stream, table, "t",
      base.resolve("ckpt").toString)
    assert(n == 2, s"expected 2 micro-batches, got $n")
    val perFile = s.read.parquet(src.toString).count()
    assert(table.read().count() == 2 * perFile)
    assert(StreamIngest.committedBatches(table, "t") == Set(0L, 1L))
    // a fresh checkpoint replays batch ids 0 and 1 from scratch — the
    // batch stamps must reject both, leaving the table unchanged
    val n2 = StreamIngest.ingestAvailable(stream, table, "t",
      base.resolve("ckpt2").toString)
    assert(n2 == 0, s"replayed batches must be skipped, committed $n2")
    assert(table.read().count() == 2 * perFile)
    // a different query name is a different stream — even one that has
    // the first as a ':'-prefix (stamp parsing anchors on the LAST ':')
    val n3 = StreamIngest.ingestAvailable(stream, table, "t:v2",
      base.resolve("ckpt3").toString)
    assert(n3 == 2 && table.read().count() == 4 * perFile)
    assert(StreamIngest.committedBatches(table, "t") == Set(0L, 1L))
    assert(StreamIngest.committedBatches(table, "t:v2") == Set(0L, 1L))
  }

  test("ledger parses each stamp once: by query, batch-ordered, " +
      "unparseable and unstamped snapshots skipped") {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("ledger-test-")
    val row = Seq(1L).toDF("x")
    val table = graft.lake.LakeTable.create(s,
      base.resolve("table").toString, Left(row.schema))
    for (st <- Seq("a:1", "a:0", "a:v2:0", "a:x"))
      table.append(row,
        summary = Map(StreamIngest.BatchStamp -> st, "k" -> st))
    table.append(row)
    val ledger = StreamIngest.ledger(table)
    assert(ledger.filter(_.query == "a").map(e => (e.batch, e.summary("k")))
      == Seq((0L, "a:0"), (1L, "a:1")))
    assert(ledger.filter(_.query == "a:v2").map(_.batch) == Seq(0L))
    assert(ledger.size == 3, s"only the three parseable stamps: $ledger")
  }

  test("streaming upsert: updates stale rows, idempotent under replay") {
    val base = java.nio.file.Files.createTempDirectory("upsert-test-")
    val src = s"$sf/events.parquet"
    val batch = s.read.parquet(src)
      .select(col("event_id"), col("user_id"), col("value"))
    // target seeded entirely stale; each event delivered twice, split
    // over two micro-batches
    val stale = batch.withColumn("value", lit(-1.0))
    val table = graft.lake.LakeTable.create(s,
      base.resolve("table").toString, Right(stale))
    val streamDir = EventStreams.streamDir(
      java.nio.file.Files.createDirectory(base.resolve("src")), src, copies = 2)
    def stream = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val n = StreamIngest.upsertAvailable(stream, table, Seq("event_id"),
      "u", base.resolve("ckpt").toString)
    assert(n == 2, s"expected 2 merge commits, got $n")
    val want = batch.orderBy("event_id").collect().toSeq
    assert(table.read().orderBy("event_id")
      .select("event_id", "user_id", "value").collect().toSeq == want,
      "every stale row updated, nothing duplicated")
    // fresh checkpoint replays both batch ids — stamps must reject them
    val n2 = StreamIngest.upsertAvailable(stream, table, Seq("event_id"),
      "u", base.resolve("ckpt2").toString)
    assert(n2 == 0, s"replayed merges must be skipped, committed $n2")
    assert(table.read().count() == want.size)
  }

  test("interval-join state stays bounded under a hot user over many " +
      "watermark intervals") {
    // The 100 TB claim, checked not argued: both-sides watermarks plus
    // the explicit time-range join bound must keep join state at
    // ~(delay + window) × rate even when ONE user owns 50% of all
    // events and the stream spans dozens of watermark advances. An
    // unbounded equi-join would accumulate every buffered row.
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ijoin-bound-")
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val hours = 24
    for (h <- 0 until hours) {
      val rows = (0 until 60).flatMap { m =>
        val t = base + (h * 3600L + m * 60L) * 1000L
        Seq(
          // hot user 1: a view + click every minute = 50% of volume
          (1L, new java.sql.Timestamp(t), s"v-1-$h-$m", "view"),
          (1L, new java.sql.Timestamp(t + 30000L), s"c-1-$h-$m", "click"),
          ((100 + m).toLong, new java.sql.Timestamp(t), s"v-u$m-$h", "view"),
          ((100 + m).toLong, new java.sql.Timestamp(t + 30000L),
            s"c-u$m-$h", "click"))
      }
      // one file per hour, moved into place with an ordered name so
      // maxFilesPerTrigger=1 yields one micro-batch per hour of data
      val tmp = java.nio.file.Files.createTempDirectory("ijoin-chunk-")
      rows.toDF("user_id", "event_time", "event_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, dir.resolve(f"chunk-$h%03d.parquet"))
    }
    val schema = s.read.parquet(dir.toString).schema
    val events = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val joined = EventStreams.intervalJoin(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "click"),
      window = "10 minutes", watermarkDelay = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ijoin_bound").start()
    val (stateMax, batches) =
      try {
        q.processAllAvailable()
        (q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).max,
          q.recentProgress.length)
      } finally q.stop()
    assert(batches > 10, s"need many watermark advances, got $batches batches")
    val totalRows = hours * 60L * 4L
    assert(stateMax < totalRows / 4,
      s"join state reached $stateMax of $totalRows streamed rows — " +
        "eviction is not keeping up with the watermark")
    // and the join still produced the hot user's matches
    assert(s.table("ijoin_bound").filter(col("user_id") === 1L).count() > 0)
  }

  test("budget delta encoding round-trips strata containing separators") {
    // a stratum value carrying '|' or ':' must not corrupt the
    // 'k:v|k:v' summary fold (it used to split mid-key)
    val strata = Seq("en", "zh:trad", "web|crawl", "100%", "%7C", "a:b|c")
    strata.foreach { k =>
      val enc = StreamIngest.encodeKey(k)
      assert(!enc.contains('|') && !enc.contains(':'), s"'$k' -> '$enc'")
      assert(StreamIngest.decodeKey(enc) == k)
    }
    val delta = strata.zipWithIndex
      .map { case (k, i) => s"${StreamIngest.encodeKey(k)}:${i + 1}" }
      .sorted.mkString("|")
    assert(StreamIngest.parseDelta(delta) ==
      strata.zipWithIndex.map { case (k, i) => k -> (i + 1).toLong }.toMap)
    // an EMPTY stratum value is dirty-but-real data: its fragment is
    // ':123' and must round-trip (the malformed-fragment guard once
    // rejected its own encoder's output, permanently failing the
    // stream on the next batch's ledger fold)
    assert(StreamIngest.encodeKey("") == "")
    assert(StreamIngest.parseDelta(":7|en:3") == Map("" -> 7L, "en" -> 3L))
    // no separator at all is still malformed
    intercept[IllegalArgumentException] {
      StreamIngest.parseDelta("en3")
    }
  }

  test("semantic dedup ingest: cross-batch suppression, index round-trip, " +
      "and a half-committed replay reproduces the original kept set") {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("semdedup-test-")
    // 24 well-separated 24-dim originals (own hot axis each — pairwise
    // cosine ≈ 0.34, far under the 0.98 bar); twins are colinear scalar
    // multiples (cosine exactly 1)
    def vec(i: Long): Seq[Double] =
      Seq.tabulate(24)(j => if (j == i.toInt) 10.0 else 1.0)
    val all = (0L until 24L).map(i => (i, vec(i)))
    // parquet round-trip: the index schema must carry the same
    // element-nullability as the parquet-backed stream it will ingest
    all.toDF("vec_id", "embedding").write
      .parquet(base.resolve("emb").toString)
    val emb = s.read.parquet(base.resolve("emb").toString)
    val idxLoc = base.resolve("index").toString
    graft.pipeline.Similarity.persistIvf(
      graft.pipeline.Similarity.buildIvfDeterministic(
        emb.filter(col("vec_id") % 2 === 0), nlist = 4, iters = 1), idxLoc)
    // wave 1: odd originals + twins of evens (suppressed by the seed);
    // wave 2: twins of odds (suppressed by wave 1's admissions)
    def twin(rows: Seq[(Long, Seq[Double])], off: Long) =
      rows.map { case (i, v) => (i + off, v.map(_ * 1.0001)) }
    val odd = all.filter(_._1 % 2 == 1)
    val even = all.filter(_._1 % 2 == 0)
    val w1 = (odd ++ twin(even, 1000L)).toDF("vec_id", "embedding")
    val w2 = twin(odd, 1000L).toDF("vec_id", "embedding")
    val stream = waveStream(base, Seq(w1, w2))
    val idxT = graft.pipeline.Similarity.loadIvf(s, idxLoc).table.get
    val seedRows = idxT.read().count()
    val kept1 = graft.lake.LakeTable.create(s,
      base.resolve("kept1").toString, Left(idxT.read().schema))
    val n = StreamIngest.semanticDedupIngestAvailable(stream(), idxLoc,
      kept1, cosineThreshold = 0.98, "sd", base.resolve("c1").toString)
    assert(n == 2, s"expected 2 micro-batches, got $n")
    val keptIds = kept1.read().select("vec_id").as[Long].collect().sorted
    // every odd original admitted, every twin suppressed: twins of evens
    // by the seeded state, twins of odds by wave 1's admissions (the
    // cross-batch rule — they are NOT in the seed index)
    assert(keptIds.toSeq == odd.map(_._1).sorted,
      s"kept ${keptIds.toSeq}")
    // admitted rows joined the index state
    val idxRows = idxT.read().count()
    assert(idxRows == seedRows + keptIds.length,
      s"index grew $seedRows -> $idxRows for ${keptIds.length} admissions")
    // REPLAY with the index already containing the admissions (the
    // index-committed/kept-uncommitted crash): a fresh checkpoint
    // replays batch ids 0 and 1 — self-exclusion must reproduce the
    // SAME kept set into a fresh kept table, and the stamped index
    // appends must be skipped (no double-indexed vectors)
    val kept2 = graft.lake.LakeTable.create(s,
      base.resolve("kept2").toString, Left(idxT.read().schema))
    val n2 = StreamIngest.semanticDedupIngestAvailable(stream(), idxLoc,
      kept2, cosineThreshold = 0.98, "sd", base.resolve("c2").toString)
    assert(n2 == 2)
    assert(kept2.read().select("vec_id").as[Long].collect().sorted.toSeq
      == keptIds.toSeq, "replay must reproduce the original kept set")
    assert(idxT.read().count() == idxRows,
      "stamped index appends must not double-index on replay")
  }

  test("quality-gate door equals the batch gate and skips replays") {
    val base = java.nio.file.Files.createTempDirectory("qgate-test-")
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val stream = docWaves(base, docs)
    val kept = graft.lake.LakeTable.create(s,
      base.resolve("kept").toString, Left(docs.schema))
    val n = StreamIngest.qualityGateIngestAvailable(stream(), kept, "qg",
      base.resolve("ckpt").toString)
    assert(n == 2, s"expected 2 micro-batches, got $n")
    val streamed = kept.read().select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = graft.pipeline.TextAnalysis.qualityGate(docs)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed == batch,
      "door verdicts are per-doc rules — must equal the batch gate")
    // fresh checkpoint replays both batch ids: stamps must reject them
    val n2 = StreamIngest.qualityGateIngestAvailable(stream(), kept, "qg",
      base.resolve("ckpt2").toString)
    assert(n2 == 0 && kept.read().count() == batch.size,
      "replayed batches must not double-land")
  }

  test("classifier door: per-batch scoring against the static model " +
      "equals the batch classifier, idempotent under replay") {
    val base = java.nio.file.Files.createTempDirectory("cgate-test-")
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val stream = docWaves(base, docs)
    val positive = col("source").isin("src0", "src1")
    val (w, p) = graft.pipeline.TextAnalysis.nbTrain(docs, positive)
    val weights = w.localCheckpoint(); val prior = p.localCheckpoint()
    val scores = graft.pipeline.TextAnalysis
      .nbScore(docs, weights, prior).localCheckpoint()
    val xs = scores.filter(col("doc_id") % 10 === 0)
      .orderBy("doc_id").limit(1000)
      .select(col("log_odds")).collect().map(_.getDouble(0))
      .sortBy(x => -x)
    val thr = xs((xs.length + 1) / 2 - 1)
    val kept = graft.lake.LakeTable.create(s,
      base.resolve("kept").toString, Left(docs.schema))
    val n = StreamIngest.classifierGateIngestAvailable(stream(), weights,
      prior, thr, kept, "cg", base.resolve("ckpt").toString)
    assert(n == 2)
    val streamed = kept.read().select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = scores.filter(col("log_odds") >= thr).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed == batch,
      "static model + per-doc verdicts must equal the batch classifier")
    assert(batch.nonEmpty && batch.size < docs.count(),
      "the calibrated cut must keep a strict non-empty subset")
    val n2 = StreamIngest.classifierGateIngestAvailable(stream(), weights,
      prior, thr, kept, "cg", base.resolve("ckpt2").toString)
    assert(n2 == 0 && kept.read().count() == batch.size,
      "replayed batches must not double-land")
  }

  test("composed door: every admitted doc clears all four verdicts, " +
      "no near-dup pair survives, replay idempotent") {
    val base = java.nio.file.Files.createTempDirectory("curate-test-")
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val stream = docWaves(base, docs)
    val bucket = graft.pipeline.Sampling.bucketCol(col("doc_id"))
    val bench = docs.filter(bucket >= 90)
      .select(explode(graft.functions.ShingleExpressions.hashedShingles(
        trim(lower(col("text"))), 8)).as("_gram"))
      .distinct().localCheckpoint(true)
    val positive = col("source").isin("src0", "src1")
    val (w, p) = graft.pipeline.TextAnalysis.nbTrain(docs, positive)
    val weights = w.localCheckpoint(); val prior = p.localCheckpoint()
    val scores = graft.pipeline.TextAnalysis
      .nbScore(docs, weights, prior).localCheckpoint()
    val xs = scores.filter(col("doc_id") % 10 === 0)
      .orderBy("doc_id").limit(1000)
      .select(col("log_odds")).collect().map(_.getDouble(0))
      .sortBy(x => -x)
    val thr = xs((xs.length + 1) / 2 - 1)
    val idxLoc = base.resolve("index").toString
    graft.pipeline.IncrementalDedup.build(docs.limit(0), idxLoc)
    val kept = graft.lake.LakeTable.create(s,
      base.resolve("kept").toString, Left(docs.schema))
    val n = StreamIngest.curateIngestAvailable(stream(), bench, weights,
      prior, thr, benchK = 8, idxLoc, kept, dedupThreshold = 0.5,
      "cu", base.resolve("ckpt").toString)
    assert(n == 2)
    val keptDf = kept.read().localCheckpoint(true)
    val keptIds = keptDf.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty)
    // verdict 1: rule gate
    val gateKeep = graft.pipeline.TextAnalysis.qualityGate(docs)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.subsetOf(gateKeep))
    // verdict 2: classifier threshold
    val clsKeep = scores.filter(col("log_odds") >= thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.subsetOf(clsKeep))
    // verdict 3: zero benchmark overlap on re-probe
    val overlap = keptDf.select(col("doc_id"),
        explode(graft.functions.ShingleExpressions.hashedShingles(
          trim(lower(col("text"))), 8)).as("_gram"))
      .join(bench, Seq("_gram"), "left_semi").count()
    assert(overlap == 0, "admitted docs must share no benchmark gram")
    // verdict 4: no near-dup pair survives among the admitted
    val pairs = graft.pipeline.Dedup.ngramJaccard(keptDf, k = 3,
      threshold = 0.5).count()
    assert(pairs == 0, "no near-dup pair may survive the funnel")
    // admission metrics: each committed snapshot's summary must
    // reconcile with the data it describes — docs_in covers the wave,
    // admitted matches the batch's landed rows, and the funnel
    // inequality docs_in >= statics_cleared >= admitted holds
    val metrics = kept.meta.snapshots.flatMap { sn =>
      sn.summary.get(StreamIngest.BatchStamp)
        .filter(_.startsWith("cu:"))
        .map(st => (st.stripPrefix("cu:").toLong,
          sn.summary(StreamIngest.DocsInKey).toLong,
          sn.summary(StreamIngest.StaticsClearedKey).toLong,
          sn.summary(StreamIngest.AdmittedKey).toLong))
    }.sortBy(_._1)
    assert(metrics.map(_._1) == Seq(0L, 1L),
      s"one metrics record per committed batch: $metrics")
    val waveSizes = Seq(
      docs.filter(col("doc_id") % 2 === 0).count(),
      docs.filter(col("doc_id") % 2 === 1).count())
    metrics.foreach { case (b, in, stat, adm) =>
      assert(in == waveSizes(b.toInt), s"batch $b docs_in $in")
      assert(in >= stat && stat >= adm && adm >= 0,
        s"funnel inequality violated at batch $b: $in >= $stat >= $adm")
    }
    assert(metrics.map(_._4).sum == keptIds.size,
      "admitted counts must sum to the landed rows")
    // replay: fresh checkpoint, same stamps -> nothing double-lands,
    // and no second metrics record appears for a replayed batch
    val n2 = StreamIngest.curateIngestAvailable(stream(), bench, weights,
      prior, thr, benchK = 8, idxLoc, kept, dedupThreshold = 0.5,
      "cu", base.resolve("ckpt2").toString)
    assert(n2 == 0 && kept.read().count() == keptIds.size)
    val stamps2 = kept.meta.snapshots.flatMap(
      _.summary.get(StreamIngest.BatchStamp)).filter(_.startsWith("cu:"))
    assert(stamps2.size == 2, s"replay must not re-stamp: $stamps2")
  }

  test("dedup, decontamination and budget doors: a fresh-checkpoint " +
      "replay commits nothing and leaves every table unchanged") {
    val base = java.nio.file.Files.createTempDirectory("replay-test-")
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val stream = docWaves(base, docs)
    def ckpt(name: String) = base.resolve(name).toString
    def rows(t: graft.lake.LakeTable) = t.read().count()
    // dedup door: the kept table AND both index halves (a replayed
    // index append would double-count shingles in later probes)
    val idxLoc = ckpt("index")
    graft.pipeline.IncrementalDedup.build(docs.limit(0), idxLoc)
    val idx = graft.pipeline.IncrementalDedup.load(s, idxLoc)
    val dd = graft.lake.LakeTable.create(s, ckpt("dd"), Left(docs.schema))
    def dedup(c: String) = StreamIngest.dedupIngestAvailable(stream(),
      idxLoc, dd, threshold = 0.5, "dd", ckpt(c))
    assert(dedup("dd1") == 2)
    val ddRows = Seq(rows(dd), rows(idx.tokens), rows(idx.bands))
    assert(ddRows.forall(_ > 0), s"dedup door landed nothing: $ddRows")
    assert(dedup("dd2") == 0, "replayed dedup batches must not commit")
    assert(Seq(rows(dd), rows(idx.tokens), rows(idx.bands)) == ddRows)
    // decontamination door
    val bench = docs.filter(graft.pipeline.Sampling.bucketCol(col("doc_id"))
        >= 90)
      .select(explode(graft.functions.ShingleExpressions.hashedShingles(
        trim(lower(col("text"))), 8)).as("_gram"))
      .distinct().localCheckpoint(true)
    val dc = graft.lake.LakeTable.create(s, ckpt("dc"), Left(docs.schema))
    def decont(c: String) = StreamIngest.decontaminateIngestAvailable(
      stream(), bench, dc, k = 8, "dc", ckpt(c))
    assert(decont("dc1") == 2)
    val dcRows = rows(dc)
    assert(dcRows > 0 && dcRows < docs.count(), s"kept $dcRows")
    assert(decont("dc2") == 0, "replayed decontamination batches must " +
      "not commit")
    assert(rows(dc) == dcRows)
    // budget door: rows AND the cross-batch token ledger
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.TextAnalysis.qualityScore(df)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("quality_score"))
    val bu = graft.lake.LakeTable.create(s, ckpt("bu"),
      Left(score(docs).schema))
    def budget(c: String) = StreamIngest.budgetIngestAvailable(
      score(stream()), bu, budgetTokens = 5000L, "bu", ckpt(c))
    assert(budget("bu1") == 2)
    val (buRows, spent) = (rows(bu), StreamIngest.spentTokens(bu))
    assert(buRows > 0 && spent.nonEmpty, s"budget door: $buRows $spent")
    assert(budget("bu2") == 0, "replayed budget batches must not commit")
    assert(rows(bu) == buRows && StreamIngest.spentTokens(bu) == spent,
      "a replay must neither land rows nor move the ledger")
  }

  test("refitIvfOnDrift edges: missing baseline throws a clear message; " +
      "no stamped batches is a no-op; below-threshold drift is a no-op " +
      "and leaves the index untouched") {
    val spark = s
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-refit-edge-")
    // +1 offsets: the cosine-assignment kernel has no direction for a
    // zero vector
    val vecs = (0L until 64L)
      .map(i => (i, Seq(i.toDouble % 8 + 1, (i / 8).toDouble + 1)))
      .toDF("vec_id", "embedding")
    val loc = base.resolve("idx").toString
    val idx = graft.pipeline.Similarity
      .buildIvfDeterministic(vecs, nlist = 4)
    val t = graft.pipeline.Similarity.persistIvf(idx, loc)
    // 1) no baseline property → actionable failure, not a silent skip
    val e = intercept[IllegalStateException] {
      StreamIngest.refitIvfOnDrift(spark, loc, "edge", 2.0, nlist = 4)
    }
    assert(e.getMessage.contains(StreamIngest.FitMeanSqKey))
    val (_, fitMean) = graft.pipeline.Similarity
      .assignmentStats(vecs, idx.centroids)
    t.setProperties(Map(StreamIngest.FitMeanSqKey -> fitMean.toString))
    // 2) baseline present but nothing stamped → decision is "no refit"
    val (d0, m0) = StreamIngest
      .refitIvfOnDrift(spark, loc, "edge", 2.0, nlist = 4)
    assert(!d0.refit && d0.lastBatch == -1L && m0 == fitMean)
    // 3) a stamped batch WITHIN threshold → no-op, snapshot count and
    // centroids unchanged (an eager refit would replace the table).
    // The calm batch is the fit data itself, so its stamped mean equals
    // the baseline exactly — guaranteed under any driftFactor > 1.
    val calm = vecs
    val (n, mean) = graft.pipeline.Similarity
      .assignmentStats(calm, idx.centroids)
    graft.pipeline.Similarity.refreshIvf(spark, loc, calm,
      summary = Map(StreamIngest.BatchStamp -> "edge:0",
        StreamIngest.NVectorsKey -> n.toString,
        StreamIngest.MeanSqDistKey -> mean.toString))
    val snapsBefore = graft.lake.LakeTable.forLocation(spark, loc)
      .meta.snapshots.size
    val (d1, m1) = StreamIngest
      .refitIvfOnDrift(spark, loc, driftFactor = 2.0,
        queryName = "edge", nlist = 4)
    assert(!d1.refit && d1.lastBatch == 0L && m1 == fitMean,
      s"calm batch must not trigger: $d1")
    assert(graft.lake.LakeTable.forLocation(spark, loc)
      .meta.snapshots.size == snapsBefore,
      "a no-op maintenance run must not commit")
    // 4) a LONGER query name sharing `edge` as a prefix is another
    // stream: its drifted stamp must not trigger a re-fit for `edge`
    graft.pipeline.Similarity.refreshIvf(spark, loc, calm,
      summary = Map(StreamIngest.BatchStamp -> "edge:v2:1",
        StreamIngest.NVectorsKey -> n.toString,
        StreamIngest.MeanSqDistKey -> (mean * 1e6 + 1.0).toString))
    val (d2, m2) = StreamIngest
      .refitIvfOnDrift(spark, loc, driftFactor = 2.0,
        queryName = "edge", nlist = 4)
    assert(!d2.refit && d2.lastBatch == 0L && d2.lastMean == mean &&
      m2 == fitMean, s"another query's stamp must not trigger: $d2")
  }

  test("vocab sketch door: cumulative sketch equals the one-shot union " +
      "sketch, estimates stamped per batch, replays are no-ops") {
    import s.implicits._
    import graft.functions.ShingleExpressions.winnowFingerprints
    import graft.functions.KmvAgg.kmvSketch
    val base = java.nio.file.Files.createTempDirectory("vocab-test-")
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val stream = docWaves(base, docs)
    val skT = graft.lake.LakeTable.create(s,
      base.resolve("sketch").toString,
      Left(Seq.empty[(Long, Long)].toDF("batch_id", "h").schema))
    val k = 64
    val n = StreamIngest.vocabSketchIngestAvailable(stream(), skT, k,
      "v", base.resolve("ckpt").toString)
    assert(n == 2, s"expected 2 sketch commits, got $n")
    // batch 1's cumulative sketch must equal sketching the FULL corpus
    // in one shot — the merge = union property
    val got = skT.read().filter(col("batch_id") === 1L)
      .orderBy("h").select("h").as[Long].collect().toSeq
    val want = docs.select(explode(winnowFingerprints(
        trim(lower(col("text"))), 3, 1)).as("h"))
      .agg(kmvSketch(col("h"), k)).head().getSeq[Long](0)
    assert(got == want, s"cumulative sketch drifted: " +
      s"${got.take(5)} vs ${want.take(5)}")
    // per-batch estimate stamps: monotone fill, batch-1 est ≥ batch-0
    val prefix = "v:"
    val stamps = skT.meta.snapshots.flatMap { sn =>
      for {
        st <- sn.summary.get(StreamIngest.BatchStamp)
        if st.startsWith(prefix)
        v <- sn.summary.get(StreamIngest.VocabEstKey)
      } yield (st.substring(prefix.length).toLong,
        v.split(":").map(_.toLong).toSeq)
    }.sortBy(_._1)
    assert(stamps.map(_._1) == Seq(0L, 1L), s"stamps: $stamps")
    assert(stamps(1)._2(2) >= stamps(0)._2(2),
      s"vocabulary estimate shrank across batches: $stamps")
    // a fresh checkpoint replays both batch ids — the stamps must
    // reject them and leave the table unchanged
    val rows = skT.read().count()
    val n2 = StreamIngest.vocabSketchIngestAvailable(stream(), skT, k,
      "v", base.resolve("ckpt2").toString)
    assert(n2 == 0 && skT.read().count() == rows,
      s"replay committed $n2 batches")
  }

  test("freq sketch door: summed per-batch grids equal the one-shot " +
      "corpus grid, mass stamps consistent, replays are no-ops") {
    import s.implicits._
    import graft.functions.ShingleExpressions.cmsBuckets
    import graft.functions.ShingleKernel.cmsCell
    val base = java.nio.file.Files.createTempDirectory("freq-test-")
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val stream = docWaves(base, docs)
    val gridT = graft.lake.LakeTable.create(s,
      base.resolve("grid").toString,
      Left(Seq.empty[(Long, Long, Long)]
        .toDF("batch_id", "cell", "cnt").schema))
    val (depth, width) = (4, 256)
    val probes = Seq("the", "a")
    val n = StreamIngest.freqSketchIngestAvailable(stream(), gridT,
      depth, width, probes, "f", base.resolve("ckpt").toString)
    assert(n == 2, s"expected 2 grid commits, got $n")
    // merge = addition: summing the per-batch grids equals building
    // the corpus grid in one shot
    val got = gridT.read().groupBy("cell").agg(sum("cnt").as("cnt"))
      .orderBy("cell").as[(Long, Long)].collect().toSeq
    val want = docs.select(
        explode(cmsBuckets(trim(lower(col("text"))), depth, width))
          .as("pc"))
      .select(shiftright(col("pc"), 32).as("cell"),
        col("pc").bitwiseAND(lit(0xFFFFFFFFL)).as("cnt"))
      .groupBy("cell").agg(sum("cnt").as("cnt"))
      .orderBy("cell").as[(Long, Long)].collect().toSeq
    assert(got == want, s"summed grids drifted from the one-shot grid")
    // stamps: batch tokens sum to the corpus token count; the
    // cumulative mass after the last batch equals probing the summed
    // grid; batch masses sum to at least the final cumulative (CMS
    // of a part never exceeds the whole)
    val stamps = gridT.meta.snapshots.flatMap { sn =>
      for {
        st <- sn.summary.get(StreamIngest.BatchStamp)
        if st.startsWith("f:")
        v <- sn.summary.get(StreamIngest.FreqMassKey)
      } yield (st.substring(2).toLong,
        v.split(":").map(_.toLong).toSeq)
    }.sortBy(_._1)
    assert(stamps.map(_._1) == Seq(0L, 1L), s"stamps: $stamps")
    val totalTokens = docs.select(explode(split(
        trim(lower(col("text"))), "\\s+"))).count()
    assert(stamps.map(_._2(0)).sum == totalTokens,
      s"batch token counts don't sum to the corpus: $stamps")
    val gmap = got.toMap
    val wantCum = probes.map(w => (0 until depth)
      .map(dd => gmap.getOrElse(cmsCell(dd, w, width), 0L)).min).sum
    assert(stamps(1)._2(2) == wantCum,
      s"final cumulative mass drifted: ${stamps(1)._2(2)} vs $wantCum")
    assert(stamps(1)._2(2) >= stamps(0)._2(2),
      s"cumulative mass shrank: $stamps")
    // fresh checkpoint replays both batch ids — stamps reject them
    val rows = gridT.read().count()
    val n2 = StreamIngest.freqSketchIngestAvailable(stream(), gridT,
      depth, width, probes, "f", base.resolve("ckpt2").toString)
    assert(n2 == 0 && gridT.read().count() == rows,
      s"replay committed $n2 batches")
  }
}
