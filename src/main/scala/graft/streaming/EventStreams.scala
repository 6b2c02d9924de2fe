package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TrinoFunctions
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Structured Streaming counterparts of the batch event analytics: the
  * same logical transforms declared over `readStream`, so a pipeline
  * validated in batch can run incrementally. The reference is pure batch
  * (SURVEY §2.12), so these are north-star extensions: watermarked
  * tumbling-window aggregation and custom sessionization state.
  */
object EventStreams {

  /** Fill `dir` so the streaming file source can monitor the parquet
    * FILE `path` through it: a symlink to the file, or `copies` links —
    * each its own source file, simulating at-least-once/duplicated
    * delivery for dedup tests — and return `dir`. A dataset directory
    * passes through and leaves `dir` empty.
    */
  def streamDir(dir: Path, path: String, copies: Int = 1): String = {
    val p = Paths.get(path)
    if (Files.isRegularFile(p)) {
      (1 to copies).foreach { i =>
        Files.createSymbolicLink(dir.resolve(
          if (copies == 1) p.getFileName.toString
          else s"copy$i-${p.getFileName}"), p.toAbsolutePath)
      }
      dir.toString
    } else {
      require(copies == 1, s"cannot duplicate a dataset directory: $path")
      path
    }
  }

  /** Fill `dir` with a link to the events FILE plus a sentinel parquet
    * sorting AFTER it, and return `dir`: `sentinel(maxEpochMicros)`
    * builds the far-future row(s) that advance the stream's final
    * watermark past every pending window/timeout — the end-of-stream
    * flush trick shared by sessionization and outer joins. The sentinel
    * file is named to arrive last so single-batch file sources still
    * see it at max event-time.
    *
    * Fixture-type defense: the callback works purely in epoch-MICROS
    * (receives the stream's max event time as µs, builds its `ts` as a
    * µs long), and the machinery coerces that `ts` to whatever
    * physical type the events file actually uses (long epoch-nanos or
    * a timestamp) — so a fixture regeneration that changes the parquet
    * type cannot desynchronize sentinel and stream schemas.
    */
  def streamDirWithSentinel(spark: SparkSession, eventsPath: String,
      dir: Path)(sentinel: Long => DataFrame): String = {
    val p = Paths.get(eventsPath)
    Files.createSymbolicLink(dir.resolve(p.getFileName), p.toAbsolutePath)
    val raw = spark.read.parquet(eventsPath)
    val maxUs = raw.agg(max(unix_micros(TrinoFunctions.eventTime(raw))))
      .head().getLong(0)
    val tsType = raw.schema("ts").dataType
    writeParquetFile(sentinel(maxUs).withColumn("ts", tsType match {
      case org.apache.spark.sql.types.LongType => col("ts") * lit(1000L)
      case dt => timestamp_micros(col("ts")).cast(dt)
    }), dir.resolve("zz-sentinel.parquet"))
    dir.toString
  }

  /** Write `df` as the one parquet file `dst`: Spark writes a single
    * part file into a hidden scratch directory beside `dst`, the part
    * file moves into place and the scratch directory is deleted.
    */
  def writeParquetFile(df: DataFrame, dst: Path): Unit = {
    val tmp = dst.resolveSibling(s".${dst.getFileName}.build")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val ls = Files.list(tmp) // holds a directory fd until closed
    val part =
      try ls.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally ls.close()
    Files.move(part, dst)
    graft.lake.Writer.deleteRecursively(tmp)
  }

  /** The events table as a stream over `dir`, a directory the file
    * source can monitor ([[streamDir]], [[streamDirWithSentinel]]):
    * `ts` surfaces as `event_time` via the type-adaptive
    * [[TrinoFunctions.eventTime]] — the fixture has shipped both
    * ns-epoch longs and µs timestamps, and the streaming readers must
    * survive either (µs truncation of ns stays explicit,
    * `iceberg_trino_sqldemo.sql:185-187` gap).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    stream.withColumn("event_time", TrinoFunctions.eventTime(stream))
  }

  /** Hourly tumbling counts per event type with a watermark bounding
    * state: identical semantics to the batch `q_events_hourly` —
    * asserted against it in StreamingSpec.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours")
      : DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("hour_bucket"), col("event_type"),
        col("n_events"), col("sum_value"))

  case class Event(user_id: Long, event_time: java.sql.Timestamp,
      value: Double)
  case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, sum_value: Double)

  private def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def fromMicros(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Gap-based sessionization via flatMapGroupsWithState — the custom
    * stateful operator shape (KeyValueGroupedDataset) for logic window
    * functions can't express incrementally. State carries epoch-micros
    * (java.sql.Timestamp#getTime is ms-truncated — µs matter here).
    *
    * Sessions close two ways: a newer event for the same user beyond the
    * gap, or an event-time TIMEOUT once the watermark passes the open
    * session's `last + gap`. The timeout path is what bounds state at
    * scale — with billions of users, `NoTimeout` would pin every user's
    * final session in the state store forever — and it makes end-of-
    * stream flushes possible (advance the watermark, collect everything).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            // Watermark passed last+gap: no event can extend the open
            // session any more — emit it and drop the user's state.
            val out = state.getOption.getOrElse(Nil).map(cur =>
              Session(userId, fromMicros(cur.start), fromMicros(cur.last),
                cur.n, cur.sum))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => toMicros(e.event_time))
            var sessions = state.getOption.getOrElse(Nil)
            val closed = scala.collection.mutable.ListBuffer[Session]()
            sorted.foreach { e =>
              val t = toMicros(e.event_time)
              sessions match {
                case cur :: rest if t - cur.last <= gapUs =>
                  sessions = cur.copy(last = t, n = cur.n + 1,
                    sum = cur.sum + e.value) :: rest
                case cur :: rest =>
                  closed += Session(userId, fromMicros(cur.start),
                    fromMicros(cur.last), cur.n, cur.sum)
                  sessions = SessionState(t, t, 1, e.value) :: rest
                case Nil =>
                  sessions = SessionState(t, t, 1, e.value) :: Nil
              }
            }
            state.update(sessions)
            sessions.headOption.foreach { cur =>
              // close the open session when the watermark passes its gap
              // (must stay ahead of the current watermark or Spark rejects it)
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(cur.last, 1000L) + gapMs + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  case class FEvent(user_id: Long, event_time: java.sql.Timestamp,
      event_type: String)
  case class FunnelBuf(buffer: List[(Long, String)], times: List[Long])
  case class FunnelHit(user_id: Long, step: Int,
      step_time: java.sql.Timestamp)

  /** Streaming ordered funnel — the stateful twin of
    * [[graft.operators.Funnel.funnel]] with a CONVERSION WINDOW (the
    * production semantics: the funnel must complete within `window` of
    * step 1; equality with the unwindowed batch funnel holds whenever
    * the window covers the data's span). The automaton (fill step j
    * with the first event strictly after step j-1, within the window)
    * is ORDER-SENSITIVE, and micro-batches deliver events out of order
    * — so step events BUFFER in state until the watermark seals their
    * event-time prefix, which is folded in order; sealed events that
    * can't fold (a click with no view yet) are DEAD — any future view
    * carries a later event time — and are dropped, never re-examined.
    *
    * A user's funnel finalizes (emits) only when the watermark passes
    * `t1 + window` — NOT when the buffer momentarily drains: a user
    * quiet for longer than the watermark delay must not be cut off
    * mid-funnel (the bug a buffer-drain timeout would reintroduce).
    * Funnels are EPOCHED: an event beyond the open funnel's window is
    * retained — never consumed by or discarded with the closing epoch
    * — and seeds the user's next funnel once the epoch closes, so
    * re-entry output depends on event times (given the watermark
    * schedule), not on which micro-batch a re-entry event happened to
    * arrive in. Within an epoch, a sealed event that cannot fill a
    * step is dead in EVERY epoch (any later epoch's step 1 starts
    * after it) and is dropped. Users who never reach step 1 clear
    * state as soon as their buffer drains dead. State is bounded: the
    * buffer holds only events past the open epoch's deadline or the
    * watermark — (window + delay) × per-user step-event rate — plus k
    * longs. End-of-stream flush = a sentinel whose event time clears
    * every `t1 + window` deadline.
    */
  def funnelStream(events: Dataset[FEvent], steps: Seq[String],
      windowMs: Long, watermarkDelay: String = "10 seconds")
      : Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val k = steps.size
    val windowUs = windowMs * 1000L

    events
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuf, FunnelHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[FEvent],
         state: GroupState[FunnelBuf]) =>
          val st = state.getOption
            .getOrElse(FunnelBuf(Nil, List.fill(k)(-1L)))
          val newEvs =
            if (state.hasTimedOut) Nil
            else rows.filter(e => stepIdx.contains(e.event_type))
              .map(e => (toMicros(e.event_time), e.event_type)).toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L

          var buf = (st.buffer ++ newEvs).sorted
          var times = st.times.toArray
          val out = List.newBuilder[FunnelHit]
          // epoch loop: consume sealed in-window events into the open
          // automaton; on deadline passage emit, reset, and let the
          // RETAINED tail (events beyond the closed window) seed the
          // next epoch — possibly several epochs per invocation
          var advanced = true
          while (advanced) {
            val keep = List.newBuilder[(Long, String)]
            buf.foreach { case ev @ (t, tp) =>
              // the deadline moves WITHIN a pass: the event that sets
              // t1 re-bounds the window for everything after it
              val deadline =
                if (times(0) >= 0L) times(0) + windowUs else Long.MaxValue
              if (t > wmUs || t > deadline) keep += ev // unsealed / next epoch
              else {
                // greedy-earliest fold (buf is event-time ascending);
                // a sealed in-window event that fills nothing is dead
                val j = stepIdx(tp)
                if (times(j) < 0L &&
                    (j == 0 || (times(j - 1) >= 0L && times(j - 1) < t)))
                  times(j) = t
              }
            }
            buf = keep.result()
            if (times(0) >= 0L && wmUs > times(0) + windowUs) {
              out ++= times.zipWithIndex.takeWhile(_._1 >= 0L).map {
                case (t, j) => FunnelHit(userId, j + 1, fromMicros(t))
              }
              times = Array.fill(k)(-1L) // next epoch folds the tail
            } else advanced = false
          }

          if (times(0) < 0L && buf.isEmpty) {
            // not in a funnel and nothing retained — clear the state so
            // non-entrants don't pin the store forever
            state.remove()
          } else {
            state.update(FunnelBuf(buf, times.toList))
            // wake when the deadline (if entered) or the buffer's tail
            // (if not) is sealed; always strictly ahead of the watermark
            val deadlineMs =
              if (times(0) >= 0L)
                Math.floorDiv(times(0) + windowUs, 1000L)
              else buf.map(p => Math.floorDiv(p._1, 1000L)).max
            state.setTimeoutTimestamp(math.max(deadlineMs + 1,
              state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
      }
  }

  /** Stream-stream interval join: each view joined to the same user's
    * clicks within `window` after it. The join-state shape that works
    * at 100 TB: BOTH sides are watermarked and the join condition
    * carries an explicit event-time range, so Spark evicts buffered
    * rows once the watermark passes `view_time + window` — state is
    * bounded by (delay + window) × arrival rate, not by stream length.
    * (An equi-join without the time-range bound would buffer both
    * streams forever.)
    */
  def intervalJoin(views: DataFrame, clicks: DataFrame,
      window: String = "4 hours", watermarkDelay: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_time").as("view_time"),
        col("event_id").as("view_id"))
      .withWatermark("view_time", watermarkDelay)
    val c = clicks
      .select(col("user_id").as("click_user"),
        col("event_time").as("click_time"),
        col("event_id").as("click_id"))
      .withWatermark("click_time", watermarkDelay)
    v.join(c, expr(
      s"""user_id = click_user AND
          click_time >= view_time AND
          click_time <= view_time + interval $window"""), joinType)
      .select(col("user_id"), col("view_id"), col("click_id"))
  }

  /** Batch reference implementation of the same sessionization (window
    * functions over the complete data) — the oracle for the stateful
    * streaming path.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_time"))
    events
      .withColumn("prev", lag(col("event_time"), 1).over(w))
      // gap test at MICROsecond precision — the stateful path compares
      // epoch-micros, and a millisecond-truncated diff would sessionize
      // boundary gaps differently from it (and from the DuckDB oracle)
      .withColumn("new_session",
        (col("prev").isNull ||
          (unix_micros(col("event_time")) - unix_micros(col("prev"))) >
            gapMs * 1000L)
          .cast("int"))
      .withColumn("session_no",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("event_time")).as("session_start"),
        max(col("event_time")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value")).as("sum_value"))
      .drop("session_no")
  }
}
