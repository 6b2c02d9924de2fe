package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.lake.LakeTable
import graft.pipeline.Similarity
import graft.streaming.{EventStreams, StreamIngest}
import java.nio.file.Path

/** Structured Streaming surfaced through the driver contract: the
  * streaming plans execute to completion against the static event files
  * (memory sink, `processAllAvailable`) and the materialized result is
  * returned — so the incremental path is oracle-checked against the same
  * DuckDB SQL as its batch twin.
  */
object StreamQueries {
  import OracleCtes._

  /** Run `body` (which starts and drains a streaming query) with the
    * session's shuffle-partition count — which fixes the STATE-STORE
    * partition count for the life of the stream — scoped down to
    * `n`. Streaming state parallelism must track state VOLUME, not the
    * box's CPU count: every state partition pays per-trigger fixed
    * costs (store instance, delta/snapshot files, commit), so a
    * harness-scale stream with kilobytes of state behind 32 partitions
    * spends its wall-clock on store machinery, ~4× slower than at 8.
    * On a real deployment the same knob goes UP with state size — the
    * point is that it is a per-stream decision, decoupled from the
    * batch session default (Spark pins it in the checkpoint at first
    * start; it cannot be re-chosen later, so choose it consciously).
    * The batch result frame is unaffected: partition count never
    * changes streaming answers, only state layout.
    */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Stream-phase wall-clock (start → drain → stop) of each query's
    * most recent run, keyed by driver query name. Bench times a
    * streaming query ONCE end-to-end and subtracts this to report
    * `scenario_s` (dir/table builds, sentinel flush, result sort) vs
    * `stream_s` (micro-batch execution) — so a state-machine
    * regression can't hide inside spin-up noise, nor vice versa.
    */
  val streamPhaseSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Per-MICRO-BATCH wall seconds of each query's most recent run
    * (trigger-ordered). `stream_s` alone can't distinguish first-batch
    * JIT/spin-up from steady-state per-batch rate — and the latter is
    * the scale-relevant number (a 100 TB ingest pays spin-up once and
    * the per-batch rate forever). Recorded via a scoped
    * StreamingQueryListener: batch durations come from the engine's own
    * StreamingQueryProgress, so foreachBatch sinks and memory sinks
    * report identically.
    */
  val streamBatchSecs =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()

  /** One ingest scenario being built: its fresh base (tables and
    * checkpoint live under it) and the row whose stream phase it times.
    */
  private final class Scenario(val row: String, base: Path) {
    def at(part: String): String = base.resolve(part).toString

    /** The door call, timed as the row's stream phase. */
    def drain(door: => Long): Long = timedStream(row)(door)

    /** [[drain]] for a waves scenario, which must commit both waves. */
    def drainWaves(door: => Long): Unit = {
      val batches = drain(door)
      require(batches == 2, s"expected 2 ingest waves, got $batches")
    }
  }

  /** Build `row`'s scenario over dataset `d` once per
    * [[RegistryState.reset]]: `build` gets a fresh base and returns the
    * product location the row reads. Bench resets between stream
    * passes: without it, pass 2 of an ingest row is a hot table READ
    * (r11 smoke measured stream_token_budget "pass 2" at 0.12 s vs a
    * 3.3 s floor), which would poison the min-of-passes and the floor
    * ledger with a non-stream number.
    */
  private def scenario(row: String, d: String)(build: Scenario => String)
      : String =
    RegistryState.scenario(row, d)(base => build(new Scenario(row, base)))

  /** The events file as a stream source dir ([[EventStreams.streamDir]]),
    * built once per dataset.
    */
  private def eventsDir(d: String): String =
    RegistryState.input("eventsDir", d)(
      EventStreams.streamDir(_, s"$d/events.parquet"))

  /** A file stream over a waves dir ([[buildWavesDir]]), one wave per
    * trigger.
    */
  private def waveStream(s: SparkSession, schema: StructType, dir: String)
      : DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  private def timedStream[T](name: String)(body: => T): T = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val durations =
      new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val terminated = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        durations.add(e.progress.batchDuration / 1000.0)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.incrementAndGet()
    }
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    session.foreach(_.streams.addListener(listener))
    val t0 = System.nanoTime()
    try body
    finally {
      streamPhaseSecs.put(name, (System.nanoTime() - t0) / 1e9)
      // listener events ride an async bus: the terminated event is
      // ordered AFTER every progress event of its query, so once the
      // terminated count catches the started count all batch durations
      // have landed (bounded wait — an artifact field must never hang
      // the bench)
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (terminated.get() < started.get() &&
          System.nanoTime() < deadline) Thread.sleep(10)
      session.foreach(_.streams.removeListener(listener))
      import scala.jdk.CollectionConverters._
      streamBatchSecs.put(name,
        durations.iterator().asScala.map(_.doubleValue).toSeq)
    }
  }

  /** Row `row`'s timed stream phase: start `df` into a memory sink,
    * drain it, stop it; then the sink's table.
    */
  private def memoryStream(s: SparkSession, d: String, row: String,
      mode: String, df: Dataset[_]): DataFrame = {
    val name = s"graft_${row}_${Math.abs(d.hashCode)}"
    timedStream(row) {
      val q = df.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name)
  }

  /** Watermarked hourly tumbling windows, streaming execution; same
    * oracle as the batch `q_events_hourly`.
    */
  def streamHourly(s: SparkSession, d: String): DataFrame =
    withStatePartitions(s, 8) {
      memoryStream(s, d, "stream_hourly_counts", "complete",
        EventStreams.hourlyCounts(
          EventStreams.readEvents(s, eventsDir(d))))
    }.orderBy("hour_bucket", "event_type")

  // the sentinel offsets of the session and funnel rows (warmupDirs
  // pre-builds exactly these)
  private val SessionPastEndMs = 86400L * 1000
  private val FunnelWindowMs = 45L * 86400 * 1000

  /** The events plus one far-future sentinel event `pastEndMs` after the
    * last, for a user id the readers filter back out: it advances the
    * final watermark past every pending deadline, so end-of-stream
    * flushes every open session or funnel. Built once per dataset and
    * offset: Verify/Bench call the rows repeatedly and the setup (a
    * max-scan + a parquet write) must not ride inside every timed pass.
    * The key carries the offset: a reused shorter-offset sentinel would
    * leave every funnel pending (silent empty result).
    */
  private def sentinelStreamDir(s: SparkSession, d: String,
      pastEndMs: Long): String =
    RegistryState.input("sentinelDir", s"$d#$pastEndMs")(dir =>
      // ts is epoch-MICROS by the streamDirWithSentinel contract (it
      // coerces to the fixture type)
      EventStreams.streamDirWithSentinel(s, s"$d/events.parquet", dir)(maxUs =>
        s.range(1).select(
          lit(-1L).as("event_id"),
          lit(maxUs + pastEndMs * 1000L).as("ts"),
          lit(-1L).as("user_id"),
          lit("sentinel").as("event_type"),
          lit(0.0).as("value"),
          lit(null).cast("string").as("props"))))

  /** Stateful gap sessionization (flatMapGroupsWithState with event-time
    * timeouts). A sentinel event a day past the stream's end advances
    * the final watermark past every open session's `last+gap`, so
    * end-of-stream flushes ALL sessions — the streamed result equals
    * the batch gaps-and-islands answer and is fully oracle-checked.
    */
  def streamSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = EventStreams
      .readEvents(s, sentinelStreamDir(s, d, SessionPastEndMs))
      .select(col("user_id"), col("event_time"), col("value"))
      .as[EventStreams.Event]
    withStatePartitions(s, 8) {
      memoryStream(s, d, "stream_sessions", "append",
        EventStreams.sessionize(stream, gapMs = 600000L))
    }
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("sum_value"), 4).as("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Streaming ordered funnel (buffer-until-sealed automaton in
    * flatMapGroupsWithState): conversion window 45 days ⊇ the data's
    * 30-day span, so the completed stream must equal the unwindowed
    * batch `funnel_conversion` answer reshaped to (user, step, time).
    * Funnel streams finalize a user when the watermark passes
    * `t1 + window`, so the sentinel sits window + 1 day past the last
    * event (the session sentinel's +1 day would leave every funnel
    * pending).
    */
  def streamFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val windowMs = FunnelWindowMs
    val stream = EventStreams
      .readEvents(s, sentinelStreamDir(s, d, windowMs + SessionPastEndMs))
      .select(col("user_id"), col("event_time"), col("event_type"))
      .as[EventStreams.FEvent]
    withStatePartitions(s, 8) {
      memoryStream(s, d, "stream_funnel", "append",
        EventStreams.funnelStream(stream,
          steps = Seq("view", "click", "purchase"), windowMs = windowMs))
    }
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "step")
  }

  /** A stream dir where every event arrives TWICE (two links to the
    * same parquet) — the at-least-once delivery a dedup stage exists
    * for.
    */
  private def dedupStreamDir(d: String): String =
    RegistryState.input("dedupDir", d)(
      EventStreams.streamDir(_, s"$d/events.parquet", copies = 2))

  /** Exactly-once projection of an at-least-once stream:
    * `dropDuplicatesWithinWatermark` on the event id — dedup state is
    * EXPIRED once the watermark passes (the operator that stays bounded
    * at 100 TB, unlike plain streaming dropDuplicates whose state grows
    * with every id ever seen). Every event is delivered twice here; the
    * oracle is the plain batch table, so the stream must emit each
    * exactly once.
    */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val stream = EventStreams.readEvents(s, dedupStreamDir(d))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    withStatePartitions(s, 8) {
      memoryStream(s, d, "stream_dedup", "append", stream)
    }
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("event_id")
  }

  /** Streaming ingestion into a lake table: `foreachBatch` → one
    * batch-id-stamped append snapshot per micro-batch (exactly-once
    * table commits, [[graft.streaming.StreamIngest]]), then the table
    * read back. Oracle is the plain batch table: ingest must neither
    * drop nor duplicate a row.
    */
  def streamLakeIngest(s: SparkSession, d: String): DataFrame = {
    val loc = scenario("stream_lake_ingest", d) { sc =>
      val stream = EventStreams.readEvents(s, eventsDir(d))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val table = LakeTable.create(s, sc.at("table"), Left(stream.schema))
      sc.drain(StreamIngest.ingestAvailable(stream, table,
        "events_ingest", sc.at("ckpt")))
      table.location
    }
    LakeTable.forLocation(s, loc).read()
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("event_id")
  }

  /** Streaming UPSERT into a lake table: the target is seeded with a
    * STALE copy of half the events (value = -999), then the full event
    * stream — delivered TWICE (at-least-once) — merges in, keyed by
    * event_id. Exactly-once + update semantics are both observable in
    * the oracle: every stale value must be overwritten (update path) and
    * no row may appear twice (idempotent stamps + in-batch dedup).
    */
  def streamLakeUpsert(s: SparkSession, d: String): DataFrame = {
    val loc = scenario("stream_lake_upsert", d) { sc =>
      val batch = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val stale = batch.filter(col("event_id") % 2 === 0)
        .withColumn("value", lit(-999.0))
      val table = LakeTable.create(s, sc.at("table"), Right(stale))
      val stream = s.readStream.schema(batch.schema).parquet(dedupStreamDir(d))
      sc.drain(StreamIngest.upsertAvailable(stream, table,
        keys = Seq("event_id"), "events_upsert", sc.at("ckpt")))
      table.location
    }
    LakeTable.forLocation(s, loc).read()
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("event_id")
  }

  /** Streaming ingest feeding an INCREMENTALLY-maintained materialized
    * aggregate: seed a source lake table with an early event slice,
    * materialize per-user count/sum over it
    * ([[graft.lake.IncrementalMv]]), stream-ingest the remaining events
    * (one stamped append snapshot per micro-batch), then ONE refresh
    * brings the MV current — and must take the INCREMENTAL path over
    * all streamed commits (asserted in-scenario), scanning only the
    * appended rows. Oracle = the aggregate over ALL events: the
    * downstream-MV answer to "don't rescan the table per refresh".
    */
  def streamMview(s: SparkSession, d: String): DataFrame = {
    val mvLoc = scenario("stream_mview", d) { sc =>
      val batch = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      // modulo split: both halves are non-empty at every SF (an
      // id-threshold split left the streamed half empty at sf0.001,
      // where all event ids are < 1000)
      val table = LakeTable.create(s, sc.at("table"),
        Right(batch.filter(col("event_id") % 5 === 0)))
      graft.lake.IncrementalMv.create(s, sc.at("mv"), table,
        groupCols = Seq("user_id"), sumCols = Seq("value"))
      val stream = EventStreams.readEvents(s, eventsDir(d))
        .select(col("event_id"), col("user_id"), col("value"))
        .filter(col("event_id") % 5 =!= 0)
      sc.drain(StreamIngest.ingestAvailable(stream, table,
        "events_mv", sc.at("ckpt")))
      val mode = graft.lake.IncrementalMv.refresh(s, sc.at("mv"))
      require(mode == "incremental",
        s"streamed append commits must refresh incrementally, got $mode")
      sc.at("mv")
    }
    graft.lake.IncrementalMv.read(s, mvLoc)
      .select(col("user_id"), col("n_rows").as("n_events"),
        round(col("sum_value"), 4).as("total"))
      .orderBy("user_id")
  }

  /** The train-side (bucket < 80) documents as two ordered arrival
    * waves — setup for the decontamination door; the bucket ≥ 90 slice
    * is the static benchmark set.
    */
  private def decontWavesDir(s: SparkSession, d: String): String =
    RegistryState.input("decontWaves", d) { dir =>
      val docs = s.read.parquet(s"$d/documents.parquet")
        .withColumn("bucket",
          graft.pipeline.Sampling.bucketCol(col("doc_id")))
        .filter(col("bucket") < 80).drop("bucket")
      buildWavesDir(dir, Seq(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1)))
    }

  /** The static benchmark set of the decontamination doors: the
    * distinct hashed 8-grams of the bucket ≥ 90 slice. Unmaterialized:
    * each scenario checkpoints it inside its own pass, so every pass
    * still pays for it.
    */
  private def benchGrams(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket",
        graft.pipeline.Sampling.bucketCol(col("doc_id")))
      .filter(col("bucket") >= 90)
      .select(explode(graft.functions.ShingleExpressions.hashedShingles(
        trim(lower(col("text"))), 8)).as("_gram"))
      .distinct()

  /** The reference classifier of the classifier doors (the
    * text_nb_classifier model — src0/src1 as the curated reference):
    * unmaterialized weight table and prior.
    */
  private def referenceNb(docs: DataFrame): (DataFrame, DataFrame) =
    graft.pipeline.TextAnalysis.nbTrain(docs,
      col("source").isin("src0", "src1"))

  /** Offline threshold calibration: the median rounded score of the
    * capped mod-10 sample (same estimator shape as pplBuckets'
    * cutoffs — bounded collect, deterministic).
    */
  private def nbThreshold(docs: DataFrame, weights: DataFrame,
      prior: DataFrame): Double = {
    val xs = graft.pipeline.TextAnalysis.nbScore(docs, weights, prior)
      .filter(col("doc_id") % 10 === 0).orderBy("doc_id").limit(1000)
      .select(col("log_odds")).collect().map(_.getDouble(0))
      .sortBy(x => -x)
    xs((xs.length + 1) / 2 - 1)
  }

  /** Benchmark decontamination AT INGEST: the train-side corpus
    * arrives as two micro-batch waves; each batch's hashed 8-grams
    * probe the broadcast benchmark gram set and contaminated docs are
    * dropped at the door
    * ([[graft.streaming.StreamIngest.decontaminateIngestAvailable]]).
    * The benchmark set is STATIC, so per-doc verdicts are
    * wave-independent and the oracle is the batch decontamination
    * filter itself — no wave replay needed, unlike the dedup door.
    */
  private def decontIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_decontaminate_ingest", d) { sc =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val bench = benchGrams(docs).localCheckpoint(true)
      val keptT = LakeTable.create(s, sc.at("kept"), Left(docs.schema))
      val stream = waveStream(s, docs.schema, decontWavesDir(s, d))
      sc.drainWaves(StreamIngest.decontaminateIngestAvailable(
        stream, bench, keptT, k = 8, "docs_decont_ingest", sc.at("ckpt")))
      keptT.location
    }

  def streamDecontaminateIngest(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, decontIngestLoc(s, d)).read()
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** Rule-gated ingest: the corpus arrives as the same two waves as the
    * dedup door, each micro-batch quality-gated at the door
    * ([[graft.streaming.StreamIngest.qualityGateIngestAvailable]]) —
    * only `keep` documents ever land. Verdicts are per-document rules
    * (no cross-batch state), so the oracle is the batch gate's kept
    * set, wave-independent.
    */
  private def qgateIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_quality_gate", d) { sc =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val keptT = LakeTable.create(s, sc.at("kept"), Left(docs.schema))
      val stream = waveStream(s, docs.schema, docWavesDir(s, d))
      sc.drainWaves(StreamIngest.qualityGateIngestAvailable(
        stream, keptT, "docs_qgate_ingest", sc.at("ckpt")))
      keptT.location
    }

  def streamQualityGate(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, qgateIngestLoc(s, d)).read()
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** Classifier-gated ingest: the reference classifier is trained ONCE
    * on the static corpus ([[referenceNb]]), its weight table and prior
    * materialized, then every arriving micro-batch is scored at the
    * door and only reference-like docs land
    * ([[graft.streaming.StreamIngest.classifierGateIngestAvailable]]).
    * Static model → wave-independent verdicts → the oracle is the
    * batch classifier's kept set.
    */
  private def clsGateIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_classifier_gate", d) { sc =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      // materialized: weights are vocabCap-sized, prior is one row —
      // without this each micro-batch would re-aggregate the corpus
      val (w, p) = referenceNb(docs)
      // two independent eager checkpoints — overlap (guide §2.6); the
      // scenario is rebuilt inside the timed region every pass
      val (weights, prior) = graft.SparkEnv.overlap(
        w.localCheckpoint(), p.localCheckpoint())
      val thr = nbThreshold(docs, weights, prior)
      val keptT = LakeTable.create(s, sc.at("kept"), Left(docs.schema))
      val stream = waveStream(s, docs.schema, docWavesDir(s, d))
      sc.drainWaves(StreamIngest.classifierGateIngestAvailable(
        stream, weights, prior, thr, keptT, "docs_cls_ingest",
        sc.at("ckpt")))
      keptT.location
    }

  def streamClassifierGate(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, clsGateIngestLoc(s, d)).read()
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** The composed ingest funnel: benchmark decontamination + rule gate
    * + calibrated classifier (static artifacts, built once here) in
    * front of the stateful LSH near-dup door, one stream
    * ([[graft.streaming.StreamIngest.curateIngestAvailable]]).
    */
  private def curateIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_curate_ingest", d) { sc =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val (w, p) = referenceNb(docs)
      // three independent eager materializations (bench gram set,
      // classifier weights, prior) — overlap all three (guide §2.6);
      // this scenario is rebuilt inside the timed region every pass
      val (bench, (weights, prior)) = graft.SparkEnv.overlap(
        benchGrams(docs).localCheckpoint(true),
        graft.SparkEnv.overlap(w.localCheckpoint(), p.localCheckpoint()))
      val thr = nbThreshold(docs, weights, prior)
      graft.pipeline.IncrementalDedup.build(docs.limit(0), sc.at("index"))
      val keptT = LakeTable.create(s, sc.at("kept"), Left(docs.schema))
      val stream = waveStream(s, docs.schema, docWavesDir(s, d))
      sc.drainWaves(StreamIngest.curateIngestAvailable(
        stream, bench, weights, prior, thr, benchK = 8, sc.at("index"),
        keptT, dedupThreshold = 0.5, "docs_curate_ingest", sc.at("ckpt")))
      keptT.location
    }

  def streamCurateIngest(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, curateIngestLoc(s, d)).read()
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** Per-batch admission report of the composed door — the attrition
    * record each ingest snapshot publishes in its commit summary
    * (docs in, statics-cleared, dedup-suppressed, admitted), read back
    * from the kept table's snapshot log. This is the streaming mirror
    * of `pipeline_attrition`: the funnel's drop accounting, here at
    * micro-batch granularity and persisted WITH the data it describes
    * (an auditor replays admission rates from the table alone, no
    * side channel). Metadata-sized by contract — one row per
    * committed batch, driver-side snapshot list, no corpus read. The
    * oracle replays both waves' verdict counts from the documents
    * table. Named to sort AFTER stream_curate_ingest so the shared
    * scenario's cost stays attributed to the ingest row in the bench's
    * sorted schedule.
    */
  def streamCurateReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StreamIngest.{ledger, AdmittedKey, DocsInKey, StaticsClearedKey}
    val t = LakeTable.forLocation(s, curateIngestLoc(s, d))
    // metric keys via Option: a pre-metrics snapshot (an older table
    // read by this query) yields no report row instead of throwing
    val rows = ledger(t).filter(_.query == "docs_curate_ingest")
      .flatMap { e =>
        for {
          in <- e.summary.get(DocsInKey)
          cl <- e.summary.get(StaticsClearedKey)
          ad <- e.summary.get(AdmittedKey)
        } yield (e.batch, in.toLong, cl.toLong, ad.toLong)
      }
    rows.toDF("batch_id", "docs_in", "statics_cleared", "admitted")
      .withColumn("dedup_suppressed",
        col("statics_cleared") - col("admitted"))
      .select(col("batch_id"), col("docs_in"), col("statics_cleared"),
        col("dedup_suppressed"), col("admitted"))
      .orderBy("batch_id")
  }

  /** The documents corpus as two ordered arrival waves (even doc ids,
    * then odd) in a file-stream dir — scenario SETUP shared by the
    * ingest-dedup query and pre-built by [[warmupDirs]] so the timed
    * pass measures the ingest, not two parquet rewrites.
    */
  private def docWavesDir(s: SparkSession, d: String): String =
    RegistryState.input("docWaves", d) { dir =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      buildWavesDir(dir, Seq(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1)))
    }

  /** Near-duplicate suppression AT INGEST: the documents corpus arrives
    * as two ordered waves (file stream, one file per trigger — even doc
    * ids, then odd), each micro-batch probed against the persisted LSH
    * index and only novel docs admitted (to the index AND the output
    * table). The oracle replays the same greedy wave semantics with
    * exact all-pairs Jaccard in SQL: a doc is dropped iff it matches an
    * admitted earlier-wave doc or a smaller-id wave-mate — so banded
    * recall, the keep-first policy, and the index round-trip are all
    * hash-checked.
    */
  private def dedupIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_dedup_ingest", d) { sc =>
      val docs = s.read.parquet(s"$d/documents.parquet")
      val stream = waveStream(s, docs.schema, docWavesDir(s, d))
      graft.pipeline.IncrementalDedup.build(docs.limit(0), sc.at("index"))
      val keptT = LakeTable.create(s, sc.at("kept"), Left(docs.schema))
      sc.drainWaves(StreamIngest.dedupIngestAvailable(
        stream, sc.at("index"), keptT, threshold = 0.5,
        "docs_dedup_ingest", sc.at("ckpt")))
      keptT.location
    }

  def streamDedupIngest(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, dedupIngestLoc(s, d)).read()
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** The streaming-ingested, near-dup-suppressed KEPT table (full doc
    * schema) — the head of the end-to-end pretrain chain
    * (`pipeline_pretrain` composes it with gate → budget → pack).
    */
  def dedupIngestKept(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, dedupIngestLoc(s, d)).read()

  /** Fill `waves` as a file-stream dir of ordered arrival waves: each
    * frame lands as one parquet file whose mtime pins its trigger order
    * (the file source batches by modification time — write-timing
    * alone is a race).
    */
  private def buildWavesDir(waves: Path, frames: Seq[DataFrame]): String = {
    frames.zipWithIndex.foreach { case (df, i) =>
      val dst = waves.resolve(s"wave-${i + 1}.parquet")
      EventStreams.writeParquetFile(df, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (frames.size - i) * 60000L))
    }
    waves.toString
  }

  /** The embeddings as the ANN doors' vector rows: (vec_id, embedding
    * as array<double>).
    */
  private def doubleVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))

  /** The shared SEED index (even-id half, deterministic fit, nlist=16)
    * persisted ONCE per JVM per dataset dir, plus its fit-time mean
    * squared assignment distance. Both ANN ingest scenarios start from
    * this exact index; rebuilding it inside each timed pass charged the
    * k-means fit + full-corpus assignment + parquet encode to the
    * STREAM rows every pass (r11: 6.8 s of `stream_ann_ingest`'s
    * 11.4 s was this setup — 2.07× its floor, the round's one weak
    * row), even though production amortizes an index build across days
    * of ingest. Scenario passes now [[copyTree]] the persisted files
    * into their fresh base instead — an [[RegistryState.input]], which
    * a reset keeps. Determinism makes the copy answer-identical
    * to a rebuild ([[graft.pipeline.Similarity.buildIvfDeterministic]]
    * is seeded md5 end-to-end), so every downstream hash is unchanged.
    */
  private def seedIvf(s: SparkSession, d: String): (String, Double) =
    RegistryState.input("seedIvf", d) { dir =>
      val seed = doubleVecs(s.read.parquet(s"$d/embeddings.parquet"))
        .filter(col("vec_id") % 2 === 0)
      val idx = Similarity.buildIvfDeterministic(
        seed, nlist = 16, maxTrainRows = 4096)
      val loc = dir.resolve("index").toString
      Similarity.persistIvf(idx, loc)
      val (_, fitMean) = Similarity.assignmentStats(seed, idx.centroids)
      (loc, fitMean)
    }

  /** Byte-copy a persisted lake table directory to a fresh location.
    * Manifest data-file paths are location-relative
    * ([[graft.lake.Writer]] records `data/<name>`), so the copied tree
    * IS the table at its new location — no Spark job, no re-encode, no
    * re-fit. This is how each timed scenario pass gets its own MUTABLE
    * copy of the shared seed index for a few MB of sequential I/O.
    */
  private def copyTree(src: String, dst: String): Unit = {
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    import scala.jdk.CollectionConverters._
    // walk() holds a directory fd until closed — never rely on GC
    val walk = java.nio.file.Files.walk(sp)
    try walk.sorted().iterator().asScala.foreach { p =>
      val t = dp.resolve(sp.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** The odd-id half of the embeddings corpus as two ordered arrival
    * waves (vec_id ≡ 1 mod 4, then ≡ 3 mod 4) — setup for the ANN
    * ingest stream; the even half seeds the initial index build.
    */
  private def vecWavesDir(s: SparkSession, d: String): String =
    RegistryState.input("vecWaves", d) { dir =>
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      buildWavesDir(dir, Seq(
        emb.filter(col("vec_id") % 4 === 1),
        emb.filter(col("vec_id") % 4 === 3)))
    }

  /** Continuous VECTOR indexing: the even-id half of the embeddings
    * corpus seeds an IVF index (centroids fit once, fixed seed); the
    * odd half then arrives as two micro-batch waves, each assigned to
    * its nearest existing centroid and appended to the cell-partitioned
    * index table with a batch stamp
    * ([[graft.streaming.StreamIngest.annIngestAvailable]]). The
    * driver-visible observables: every source vector indexed EXACTLY
    * once (set equality + multiplicity, computed in-scenario from the
    * index table), and probe recall@10 ≥ 50 % against exact brute force
    * — the same deterministic-bar shape as `sim_topk_ivf_recall`, now
    * over an index whose second half never saw the quantizer fit.
    * The scenario is shared by the ingest row and the drift report row.
    */
  private def annIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_ann_ingest", d) { sc =>
      val raw = s.read.parquet(s"$d/embeddings.parquet")
      val idxLoc = sc.at("index")
      copyTree(seedIvf(s, d)._1, idxLoc)
      val stream = doubleVecs(waveStream(s, raw.schema, vecWavesDir(s, d)))
      sc.drainWaves(StreamIngest.annIngestAvailable(
        stream, idxLoc, "vec_ann_ingest", sc.at("ckpt")))
      // exactly-once: index ids = source ids as a MULTISET (except is
      // set-based; the count equality catches duplicates)
      val t = Similarity.loadIvf(s, idxLoc).table.get
      val idxIds = t.read().select("vec_id")
      val srcIds = raw.select("vec_id")
      // four independent read-only actions (two counts, two excepts) —
      // overlap them (guide §2.6) instead of the short-circuit chain;
      // on the green path all four always ran anyway
      val ((nIdx, nSrc), (abEmpty, baEmpty)) = graft.SparkEnv.overlap(
        graft.SparkEnv.overlap(idxIds.count(), srcIds.count()),
        graft.SparkEnv.overlap(idxIds.except(srcIds).isEmpty,
          srcIds.except(idxIds).isEmpty))
      val exactlyOnce = nIdx == nSrc && abEmpty && baEmpty
      t.setProperties(Map("graft.test.ids_exact" -> exactlyOnce.toString))
      idxLoc
    }

  def streamAnnIngest(s: SparkSession, d: String): DataFrame = {
    val emb = doubleVecs(s.read.parquet(s"$d/embeddings.parquet"))
    val loc = annIngestLoc(s, d)
    val idx = Similarity.loadIvf(s, loc)
    val queries = emb.filter(col("vec_id") < 5)
    // exact-recall TRUTH (brute-force top-10 of the first five query
    // vectors over the full static corpus): an input — it depends only
    // on the source embeddings, never on the scenario's index, so
    // recomputing it per bench pass timed the oracle instead of the
    // door (the [[refitTruth]] stance)
    val exact = RegistryState.input("annTruth", d)(_ =>
      Similarity
        .bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "neighbor")
        .localCheckpoint(true))
    val approx = Similarity
      .ivfTopK(idx, queries, k = 10, nprobe = 4)
      .select("query_id", "neighbor")
    val hits = exact.join(approx, Seq("query_id", "neighbor"))
    idx.table.get.read()
      .agg(count(lit(1)).cast("long").as("n_vectors"))
      .crossJoin(exact.agg(count(lit(1)).as("_n_exact")))
      .crossJoin(hits.agg(count(lit(1)).as("_n_hits")))
      .select(col("n_vectors"),
        lit(idx.table.get.properties("graft.test.ids_exact").toBoolean)
          .as("ids_exact"),
        (col("_n_hits") * lit(2L) >= col("_n_exact")).as("recall_ge_05"))
  }

  /** Quantizer-drift report of the ANN ingest door: per committed
    * batch, the assignment-quality stats the door stamped into the
    * index snapshot (vector count + mean squared L2 distance to the
    * nearest FIXED centroid — [[graft.pipeline.Similarity
    * .assignmentStats]]), read back from the snapshot log. This is
    * the observable behind `refreshIvf`'s documented
    * re-fit-on-drift maintenance decision: a rising mean across
    * batches says the arriving distribution has walked away from the
    * fitted cells, and it is answerable from the index table alone.
    * Metadata-sized (one row per batch, driver-side snapshot list).
    * Oracle replays the deterministic seed fit (md5-seeded 2-round
    * Lloyd over the even half — the `sim_topk_ivf` CTE machinery) and
    * recomputes each wave's mean assignment distance, so drifting
    * bookkeeping hash-mismatches. Named to sort after
    * `stream_ann_ingest` so the shared scenario's cost stays on the
    * ingest row in the bench's sorted schedule.
    */
  def streamAnnReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val loc = annIngestLoc(s, d)
    import StreamIngest.{ledger, MeanSqDistKey, NVectorsKey}
    val t = Similarity.loadIvf(s, loc).table.get
    // metric keys via Option: a pre-metrics snapshot (an older index
    // read by this query) yields no report row instead of throwing
    val rows = ledger(t).filter(_.query == "vec_ann_ingest").flatMap { e =>
      for {
        n <- e.summary.get(NVectorsKey)
        m <- e.summary.get(MeanSqDistKey)
      } yield (e.batch, n.toLong, m.toDouble)
    }
    rows.toDF("batch_id", "n_vectors", "mean_sq_dist")
      .orderBy("batch_id")
  }

  /** The drift id-space base for the refit scenario: 30 M at every
    * standard SF (matching the oracle's literal `vec_id + 30000000`),
    * derived from the observed max id so a RE-KEYED scale fixture
    * (ScaleProbe offsets ids by k·100 M) keeps a correct drifted-vs-
    * seed discriminator instead of sweeping rekeyed seed vectors into
    * the "drifted" population.
    */
  private def refitDriftBase(s: SparkSession, d: String): Long = {
    val maxId = s.read.parquet(s"$d/embeddings.parquet")
      .agg(max(col("vec_id").cast("long"))).head().getLong(0)
    ((maxId / 30000000L) + 1L) * 30000000L
  }

  /** One refit drift wave: `src` re-keyed past `driftBase`, every
    * coordinate scaled ×5 and translated by `off`.
    */
  private def shifted(src: DataFrame, driftBase: Long, off: Double)
      : DataFrame =
    src.select((col("vec_id") + lit(driftBase)).as("vec_id"),
      transform(col("embedding"), x => x * lit(5.0) + lit(off))
        .as("embedding"))

  /** The refit scenario's two TRANSLATED drift waves plus their drift
    * id-space base (input-side setup, cached across passes like
    * [[vecWavesDir]] and pre-built by [[warmupDirs]] so pass 1 times
    * neither the parquet writes nor the base's max-id scan).
    *
    * Drift = scale ×5 + translate: WIDE (5× the fitted spread, so a
    * competent re-fit must spend many cells on it — a tight translated
    * blob would legitimately refit into one cell and leave nothing for
    * the probe-cost certificate to show) and FAR (+3 then +4 per
    * coordinate — the stamped mean jumps ~3 orders of magnitude over
    * the 2× trigger).
    */
  private def refitWavesDir(s: SparkSession, d: String): (String, Long) =
    RegistryState.input("refitWaves", d) { dir =>
      val emb = doubleVecs(s.read.parquet(s"$d/embeddings.parquet"))
      val driftBase = refitDriftBase(s, d)
      (buildWavesDir(dir, Seq(
        shifted(emb.filter(col("vec_id") % 4 === 1), driftBase, 3.0),
        shifted(emb.filter(col("vec_id") % 4 === 3), driftBase, 4.0))),
        driftBase)
    }

  /** The refit certificate's BRUTE-FORCE TRUTH (exact top-10 of the
    * drifted queries over seed ∪ both drift waves) plus the collected
    * query vectors, cached per dataset dir like [[seedIvf]] — oracle
    * INPUTS, not the operator under test: every scenario pass ingests
    * the identical deterministic corpus, so its truth table is
    * byte-identical and recomputing it per pass timed the CERTIFICATE,
    * not the refit door (the same argument that hoisted the seed index
    * build — production amortizes ground-truth eval sets across runs).
    * An [[RegistryState.input]], which a reset keeps.
    */
  private def refitTruth(s: SparkSession, d: String,
      corpus: => DataFrame, queries: DataFrame)
      : (DataFrame, Long, Array[Array[Double]]) =
    RegistryState.input("refitTruth", d) { _ =>
      val exact = Similarity
        .bruteForceTopK(corpus, queries, k = 10)
        .select(col("query_id"), col("neighbor"))
        .localCheckpoint(true)
      // the queries ride driver-side probe folds — ≤10 rows by the
      // id-cut contract
      val qLocal = queries.collect().map(_.getSeq[Double](1).toArray)
      (exact, exact.count(), qLocal)
    }

  /** The re-fit-on-drift loop END-TO-END, on a PLANTED drifted
    * distribution: the even-id half seeds a deterministic IVF (fit
    * baseline stamped), then two TRANSLATED waves of the odd half
    * (every coordinate +3.0, then +4.0 — the "new crawl shifted the
    * embedding distribution" case, rising across batches) arrive
    * through the [[graft.streaming.StreamIngest.annIngestAvailable]]
    * door. A stale quantizer fails twice on a translated cloud: every
    * arriving vector sits ~dim·offset² from its nearest fitted cell
    * (the stamped mean-sq-dist jumps orders of magnitude over the fit
    * baseline), and the whole shifted corpus crams into the few border
    * cells facing the shift (an nprobe=1 probe scans most of the new
    * data per query — the scale failure — and may or may not keep
    * recall; both readings are certified, not assumed).
    * [[graft.streaming.StreamIngest.refitIvfOnDrift]] then reads the
    * stamps, crosses the 2× baseline threshold, and rebuilds the
    * quantizer over the current table; the scenario certifies the
    * recovery (assignment mean drops back to data scale; nprobe=1
    * recall over drifted queries, pre vs post, against the SAME
    * brute-force truth) and replays the maintenance a second time to
    * pin idempotency (the covered-batch stamp makes it a no-op). All
    * drift arithmetic is deterministic doubles — no randomness.
    */
  private def annRefitLoc(s: SparkSession, d: String): String =
    scenario("stream_ann_refit", d) { sc =>
      val idxLoc = sc.at("index")
      val emb = doubleVecs(s.read.parquet(s"$d/embeddings.parquet"))
      // same shared seed index as the ingest scenario ([[seedIvf]]):
      // built+persisted once per JVM, byte-copied here so this pass's
      // re-fit mutates its own files
      val (seedLoc, fitMean) = seedIvf(s, d)
      copyTree(seedLoc, idxLoc)
      LakeTable.forLocation(s, idxLoc).setProperties(Map(
        StreamIngest.FitMeanSqKey -> fitMean.toString))
      val (wavesDir, driftBase) = refitWavesDir(s, d)
      val w1 = shifted(emb.filter(col("vec_id") % 4 === 1), driftBase, 3.0)
      val stream = waveStream(s, w1.schema, wavesDir)
      sc.drainWaves(StreamIngest.annIngestAvailable(
        stream, idxLoc, "vec_ann_refit", sc.at("ckpt")))
      // certificate truth inputs ([[refitTruth]]): brute-force top-10
      // over the table's contents (which the re-fit re-partitions but
      // never changes) — computed once per JVM per dataset dir; every
      // pass's ingested corpus is deterministic-identical
      val queries = w1.filter(col("vec_id") < lit(driftBase + 40L))
      val (exact, nExact, qLocal) = refitTruth(s, d,
        Similarity.loadIvf(s, idxLoc)
          .table.get.read().select(col("vec_id"), col("embedding"))
          .localCheckpoint(true),
        queries)
      def recall(index: Similarity.IvfIndex): Double = {
        val approx = Similarity
          .ivfTopK(index, queries, k = 10, nprobe = 4)
          .select(col("query_id"), col("neighbor"))
        exact.join(approx, Seq("query_id", "neighbor")).count()
          .toDouble / nExact
      }
      // probe COST over the post-drift distribution: the fraction of
      // DRIFTED vectors a query's nprobe=4 probe scans (ivfTopK's own
      // (dist, cell) probe rule). Pre-refit the shifted corpus crams
      // into the border cells facing the shift, so every probe scans
      // ~all of it — the degeneration the re-fit exists to undo.
      // Integer-exact: one division of summed counts (never an average
      // of per-query doubles), so the ANSI replay matches bit-for-bit.
      def scanFrac(index: Similarity.IvfIndex): Double = {
        val drifted = index.assignments
          .filter(col("vec_id") >= lit(driftBase))
          .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val total = drifted.values.sum
        val scanned = qLocal.map { q =>
          val probed = index.centroids.map { case (cell, c) =>
            var dsum = 0.0
            var i = 0
            while (i < q.length) {
              val dx = q(i) - c(i); dsum += dx * dx; i += 1
            }
            (dsum, cell)
          }.sortBy(identity).take(4)
          probed.map(p => drifted.getOrElse(p._2, 0L)).sum
        }.sum
        scanned.toDouble / (qLocal.length.toLong * total)
      }
      val idxPre = Similarity.loadIvf(s, idxLoc)
      // recall and scanFrac are independent read-only certificates over
      // the same frozen index — overlap each pre/post pair (guide §2.6)
      val (recallPre, scanPre) = graft.SparkEnv.overlap(
        recall(idxPre), scanFrac(idxPre))
      val (dec, postMean) = StreamIngest.refitIvfOnDrift(
        s, idxLoc, "vec_ann_refit", driftFactor = 2.0, nlist = 16)
      val idxPost = Similarity.loadIvf(s, idxLoc)
      val (recallPost, scanPost) = graft.SparkEnv.overlap(
        recall(idxPost), scanFrac(idxPost))
      val (dec2, _) = StreamIngest.refitIvfOnDrift(
        s, idxLoc, "vec_ann_refit", driftFactor = 2.0, nlist = 16)
      LakeTable.forLocation(s, idxLoc).setProperties(Map(
        "graft.test.refit_triggered" -> dec.refit.toString,
        "graft.test.pre_mean_sq" -> dec.lastMean.toString,
        "graft.test.fit_mean_sq" -> fitMean.toString,
        "graft.test.post_mean_sq" -> postMean.toString,
        "graft.test.recall_pre" -> recallPre.toString,
        "graft.test.recall_post" -> recallPost.toString,
        "graft.test.scan_frac_pre" -> scanPre.toString,
        "graft.test.scan_frac_post" -> scanPost.toString,
        "graft.test.refit_idempotent" -> (!dec2.refit).toString))
      idxLoc
    }

  /** The drift-maintenance certificate row (see [[annRefitLoc]]): one
    * row of deterministic scalars — the trigger fired; the re-fit cut
    * the assignment mean back to data scale (~50× under the drifted
    * reading); nprobe=4 recall over the post-drift distribution holds
    * the house 0.5 bar AFTER the re-fit; the PRE-refit probe had
    * degenerated to scanning ≥ 75 % of the drifted corpus per query
    * (the actual 100 TB failure mode of a stale quantizer — recall
    * "survives" drift only by paying a near-full scan, which is why
    * the stamped assignment mean, not recall, is the right re-fit
    * trigger); and a second maintenance run was a no-op. The post
    * scan fraction is reported as evidence, not gated: the cosine-
    * trained quantizer's cell count over the drifted mass varies with
    * fixture geometry, while the mean and recall recoveries do not.
    *
    * Oracle stance: the means, scan fractions, and their comparison
    * booleans REPLAY in SQL (both Lloyd fits are the md5-seeded
    * deterministic machinery the sim_topk_ivf / stream_ann_report
    * oracles already replay; the drift arithmetic is pure IEEE; scan
    * fractions are one division of summed integer counts). The recall
    * bool and the idempotency bool are in-scenario certificates the
    * oracle pins as constants — the [[streamAnnIngest]] precedent:
    * recall replay would hinge on unrounded-cosine tie order across
    * engines, and commit-replay semantics are lake-layer state DuckDB
    * cannot see.
    */
  def streamAnnRefit(s: SparkSession, d: String): DataFrame = {
    val loc = annRefitLoc(s, d)
    val t = LakeTable.forLocation(s, loc)
    def p(k: String) = t.properties("graft.test." + k)
    s.range(1).select(
      lit(p("refit_triggered").toBoolean).as("refit_triggered"),
      round(lit(p("fit_mean_sq").toDouble), 6).as("fit_mean_sq"),
      round(lit(p("pre_mean_sq").toDouble), 6).as("pre_mean_sq"),
      round(lit(p("post_mean_sq").toDouble), 6).as("post_mean_sq"),
      lit(p("post_mean_sq").toDouble < p("pre_mean_sq").toDouble)
        .as("mean_recovered"),
      lit(p("recall_post").toDouble >= 0.5).as("recall_post_ge_05"),
      round(lit(p("scan_frac_pre").toDouble), 6).as("scan_frac_pre"),
      lit(p("scan_frac_pre").toDouble >= 0.75).as("probe_degenerate_pre"),
      round(lit(p("scan_frac_post").toDouble), 6).as("scan_frac_post"),
      lit(p("refit_idempotent").toBoolean).as("refit_idempotent"))
  }

  /** A jittered near-twin of each embedding (the `dedup_semantic`
    * planted-pair idiom: cosine ≈ 0.999 at step 0.01) — FLOAT
    * arithmetic end-to-end so the oracle replays the jitter
    * bit-for-bit.
    */
  private def twin(emb: DataFrame, idOffset: Long, step: Float): DataFrame =
    emb.select((col("vec_id") + lit(idOffset)).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x * (lit(1.0f) + pmod(i, lit(5)).cast("float") * lit(step)))
        .as("embedding"))

  /** Arrival waves for the semantic-dedup ingest: wave 1 = the odd-id
    * originals (novel — admitted) plus twins of the SEEDED even half
    * (dominated by the index state); wave 2 = two jitter generations
    * of the odd half (dominated by wave 1's admissions — the
    * cross-batch rule — or, where a twin pair lands in a cell away
    * from its original, by the smaller-id batch-mate rule).
    */
  private def semWavesDir(s: SparkSession, d: String): String =
    RegistryState.input("semWaves", d) { dir =>
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val w1 = emb.filter(col("vec_id") % 2 === 1)
        .unionByName(twin(emb.filter(col("vec_id") % 2 === 0),
          10000000L, 0.01f))
      val w2 = twin(emb.filter(col("vec_id") % 2 === 1), 10000000L, 0.01f)
        .unionByName(twin(emb.filter(col("vec_id") % 2 === 1),
          20000000L, 0.02f))
      buildWavesDir(dir, Seq(w1, w2))
    }

  /** Streaming SEMANTIC dedup at ingest — the cosine mirror of
    * [[streamDedupIngest]]'s syntactic suppression: the even-id half
    * seeds a deterministic IVF index (fit is oracle-replayable —
    * [[graft.pipeline.Similarity.buildIvfDeterministic]]); the waves
    * then stream through
    * [[graft.streaming.StreamIngest.semanticDedupIngestAvailable]],
    * each batch assigned to existing cells and admitted only if no
    * already-admitted same-cell vector (seed or earlier batch) nor a
    * smaller-id same-cell batch-mate dominates it at rounded cosine
    * ≥ 0.98. The oracle replays the ENTIRE flow — md5-seeded 2-round
    * Lloyd fit, L2 cell assignment, and the greedy wave dominance — so
    * the quantizer, the geometry, the keep-first policy, and the
    * index-state round-trip are all hash-checked.
    */
  def streamSemanticDedup(s: SparkSession, d: String): DataFrame = {
    val loc = scenario("stream_semantic_dedup", d) { sc =>
      val raw = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val idxLoc = sc.at("index")
      Similarity.persistIvf(Similarity.buildIvfDeterministic(
        doubleVecs(raw).filter(col("vec_id") % 2 === 0),
        nlist = 16, iters = 2), idxLoc)
      val keptT = LakeTable.create(s, sc.at("kept"),
        Left(Similarity.loadIvf(s, idxLoc).table.get.read().schema))
      val stream =
        doubleVecs(waveStream(s, raw.schema, semWavesDir(s, d)))
      sc.drainWaves(StreamIngest.semanticDedupIngestAvailable(
        stream, idxLoc, keptT, cosineThreshold = 0.98,
        "vec_sem_dedup", sc.at("ckpt")))
      keptT.location
    }
    LakeTable.forLocation(s, loc).read()
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  /** Token-budget admission ACROSS micro-batches: the document waves
    * stream through a scoring select into
    * [[graft.streaming.StreamIngest.budgetIngestAvailable]] — wave 2
    * admits best-first into whatever per-lang budget wave 1 left, with
    * the running totals folded from commit summaries (metadata, atomic
    * with each batch's rows). Oracle = the two-phase greedy in SQL:
    * wave-1 cumsum ≤ B, then wave-2 cumsum ≤ B − wave-1's admitted
    * tokens, per lang.
    */
  def streamTokenBudget(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, budgetIngestLoc(s, d)).read()
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("quality_score"))
      .orderBy("doc_id")

  /** The token-budget scenario's budget — ONE definition shared by
    * the ingest door and the ledger report's remaining_tokens column
    * (a drifted copy would make the ledger silently report against a
    * stale budget while its deltas stayed correct).
    */
  private val BudgetScenarioTokens = 5000L

  private def budgetIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_token_budget", d) { sc =>
      def score(df: DataFrame): DataFrame =
        graft.pipeline.TextAnalysis.qualityScore(df)
          .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("quality_score"))
      val docs = s.read.parquet(s"$d/documents.parquet")
      val keptT = LakeTable.create(s, sc.at("kept"),
        Left(score(docs).schema))
      val stream = waveStream(s, docs.schema, docWavesDir(s, d))
      sc.drainWaves(StreamIngest.budgetIngestAvailable(
        score(stream), keptT, budgetTokens = BudgetScenarioTokens,
        "docs_budget", sc.at("ckpt")))
      keptT.location
    }

  /** The cross-batch token-budget LEDGER read back from the kept
    * table's commit summaries — one row per (batch, stratum) admitted
    * delta with the running total and the budget remaining after the
    * batch. This is the audit view of [[StreamIngest.budgetIngestAvailable]]'s
    * [[StreamIngest.BudgetDelta]] stamps: the deltas commit ATOMICALLY
    * with their batch's rows, so this report replays the admission
    * accounting from the table alone — metadata-only (a driver-side
    * snapshot-list fold), no corpus read. Named with the ingest row's
    * name as a PREFIX so it sorts AFTER stream_token_budget in the
    * bench's sorted schedule and the shared scenario's cost stays
    * attributed to the ingest row (the r10 artifact caught the first
    * name, stream_budget_report, sorting BEFORE it: the report paid
    * the 6.3 s scenario build and the ingest row became a 0.15 s
    * hot-cache read — exactly the r8 mis-attribution hazard the
    * stream-first bench ordering exists to prevent).
    */
  def streamBudgetReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StreamIngest.{ledger, parseDelta, BudgetDelta}
    val t = LakeTable.forLocation(s, budgetIngestLoc(s, d))
    val rows = ledger(t).filter(_.query == "docs_budget").flatMap { e =>
      e.summary.get(BudgetDelta).toSeq.flatMap(dl =>
        parseDelta(dl).toSeq.map { case (k, v) => (e.batch, k, v) })
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("batch_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    rows.toDF("batch_id", "lang", "admitted_tokens")
      .withColumn("cum_tokens", sum(col("admitted_tokens")).over(w))
      .withColumn("remaining_tokens",
        lit(BudgetScenarioTokens) - col("cum_tokens"))
      .orderBy("batch_id", "lang")
  }

  /** Vocabulary-growth scenario: the documents corpus arrives as the
    * shared two-wave file stream (even doc ids, then odd) and each
    * micro-batch's KMV gram sketch merges into the persisted corpus
    * sketch ([[StreamIngest.vocabSketchIngestAvailable]]). The sketch
    * table location is the scenario product; both vocab rows read it.
    */
  private def vocabIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_vocab_growth", d) { sc =>
      import s.implicits._
      val docs = s.read.parquet(s"$d/documents.parquet")
      val skT = LakeTable.create(s, sc.at("sketch"),
        Left(Seq.empty[(Long, Long)].toDF("batch_id", "h").schema))
      val stream = waveStream(s, docs.schema, docWavesDir(s, d))
      sc.drainWaves(StreamIngest.vocabSketchIngestAvailable(
        stream, skT, k = 256, "docs_vocab", sc.at("ckpt")))
      skT.location
    }

  /** The append-only cumulative sketch table itself: batch 0's rows are
    * the KMV sketch of the first wave, batch 1's the sketch of BOTH
    * waves — because a KMV merge (union + re-truncate) of the running
    * sketch with a new batch equals the sketch of the full union, the
    * property the oracle replays by sketching each prefix of the wave
    * order directly.
    */
  def streamVocabGrowth(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, vocabIngestLoc(s, d)).read()
      .orderBy("batch_id", "h")

  /** The vocabulary-saturation LEDGER read back from the sketch
    * table's commit summaries ([[StreamIngest.VocabEstKey]] stamps,
    * committed atomically with each batch's sketch rows): one row per
    * batch with the post-merge fill, k-th-min hash, and cumulative
    * distinct-3-shingle estimate. Metadata-only (a driver-side
    * snapshot-list fold), no corpus read — the "new crawl stopped
    * adding novelty" signal is est_distinct flattening across batches.
    * Named with the ingest row's name as a PREFIX so it sorts after
    * stream_vocab_growth in the bench's schedule (the token-budget
    * report's attribution stance).
    */
  def streamVocabReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StreamIngest.{ledger, VocabEstKey}
    val t = LakeTable.forLocation(s, vocabIngestLoc(s, d))
    val rows = ledger(t).filter(_.query == "docs_vocab").flatMap { e =>
      e.summary.get(VocabEstKey).map { v =>
        val parts = v.split(":")
        (e.batch, parts(0).toInt, parts(1).toLong, parts(2).toLong)
      }
    }
    rows.toDF("batch_id", "k_used", "kth_min", "est_distinct")
      .orderBy("batch_id")
  }

  /** Frequency-monitor scenario: the shared two-wave document stream
    * through [[StreamIngest.freqSketchIngestAvailable]] — each
    * micro-batch's 4×1024 count-min grid appends to the grid table
    * with the probe-mass ledger stamped per commit. Probes = the
    * corpus's exact top-5 words (computed once at scenario build,
    * deterministic, replayable in SQL). The grid table location is
    * the scenario product; both freq rows read it.
    */
  private def freqIngestLoc(s: SparkSession, d: String): String =
    scenario("stream_freq_sketch", d) { sc =>
      import s.implicits._
      val docs = s.read.parquet(s"$d/documents.parquet")
      val probes = docs.select(
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .groupBy("w").count()
        .orderBy(col("count").desc, col("w")).limit(5)
        .collect().map(_.getString(0)).toSeq
      val gridT = LakeTable.create(s, sc.at("grid"),
        Left(Seq.empty[(Long, Long, Long)]
          .toDF("batch_id", "cell", "cnt").schema))
      val stream = waveStream(s, docs.schema, docWavesDir(s, d))
      sc.drainWaves(StreamIngest.freqSketchIngestAvailable(
        stream, gridT, depth = 4, width = 1024, probes,
        "docs_freq", sc.at("ckpt")))
      gridT.location
    }

  /** The append-only per-batch grid table: batch 0's rows are the
    * count-min grid of the first wave, batch 1's of the second — the
    * cumulative corpus grid is `groupBy(cell).sum` because CMS merge
    * is counter addition, the property the oracle replays by building
    * each wave's grid directly.
    */
  def streamFreqSketch(s: SparkSession, d: String): DataFrame =
    LakeTable.forLocation(s, freqIngestLoc(s, d)).read()
      .orderBy("batch_id", "cell")

  /** The boilerplate-mass LEDGER read back from the grid table's
    * commit summaries ([[StreamIngest.FreqMassKey]], committed
    * atomically with each batch's grid rows): one row per batch with
    * the batch token count, the probe set's CMS mass in the batch,
    * and its mass in the cumulative grid. Metadata-only — probe share
    * drifting across batches is the boilerplate-surge alert. Named
    * with the ingest row's name as a PREFIX so it sorts after
    * stream_freq_sketch in the bench's schedule (the token-budget
    * report's attribution stance).
    */
  def streamFreqReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StreamIngest.{ledger, FreqMassKey}
    val t = LakeTable.forLocation(s, freqIngestLoc(s, d))
    val rows = ledger(t).filter(_.query == "docs_freq").flatMap { e =>
      e.summary.get(FreqMassKey).map { v =>
        val parts = v.split(":")
        (e.batch, parts(0).toLong, parts(1).toLong, parts(2).toLong)
      }
    }
    rows.toDF("batch_id", "batch_tokens", "probe_mass",
        "cum_probe_mass")
      .orderBy("batch_id")
  }

  /** Stream-static enrichment join: the event stream joined to a STATIC
    * dimension (customer) — no state store at all (the static side is
    * re-planned per micro-batch; broadcast keeps the stream side from
    * shuffling). The standard "attach dimensions on ingest" shape.
    */
  def streamEnrich(s: SparkSession, d: String): DataFrame = {
    val dims = broadcast(s.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("mktsegment")))
    val events = EventStreams.readEvents(s, eventsDir(d))
    memoryStream(s, d, "stream_enrich", "append",
      events.join(dims, Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("mktsegment"),
          round(col("value"), 4).as("value")))
      .orderBy("event_id")
  }

  /** Stream-stream interval join (views ⋈ same-user clicks within 4 h),
    * both sides watermarked, state evicted by the time-range bound.
    * Inner join: every match is emitted once regardless of watermark
    * progress, so the completed stream equals the batch interval join —
    * the DuckDB oracle.
    */
  def streamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val events = EventStreams.readEvents(s, eventsDir(d))
    val joined = EventStreams.intervalJoin(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "click"))
    withStatePartitions(s, 8) {
      memoryStream(s, d, "stream_interval_join", "append", joined)
    }.orderBy("user_id", "view_id", "click_id")
  }

  /** Events + a far-future sentinel VIEW and CLICK (distinct negative
    * users, so they can't join each other): the sentinels push both
    * streams' final watermarks past every view's join window, which is
    * what makes the OUTER join emit its null-padded rows — an unmatched
    * left row is only released once the watermark proves no match can
    * still arrive.
    */
  private def ijoinStreamDir(s: SparkSession, d: String): String =
    RegistryState.input("ijoinDir", d)(dir =>
      EventStreams.streamDirWithSentinel(s, s"$d/events.parquet", dir)(maxUs => {
        import s.implicits._
        Seq((-1L, maxUs + 86400L * 1000000L, -1L, "view", 0.0,
            null.asInstanceOf[String]),
          (-2L, maxUs + 86400L * 1000000L, -2L, "click", 0.0,
            null.asInstanceOf[String]))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      }))

  /** LEFT OUTER stream-stream interval join: views with no click inside
    * the window must still appear, null-padded — which streaming can
    * only emit after the watermark passes `view_time + window` (state
    * bounded the same way as the inner join; the sentinel advances the
    * final watermark so end-of-stream flushes every pending view).
    * Oracled against the batch LEFT JOIN.
    */
  def streamIntervalJoinOuter(s: SparkSession, d: String): DataFrame = {
    val events = EventStreams.readEvents(s, ijoinStreamDir(s, d))
    val joined = EventStreams.intervalJoin(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "click"),
      joinType = "left_outer")
    withStatePartitions(s, 8) {
      memoryStream(s, d, "stream_interval_join_outer", "append", joined)
    }
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "view_id", "click_id")
  }

  /** Pre-build the stream-dir scenarios (sentinel max-scans + parquet
    * writes + symlink dirs) outside any timed region — the streaming
    * analog of Bench's batch warmup absorbing lake scenario builds:
    * a timed streaming pass should measure STREAM execution, not the
    * one-time batch setup that feeds it. Idempotent (registry inputs);
    * the streams themselves stay cold.
    */
  def warmupDirs(s: SparkSession, d: String): Unit = {
    eventsDir(d)
    sentinelStreamDir(s, d, SessionPastEndMs)
    sentinelStreamDir(s, d, FunnelWindowMs + SessionPastEndMs)
    dedupStreamDir(d)
    ijoinStreamDir(s, d)
    docWavesDir(s, d)
    semWavesDir(s, d)
    vecWavesDir(s, d)
    refitWavesDir(s, d)
    seedIvf(s, d)
  }

  /** One quantizer's probe-scan fraction in the `stream_ann_refit`
    * oracle (`drift`, `q` and `nq` in scope): the drifted vectors' L2
    * cell layout (`d<tag>`), its cell sizes, and the share of layout
    * rows the 4-nearest-cell probes of `q` scan (`f<tag>`). Written
    * once for the fitted (`c2`, tag `pre`) and refit (`rc2`, tag
    * `post`) centroid sets.
    */
  private def annProbeScan(tag: String, cents: String): String =
    s"""d$tag AS (SELECT vec_id, cell FROM
                   (SELECT d.vec_id, c.cell, row_number() OVER
                      (PARTITION BY d.vec_id ORDER BY
                        ${sqDist("d", "c")},
                        c.cell) AS rn
                    FROM drift d CROSS JOIN $cents c)
                  WHERE rn = 1),
         c$tag AS (SELECT cell, count(*) AS n FROM d$tag GROUP BY cell),
         t$tag AS (SELECT sum(n) AS t FROM c$tag),
         qp$tag AS (SELECT qid, cell FROM
                    (SELECT q.vec_id AS qid, c.cell, row_number() OVER
                       (PARTITION BY q.vec_id ORDER BY
                         ${sqDist("q", "c")},
                         c.cell) AS rn
                     FROM q CROSS JOIN $cents c)
                   WHERE rn <= 4),
         f$tag AS (SELECT sum(coalesce(c$tag.n, 0))::DOUBLE /
                    (nq.n * t$tag.t) AS f
                  FROM qp$tag LEFT JOIN c$tag USING (cell), nq, t$tag
                  GROUP BY nq.n, t$tag.t)"""

  val entries: Seq[Q] = Seq(
    // The COMPOSED funnel replayed: static verdicts (gate chain + nested
    // classifier oracle with its calibrated cut + benchmark gram overlap)
    // define the cleared set, then the dedup door's greedy wave replay
    // runs restricted to it -- earlier-wave admissions and smaller-id
    // batch-mates dominate, exactly the single-door semantics composed.
    Q("stream_curate_ingest", streamCurateIngest _,
      s"""$CurateReplayCtes
         $KeptWavesRows"""),
    // The same composed replay, refolded as per-wave admission COUNTS
    // (wave 1 = even ids, wave 2 = odd — docWavesDir's split): this is
    // the oracle for the summary metadata the door stamps on each
    // commit, so a drifting count in the door's bookkeeping (not just
    // its kept rows) hash-mismatches.
    Q("stream_curate_report", streamCurateReport _,
      (CurateReplayCtes + """
         SELECT CAST(0 AS BIGINT) AS batch_id,
                (SELECT count(*) FROM documents
                 WHERE doc_id % 2 = 0)::BIGINT AS docs_in,
                (SELECT count(*) FROM stat
                 WHERE doc_id % 2 = 0)::BIGINT AS statics_cleared,
                ((SELECT count(*) FROM stat WHERE doc_id % 2 = 0) -
                 (SELECT count(*) FROM kept1))::BIGINT AS dedup_suppressed,
                (SELECT count(*) FROM kept1)::BIGINT AS admitted
         UNION ALL
         SELECT CAST(1 AS BIGINT),
                (SELECT count(*) FROM documents
                 WHERE doc_id % 2 = 1)::BIGINT,
                (SELECT count(*) FROM stat
                 WHERE doc_id % 2 = 1)::BIGINT,
                ((SELECT count(*) FROM stat WHERE doc_id % 2 = 1) -
                 (SELECT count(*) FROM kept2))::BIGINT,
                (SELECT count(*) FROM kept2)::BIGINT
         ORDER BY batch_id""")),
    // Static model + offline-calibrated threshold, wave-independent
    // verdicts: the batch classifier scores with the sample-median cut
    // replayed (rounded scores both sides).
    Q("stream_classifier_gate", streamClassifierGate _,
      ("WITH " + NbCutCtes + """
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN nb USING (doc_id) CROSS JOIN t
         WHERE nb.log_odds >= t.thr ORDER BY d.doc_id""")),
    // Per-document rule verdicts are wave-independent, so the door's
    // oracle is the batch gate's kept set — the shared CTE chain, with
    // the door's own projection.
    Q("stream_quality_gate", streamQualityGate _,
      (QualityGateCtes + """
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN v USING (doc_id)
         WHERE len(v.hit) = 0 ORDER BY d.doc_id""")),
    // The door's verdicts are wave-independent (static benchmark), so
    // the oracle is the plain batch decontamination filter: train-side
    // docs minus those sharing any 8-gram with the bucket>=90 slice.
    Q("stream_decontaminate_ingest", streamDecontaminateIngest _,
      s"""WITH ${bucketWords("s")},
         ${gram8Set("g", "s")},
         bench AS (SELECT DISTINCT gram FROM g WHERE bucket >= 90),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
                 WHERE g.bucket < 80)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN s USING (doc_id)
              LEFT JOIN bad ON bad.doc_id = d.doc_id
         WHERE s.bucket < 80 AND bad.doc_id IS NULL
         ORDER BY d.doc_id"""),
    // Deterministic properties of the streamed index: every source
    // vector indexed exactly once (multiset equality, computed
    // in-scenario), and probe recall@10 >= 50% vs exact brute force —
    // same bar shape as sim_topk_ivf_recall, with real margin on this
    // corpus even though the streamed half never saw the quantizer fit.
    Q("stream_ann_ingest", streamAnnIngest _,
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                CAST(1 AS BOOLEAN) AS ids_exact,
                CAST(1 AS BOOLEAN) AS recall_ge_05
         FROM embeddings"""),
    // The WHOLE re-fit-on-drift loop replayed: seed fit (md5-seeded
    // 2-round cosine-Lloyd on the even half), the ×5+shift drift
    // waves (pure IEEE arithmetic), the fit-time and last-batch
    // assignment means, the RE-FIT (the same Lloyd over seed+drift),
    // the post-refit mean, and both probe scan fractions (L2 cell
    // assignment + 4-nearest-cell probes, one division of summed
    // integer counts). The recall bool and the idempotency bool are
    // in-scenario certificates pinned as constants (the
    // stream_ann_ingest stance): recall replay would hinge on
    // unrounded-cosine tie order, and commit-replay semantics are
    // lake-layer state DuckDB cannot see.
    Q("stream_ann_refit", streamAnnRefit _,
      s"""WITH v AS MATERIALIZED (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sv AS MATERIALIZED (SELECT vec_id, v FROM v WHERE vec_id % 2 = 0),
         ${lloydCtes("", "sv", 16)},
         ${centroids("", mat = " MATERIALIZED")},
         fitm AS (SELECT round(avg(dd), 6) AS fit_mean FROM
                   (SELECT min(${sqDist("a", "c")}) AS dd
                    FROM sv a CROSS JOIN c2 c GROUP BY a.vec_id)),
         drift AS MATERIALIZED (
           SELECT vec_id + 30000000 AS vec_id,
                  list_transform(v, x -> x * 5.0 + 3.0) AS v, 1 AS wave
           FROM v WHERE vec_id % 4 = 1
           UNION ALL
           SELECT vec_id + 30000000,
                  list_transform(v, x -> x * 5.0 + 4.0), 2
           FROM v WHERE vec_id % 4 = 3),
         prem AS (SELECT round(avg(dd), 6) AS pre_mean FROM
                   (SELECT min(${sqDist("w", "c")}) AS dd
                    FROM (SELECT * FROM drift WHERE wave = 2) w
                    CROSS JOIN c2 c GROUP BY w.vec_id)),
         comb AS MATERIALIZED (
           SELECT vec_id, v FROM sv
           UNION ALL SELECT vec_id, v FROM drift),
         ${lloydCtes("r", "comb", 16)},
         ${centroids("r", mat = " MATERIALIZED")},
         postm AS (SELECT round(avg(dd), 6) AS post_mean FROM
                    (SELECT min(${sqDist("a", "c")}) AS dd
                     FROM comb a CROSS JOIN rc2 c GROUP BY a.vec_id)),
         q AS MATERIALIZED (SELECT vec_id, v FROM drift
                            WHERE wave = 1 AND vec_id < 30000040),
         nq AS (SELECT count(*) AS n FROM q),
         ${annProbeScan("pre", "c2")},
         ${annProbeScan("post", "rc2")}
         SELECT CAST(prem.pre_mean > 2.0 * fitm.fit_mean AS BOOLEAN)
                  AS refit_triggered,
                fitm.fit_mean AS fit_mean_sq,
                prem.pre_mean AS pre_mean_sq,
                postm.post_mean AS post_mean_sq,
                CAST(postm.post_mean < prem.pre_mean AS BOOLEAN)
                  AS mean_recovered,
                CAST(1 AS BOOLEAN) AS recall_post_ge_05,
                round(fpre.f, 6) AS scan_frac_pre,
                CAST(fpre.f >= 0.75 AS BOOLEAN) AS probe_degenerate_pre,
                round(fpost.f, 6) AS scan_frac_post,
                CAST(1 AS BOOLEAN) AS refit_idempotent
         FROM fitm, prem, postm, fpre, fpost"""),
    // The drift report's stats recomputed from scratch: the seed
    // quantizer fit replayed (md5-seeded 2-round cosine-Lloyd on the
    // even half — SeedIvfCtes, shared with stream_semantic_dedup), then each
    // wave's mean squared L2 distance to its nearest fitted centroid.
    // Wave 1 = vec_id ≡ 1 (mod 4), wave 2 = ≡ 3 (vecWavesDir's split).
    Q("stream_ann_report", streamAnnReport _,
      SeedIvfCtes + s""",
         waves AS (SELECT vec_id, v,
                          CASE WHEN vec_id % 4 = 1 THEN 0 ELSE 1 END
                            AS batch_id
                   FROM v WHERE vec_id % 2 = 1),
         d AS (SELECT w.batch_id, w.vec_id,
                      min(${sqDist("w", "c")})
                        AS dd
               FROM waves w CROSS JOIN c2 c
               GROUP BY w.batch_id, w.vec_id)
         SELECT CAST(batch_id AS BIGINT) AS batch_id,
                count(*)::BIGINT AS n_vectors,
                round(avg(dd), 6) AS mean_sq_dist
         FROM d GROUP BY batch_id ORDER BY batch_id"""),
    // The ENTIRE semantic-dedup ingest replayed: md5-seeded 2-round
    // cosine-Lloyd quantizer fit on the even half (the sim_topk_ivf
    // CTEs), float-jittered twins (the dedup_semantic CTE), L2 cell
    // assignment of seed state and both waves, then the greedy wave
    // dominance — dropped iff an admitted same-cell vector (seed or
    // wave-1 admission) or a smaller-id same-cell wave-mate sits at
    // rounded cosine >= 0.98.
    Q("stream_semantic_dedup", streamSemanticDedup _,
      SeedIvfCtes + s""",
         tw1 AS (SELECT vec_id + 10000000 AS vec_id,
                        ($TwinJitter)
                          ::DOUBLE[] AS v
                 FROM embeddings),
         tw2 AS (SELECT vec_id + 20000000 AS vec_id,
                        (list_transform(range(1, len(embedding) + 1),
                          i -> embedding[i] *
                            CAST(1.0 + ((i - 1) % 5) * 0.02 AS FLOAT)))
                          ::DOUBLE[] AS v
                 FROM embeddings WHERE vec_id % 2 = 1),
         w1 AS (SELECT vec_id, v FROM v WHERE vec_id % 2 = 1
                UNION ALL
                SELECT vec_id, v FROM tw1 WHERE vec_id % 2 = 0),
         w2 AS (SELECT vec_id, v FROM tw1 WHERE vec_id % 2 = 1
                UNION ALL
                SELECT vec_id, v FROM tw2),
         st0 AS (SELECT vec_id, v, cell FROM
                  (SELECT a.vec_id, a.v, c.cell,
                          row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY list_distance(a.v, c.v), c.cell) AS rn
                   FROM sv a CROSS JOIN c2 c) WHERE rn = 1),
         g1 AS (SELECT vec_id, v, cell FROM
                 (SELECT a.vec_id, a.v, c.cell,
                         row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY list_distance(a.v, c.v), c.cell) AS rn
                  FROM w1 a CROSS JOIN c2 c) WHERE rn = 1),
         g2 AS (SELECT vec_id, v, cell FROM
                 (SELECT a.vec_id, a.v, c.cell,
                         row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY list_distance(a.v, c.v), c.cell) AS rn
                  FROM w2 a CROSS JOIN c2 c) WHERE rn = 1),
         k1 AS (SELECT a.vec_id, a.v, a.cell FROM g1 a
                WHERE NOT EXISTS (SELECT 1 FROM st0 s
                        WHERE s.cell = a.cell
                          AND round(list_cosine_similarity(a.v, s.v), 6)
                              >= 0.98)
                  AND NOT EXISTS (SELECT 1 FROM g1 m
                        WHERE m.cell = a.cell AND m.vec_id < a.vec_id
                          AND round(list_cosine_similarity(a.v, m.v), 6)
                              >= 0.98)),
         st1 AS (SELECT vec_id, v, cell FROM st0
                 UNION ALL SELECT vec_id, v, cell FROM k1),
         k2 AS (SELECT a.vec_id, a.v, a.cell FROM g2 a
                WHERE NOT EXISTS (SELECT 1 FROM st1 s
                        WHERE s.cell = a.cell
                          AND round(list_cosine_similarity(a.v, s.v), 6)
                              >= 0.98)
                  AND NOT EXISTS (SELECT 1 FROM g2 m
                        WHERE m.cell = a.cell AND m.vec_id < a.vec_id
                          AND round(list_cosine_similarity(a.v, m.v), 6)
                              >= 0.98))
         SELECT vec_id, cell FROM k1
         UNION ALL SELECT vec_id, cell FROM k2
         ORDER BY vec_id"""),
    // every event arrives twice in the stream; the oracle is the plain
    // table — exactly-once or the row counts diverge
    Q("stream_dedup", streamDedup _,
      EventRows),
    // the whole stream must land in the lake table exactly once
    Q("stream_lake_ingest", streamLakeIngest _,
      EventRows),
    // the MV maintained from streamed commits = the full aggregate
    Q("stream_mview", streamMview _,
      """SELECT user_id, count(*) AS n_events,
                round(sum(value), 4) AS total
         FROM events GROUP BY user_id ORDER BY user_id"""),
    // upsert: every seeded stale row (-999) must be overwritten by the
    // stream, every unseeded row inserted, nothing duplicated — the
    // final table is exactly the plain events table
    Q("stream_lake_upsert", streamLakeUpsert _,
      EventRows),
    Q("stream_enrich", streamEnrich _,
      """SELECT event_id, e.user_id, c_mktsegment AS mktsegment,
                round(value, 4) AS value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY event_id"""),
    Q("stream_interval_join", streamIntervalJoin _,
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
         FROM events v JOIN events c
           ON v.user_id = c.user_id
          AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
         WHERE v.event_type = 'view' AND c.event_type = 'click'
         ORDER BY v.user_id, view_id, click_id"""),
    Q("stream_interval_join_outer", streamIntervalJoinOuter _,
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
         FROM (SELECT * FROM events WHERE event_type = 'view') v
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON v.user_id = c.user_id
          AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
         ORDER BY v.user_id, view_id, click_id"""),
    // the batch greedy-earliest funnel (see funnel_conversion),
    // reshaped to one row per completed step — the stream's append-mode
    // output format
    Q("stream_funnel", streamFunnel _,
      s"""$FunnelCtes
         SELECT user_id, CAST(1 AS INT) AS step, t1 AS step_time FROM s1
         UNION ALL
         SELECT user_id, CAST(2 AS INT), t2 FROM s2
         UNION ALL
         SELECT user_id, CAST(3 AS INT), t3 FROM s3
         ORDER BY user_id, step"""),
    // Two-phase greedy budget: wave-1 (even ids) cumsum <= 5000 per
    // lang over (quality desc, id), wave-2 continues into the remaining
    // budget — exactly what the commit-summary-folded streaming totals
    // must reproduce.
    Q("stream_token_budget", streamTokenBudget _,
      BudgetGreedyCtes + """
         SELECT doc_id, lang, n_tokens, quality_score FROM k1
         UNION ALL
         SELECT doc_id, lang, n_tokens, quality_score FROM k2
         ORDER BY doc_id"""),
    // The budget LEDGER refolded from the same two-wave greedy CTEs:
    // per-(batch, stratum) admitted-token deltas (wave 0 = batch 0),
    // running per-stratum totals, and the 5000-token budget remaining.
    Q("stream_token_budget_report", streamBudgetReport _,
      BudgetGreedyCtes + """,
         d AS (SELECT CAST(0 AS BIGINT) AS batch_id, lang,
                      CAST(sum(n_tokens) AS BIGINT) AS admitted_tokens
               FROM k1 GROUP BY lang
               UNION ALL
               SELECT CAST(1 AS BIGINT), lang,
                      CAST(sum(n_tokens) AS BIGINT)
               FROM k2 GROUP BY lang),
         c AS (SELECT *, CAST(sum(admitted_tokens) OVER
                 (PARTITION BY lang ORDER BY batch_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
               FROM d)
         SELECT batch_id, lang, admitted_tokens, cum_tokens,
                CAST(5000 - cum_tokens AS BIGINT) AS remaining_tokens
         FROM c ORDER BY batch_id, lang"""),
    // The cumulative KMV sketch replayed per wave prefix: merging the
    // running sketch with a batch equals sketching the union (the KMV
    // merge property PropertySpec fuzzes), so batch 0 = the 256
    // smallest distinct gram hashes of the even-id wave, batch 1 = of
    // the whole corpus. Same gram + h60 arithmetic as the batch KMV
    // rows.
    Q("stream_vocab_growth", streamVocabGrowth _,
      KmvPrefixCtes + """
         SELECT CAST(0 AS BIGINT) AS batch_id, h FROM b0
         UNION ALL
         SELECT CAST(1 AS BIGINT) AS batch_id, h FROM b1
         ORDER BY batch_id, h"""),
    // The saturation ledger refolded from the same per-prefix sketches:
    // fill, k-th-min hash, and the (k-1)*2^60/h_k estimate in the same
    // double arithmetic as the door's driver-side stamp.
    Q("stream_vocab_growth_report", streamVocabReport _,
      KmvPrefixCtes + s""",
         s0 AS (SELECT CAST(0 AS BIGINT) AS batch_id,
                       CAST(count(*) AS INT) AS k_used,
                       max(h) AS kth_min,
                       $KmvEstimate
                         AS est_distinct
                FROM b0),
         s1 AS (SELECT CAST(1 AS BIGINT) AS batch_id,
                       CAST(count(*) AS INT) AS k_used,
                       max(h) AS kth_min,
                       $KmvEstimate
                         AS est_distinct
                FROM b1)
         SELECT * FROM s0 UNION ALL SELECT * FROM s1
         ORDER BY batch_id"""),
    // Each wave's count-min grid replayed directly (even docs = batch
    // 0, odd = batch 1): the door appends exactly the per-batch grid,
    // so no prefix folding is needed here — addition is the READ-side
    // property, checked by the report row's cumulative column.
    Q("stream_freq_sketch", streamFreqSketch _,
      s"""WITH $BatchTokens,
         $CmsRows
         SELECT batch_id,
                CAST(d AS BIGINT) * 1024 +
                  ${cmsBucket("d", "word")}
                  AS cell,
                count(*) AS cnt
         FROM w CROSS JOIN hd
         GROUP BY 1, 2 ORDER BY batch_id, cell"""),
    // The mass ledger refolded: per-batch and cumulative (batches ≤ b,
    // counter ADDITION) grids probed at the corpus's exact top-5 words
    // with the door's absent-cell-is-zero semantics (LEFT JOIN +
    // coalesce), summed per batch.
    Q("stream_freq_sketch_report", streamFreqReport _,
      s"""WITH $BatchTokens,
         $TopWords5,
         $CmsRows,
         g AS (SELECT batch_id, d,
                      ${cmsBucket("d", "word")}
                        AS bkt,
                      count(*) AS cnt
               FROM w CROSS JOIN hd GROUP BY 1, 2, 3),
         bs AS (SELECT DISTINCT batch_id FROM g),
         pq AS (SELECT top.word, hd.d,
                       ${cmsBucket("hd.d", "top.word")} AS bkt
                FROM top CROSS JOIN hd),
         cg AS (SELECT bs.batch_id, g.d, g.bkt, sum(g.cnt) AS cnt
                FROM bs JOIN g ON g.batch_id <= bs.batch_id
                GROUP BY 1, 2, 3),
         bm AS (SELECT bs.batch_id, pq.word,
                       min(coalesce(g.cnt, 0)) AS est
                FROM bs CROSS JOIN pq
                LEFT JOIN g ON g.batch_id = bs.batch_id
                  AND g.d = pq.d AND g.bkt = pq.bkt
                GROUP BY 1, 2),
         cm AS (SELECT bs.batch_id, pq.word,
                       min(coalesce(cg.cnt, 0)) AS est
                FROM bs CROSS JOIN pq
                LEFT JOIN cg ON cg.batch_id = bs.batch_id
                  AND cg.d = pq.d AND cg.bkt = pq.bkt
                GROUP BY 1, 2),
         bt AS (SELECT batch_id, count(*) AS batch_tokens FROM w
                GROUP BY 1)
         SELECT bt.batch_id, bt.batch_tokens,
                CAST((SELECT sum(est) FROM bm
                      WHERE bm.batch_id = bt.batch_id) AS BIGINT)
                  AS probe_mass,
                CAST((SELECT sum(est) FROM cm
                      WHERE cm.batch_id = bt.batch_id) AS BIGINT)
                  AS cum_probe_mass
         FROM bt ORDER BY batch_id"""),
    // The ingest-dedup waves replayed with exact all-pairs Jaccard (the
    // same 3-word-shingle sets as the dedup_* oracles): kept = docs not
    // matching an admitted earlier-wave doc nor a smaller-id wave-mate.
    Q("stream_dedup_ingest", streamDedupIngest _,
      s"""WITH ${shingleCtes("sh")},
         $WavePairs,
         ${twoWaveKept("documents", "d")}
         $KeptWavesRows"""),
    Q("stream_hourly_counts", streamHourly _,
      EventsHourlyOracle),
    // 10-minute-gap sessionization as batch gaps-and-islands SQL — the
    // sentinel-flushed stream emits every session, so the incremental
    // stateful path is held to the exact batch answer.
    Q("stream_sessions", streamSessions _,
      s"""${sessionCtes(", value", ">")}
         SELECT user_id, min(t) AS session_start, max(t) AS session_end,
                CAST(count(*) AS INT) AS n_events,
                round(sum(value), 4) AS sum_value
         FROM g GROUP BY user_id, grp ORDER BY user_id, session_start"""))
}
