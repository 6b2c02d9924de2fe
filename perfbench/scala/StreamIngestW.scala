package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.pipeline.{Dedup, IncrementalDedup, Packing, Sampling, TextAnalysis}
import graft.streaming.StreamIngest

/** `stream_ingest`: one operation publishes the next generated wave file
  * into the stream's source directory and drains it through the composed
  * door (`StreamIngest.curateIngestAvailable`: decontamination, quality
  * gate, classifier, LSH index probe and append, kept-table append),
  * then reads the kept table to see the commit, and reads it again after
  * the operation for a steadier read median. Every third wave the
  * kept table is compacted and its snapshots expired, between two
  * stateful micro-batches.
  *
  * The static artifacts (benchmark n-gram set, classifier weights and
  * prior, threshold) are built in set-up the way the registry's
  * `stream_curate_ingest` scenario builds them from its corpus: the
  * classifier trains on the first `RefDocs` documents, and the benchmark
  * is every document of the corpus in `Sampling.bucketCol` 90 or more.
  */
final class StreamIngestW(run: Runner, input: Path) extends Workload {
  private val spark = run.spark
  val timedSteps = 0
  private val QueryName = "bench_curate_ingest"
  private val MaintEvery = 3
  /** Reads of the kept table after each commit; the first is part of the
    * wave's latency, and `read_ms` is the median of all of them. One
    * read of about 170 ms per wave gave medians that moved by a fifth
    * from run to run. */
  private val ReadsPerWave = 5
  private val WarmupWaves = 2
  private val RefDocs = 5000L
  private val DedupThreshold = 0.5
  private var base: Path = _
  private var bench: DataFrame = _
  private var weights: DataFrame = _
  private var prior: DataFrame = _
  private var threshold = 0.0
  private var kept: LakeTable = _
  private var probe: LakeProbe = _
  private var stream: DataFrame = _
  private var nextWave = 0
  private val admitted = ArrayBuffer[Long]()

  private def corpus = spark.read.parquet(input.resolve("waves").toString)

  private def artifacts(): Unit = {
    val ref = corpus.filter(col("doc_id") < RefDocs)
    val benchLazy = corpus
      .filter(Sampling.bucketCol(col("doc_id")) >= 90)
      .select(explode(graft.functions.ShingleExpressions.hashedShingles(
        trim(lower(col("text"))), 8)).as("_gram"))
      .distinct()
    val (w, p) = TextAnalysis.nbTrain(ref, col("source").isin("src0", "src1"))
    val (b, (wt, pr)) = graft.SparkEnv.overlap(benchLazy.localCheckpoint(true),
      graft.SparkEnv.overlap(w.localCheckpoint(), p.localCheckpoint()))
    bench = b; weights = wt; prior = pr
    val xs = TextAnalysis.nbScore(ref, weights, prior)
      .filter(col("doc_id") % 10 === 0).orderBy("doc_id").limit(1000)
      .select(col("log_odds")).collect().map(_.getDouble(0)).sortBy(x => -x)
    threshold = xs((xs.length + 1) / 2 - 1)
  }

  /** A fresh kept table, LSH index and checkpoint under `dir`, fed from
    * `dir/waves`; `perTrigger` caps the files per micro-batch. */
  private def door(dir: Path, perTrigger: Option[Int]): (LakeTable, DataFrame) = {
    val schema = corpus.schema
    IncrementalDedup.build(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      dir.resolve("index").toString)
    val t = LakeTable.create(spark, dir.resolve("kept").toString, Left(schema))
    Files.createDirectories(dir.resolve("waves"))
    val reader = spark.readStream.schema(schema)
    val s = perTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(dir.resolve("waves").toString)
    (t, s)
  }

  private def drain(dir: Path, t: LakeTable, s: DataFrame): Long =
    StreamIngest.curateIngestAvailable(s, bench, weights, prior, threshold,
      benchK = 8, dir.resolve("index").toString, t, DedupThreshold,
      QueryName, dir.resolve("ckpt").toString)

  def setup(): Unit = {
    base = run.work.resolve("stream")
    artifacts()
    val (t, s) = door(base, Some(1))
    kept = t; stream = s
    probe = new LakeProbe(run, kept.location)
  }

  def warmup(): Unit = (0 until WarmupWaves).foreach(_ => wave())

  def step(): Boolean = {
    if (nextWave % MaintEvery == 0) {
      run.op("maint", 0.0) {
        val ms = run.ms(run.trace.timed("stream.maint") {
          kept.optimize()
          kept.expireSnapshots(0L)
        })
        Map("maint_ms" -> ms)
      }
      run.annotate(probe.sample())
    }
    if (run.trace.on) pipelineProbe(nextWave)
    val rec = run.op("wave", 0.0)(wave())
    val reads = rec("read_ms").asInstanceOf[Double] +:
      (1 until ReadsPerWave).map(_ => run.ms(kept.read().count()))
    run.annotate(Map("units" -> rec("docs_in").toString.toDouble,
      "read_ms" -> reads.sorted.apply(reads.size / 2)) ++ probe.sample())
    Files.exists(input.resolve("waves").resolve(waveName(nextWave)))
  }

  private def waveName(k: Int) = f"w$k%05d.parquet"

  /** Publish wave `nextWave`, drain it, read the kept table back. */
  private def wave(): Map[String, Any] = {
    val k = nextWave
    nextWave += 1
    val name = waveName(k)
    val waves = base.resolve("waves")
    val w0 = System.nanoTime()
    // hidden temp name, then an atomic rename: the file source never
    // lists a half-copied wave
    val tmp = waves.resolve(s".$name.tmp")
    Files.copy(input.resolve("waves").resolve(name), tmp)
    Files.move(tmp, waves.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    val committed = run.trace.timed("stream.door")(drain(base, kept, stream))
    val writeMs = (System.nanoTime() - w0) / 1e6
    val r0 = System.nanoTime()
    val head = kept.meta.currentSnapshot.get
    val rows = run.trace.timed("lake.read")(kept.read().count())
    val readMs = (System.nanoTime() - r0) / 1e6
    val adm = head.summary(StreamIngest.AdmittedKey).toLong
    admitted += adm
    Map("write_ms" -> writeMs, "read_ms" -> readMs, "committed" -> committed,
      "docs_in" -> head.summary(StreamIngest.DocsInKey).toLong,
      "admitted" -> adm, "kept_rows" -> rows)
  }

  /** Traced phase only, outside the operation timer: the `graft.pipeline`
    * kernels over wave `k` before it is published, each materialized on
    * its own. First the door's kernels (quality gate, classifier, LSH
    * sketch, and the probe of the index the door is about to probe), then
    * the batch dedup chain over the same documents (MinHash LSH, connected
    * components, keep-best, temperature mix, packing). */
  private def pipelineProbe(k: Int): Unit = run.trace.span("pipeline.probe") { a =>
    val t = run.trace
    val docs = spark.read.parquet(input.resolve("waves").resolve(waveName(k)).toString)
    val n = docs.count().toDouble
    val scored = t.timed("pipeline.quality")(TextAnalysis.qualityFlagged(docs).localCheckpoint())
    t.timed("pipeline.classify")(TextAnalysis.nbScore(docs, weights, prior).localCheckpoint())
    val idx = IncrementalDedup.load(spark, base.resolve("index").toString)
    val (bands, toks) = t.timed("pipeline.sketch") {
      val (b, tk) = IncrementalDedup.sketch(idx, docs)
      (b.localCheckpoint(), tk.localCheckpoint())
    }
    a("index_pairs") = t.timed("pipeline.index_probe")(
      IncrementalDedup.nearDupPairsSketched(idx, bands, toks, DedupThreshold).count()).toDouble
    val pairs = t.timed("pipeline.lsh")(Dedup.minhashLsh(scored).localCheckpoint())
    val comps = t.timed("pipeline.components")(Dedup.components(pairs).localCheckpoint())
    val best = t.timed("pipeline.keep_best")(Dedup.dropDuplicatesByPairs(scored, pairs,
      keepBest = Some("quality_score")).localCheckpoint())
    val mixed = t.timed("pipeline.mix")(Sampling.temperatureSample(best).localCheckpoint())
    t.timed("pipeline.pack")(Packing.packCounts(mixed,
      size(split(trim(col("text")), "\\s+")).cast("long")).count())
    a("dup_pairs") = pairs.count().toDouble
    a("clusters") = comps.select("component").distinct().count().toDouble
    a("keep_ratio") = best.count() / n
  }

  def finish(): Map[String, Any] = {
    val ids = kept.read().select("doc_id").collect().map(_.getLong(0))
    val indexRows = LakeTable.forLocation(spark,
      base.resolve("index").resolve("tokens").toString).read().count()
    // the same waves replayed as one micro-batch into fresh state
    val replayDir = run.work.resolve("replay")
    val (rt, rs) = door(replayDir, None)
    val published = Files.list(base.resolve("waves"))
    try published.iterator().forEachRemaining(p => if (!p.getFileName.toString.startsWith("."))
      Files.copy(p, replayDir.resolve("waves").resolve(p.getFileName)))
    finally published.close()
    drain(replayDir, rt, rs)
    val replayIds = rt.read().select("doc_id").collect().map(_.getLong(0))
    Map("waves" -> nextWave, "kept_rows" -> ids.length,
      "kept_distinct" -> ids.distinct.length, "admitted_sum" -> admitted.sum,
      "replay_rows" -> replayIds.length,
      "replay_equal" -> (ids.sorted.sameElements(replayIds.sorted)),
      "index_rows" -> indexRows)
  }
}
