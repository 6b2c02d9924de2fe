package graft.tools

import org.apache.spark.sql.functions._
import graft.queries.RegistryState

/** Corpus-scale SLOPE probe for the heaviest corpus-pass rows: builds a
  * `copies`× documents/embeddings fixture by deterministic self-union
  * with re-keyed ids (same distribution, `copies`× the mass — clone
  * groups are genuine exact duplicates, which deliberately stress the
  * df-cap / prefix-block skew guards), symlinks every other table, and
  * times the target queries on BOTH the source dir and the scaled dir
  * in one JVM (warmup + `Passes` interleaved passes, min) so the
  * reported ratio is same-box, same-session.
  *
  * Reading the ratios: a row whose wall-clock grows ≤ ~copies× is
  * data-linear in the measured range; pair rows may grow faster in
  * OUTPUT (every clone pair is a true near-dup — semantics, not plan)
  * while the df-cap bounds the work, and exact-kNN rows are O(n²) by
  * algorithm (their scale path is the IVF family). Usage:
  *   runMain graft.tools.ScaleProbe [srcDir] [copies] [query...]
  */
object ScaleProbe {
  private val DefaultTargets = Seq("dedup_winnow_pairs",
    "dedup_ngram_pairs", "pipeline_curate_neardup", "knn_graph",
    "knn_graph_ivf", "pipeline_pretrain",
    // r11 families — expected slopes: the KMV/CMS sketch rows stay
    // ~flat past the one corpus pass (exchanges are sketch-sized, not
    // vocabulary-sized); blob pair/cluster rows grow ≤ copies× in WORK
    // (df-capped bands) though pair OUTPUT grows with true clone mass;
    // the refit row's decision fold is metadata-only
    "dedup_blob_near", "dedup_blob_clusters",
    "sketch_distinct_kmv", "sketch_freq_cms", "stream_ann_refit",
    // r12 verdict #7 — the two most expensive streaming doors:
    // expected ~linear in batch volume (each micro-batch runs O(batch)
    // gate/probe work); the dedup door's LSH index probe cost is
    // bounded by copies× (df-capped bands against the persisted index)
    "stream_curate_ingest", "stream_dedup_ingest")
  private val Passes = 2

  /** Resolve `floors:<minSec>` to every query whose BENCH_FLOOR entry
    * for `src` is ≥ the threshold (r13 verdict #3: "publish 10× slopes
    * for every row with sf0.1 floor ≥ 1.5 s") — the target list tracks
    * the ledger instead of a hand-maintained constant going stale.
    */
  private def floorTargets(src: String, minSec: Double): Seq[String] =
    graft.Bench.parseFloorLedger(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_FLOOR.json")),
        java.nio.charset.StandardCharsets.UTF_8))
      .getOrElse(src, Map.empty)
      .collect { case (q, f) if f >= minSec => q }.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val targets =
      if (args.length > 2) args.drop(2).toSeq.flatMap {
        case s if s.startsWith("floors:") =>
          floorTargets(src, s.stripPrefix("floors:").toDouble)
        case s => Seq(s)
      }.distinct
      else DefaultTargets
    require(targets.nonEmpty, "no target rows")
    val qs = graft.SparkEntry.select(targets).map(q => q.name -> q.run)
      .sortBy(_._1)
    val spark = graft.SparkEnv.session()
    // the scaled fixture lives under the registry root, which
    // RegistryState.close() deletes at the end of the run
    val scaled = RegistryState.input(s"scale$copies", src) { base =>
      def rekey(table: String, idCol: String): Unit = {
        val df = spark.read.parquet(s"$src/$table.parquet")
        (0 until copies).map(k => df.withColumn(idCol,
            col(idCol) + lit(k.toLong * 100000000L)))
          .reduce(_ unionByName _)
          .write.parquet(base.resolve(s"$table.parquet").toString)
      }
      rekey("documents", "doc_id")
      rekey("embeddings", "vec_id")
      new java.io.File(src).listFiles().foreach { f =>
        val dst = base.resolve(f.getName)
        if (!java.nio.file.Files.exists(dst))
          java.nio.file.Files.createSymbolicLink(dst, f.toPath)
      }
      base.toString
    }
    // Shuffle-write accounting per timed run (the scale evidence next
    // to wall-clock: a banded/bucketed op's exchanges must grow with
    // the BOUNDED work, not the corpus). Stage-completion metrics are
    // engine-reported, so the number is the actual wire volume.
    val shuffleW = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit =
          shuffleW.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    def timeOne(fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame, dir: String)
        : (Double, Long, Long) = {
      // stage-completion events ride the async listener bus — give it
      // a short settle so the byte window belongs to THIS run
      // (best-effort attribution; wall-clock is unaffected)
      Thread.sleep(300L)
      val b0 = shuffleW.get()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val t = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300L)
      (t, n, shuffleW.get() - b0)
    }
    // warmup both dirs (codegen, scan caches), then interleaved passes
    qs.foreach { case (_, fn) =>
      timeOne(fn, src); timeOne(fn, scaled)
    }
    val samples = (1 to Passes).flatMap { _ =>
      qs.map { case (name, fn) =>
        // stream rows memoize their ingest scenario per dataset dir —
        // drop the scenarios before each timed run (the Bench stance)
        // so every pass re-runs the door end-to-end; registry inputs
        // (wave dirs, the shared seed index) stay, as in Bench
        if (name.startsWith("stream_")) RegistryState.reset()
        val (tb, nb, bb) = timeOne(fn, src)
        if (name.startsWith("stream_")) RegistryState.reset()
        val (ts, ns, bs) = timeOne(fn, scaled)
        (name, tb, ts, nb, ns, bb, bs)
      }
    }
    println("query,base_min_s,scaled_min_s,ratio,base_rows,scaled_rows," +
      "base_shuffle_mb,scaled_shuffle_mb,shuffle_ratio")
    qs.map(_._1).foreach { name =>
      val mine = samples.filter(_._1 == name)
      val tb = mine.map(_._2).min
      val ts = mine.map(_._3).min
      val bb = mine.map(_._6).min
      val bs = mine.map(_._7).min
      val sr = if (bb > 0) bs.toDouble / bb else 0.0
      println(f"$name%s,$tb%.2f,$ts%.2f,${ts / tb}%.1f," +
        s"${mine.head._4},${mine.head._5}," +
        f"${bb / 1048576.0}%.1f,${bs / 1048576.0}%.1f,$sr%.1f")
    }
    spark.stop()
    RegistryState.close()
  }
}
