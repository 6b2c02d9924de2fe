package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}

/** One workload of the benchmark. The harness calls [[setup]] and
  * [[warmup]] once, then [[step]] until the measured time is spent, and
  * finally [[finish]], which checks outputs and returns what the report
  * needs. Only [[step]] is timed.
  */
trait Workload {
  /** Measured steps the end-to-end metrics are taken over: an untraced
    * run goes on past its time until it has this many, and the report
    * reads only the first this many, so every run times the same steps
    * (0: every step of the measured time). */
  def timedSteps: Int
  def setup(): Unit
  def warmup(): Unit
  /** One measured step; false once the generated input is used up. */
  def step(): Boolean
  def finish(): Map[String, Any]
}

/** Closed-loop runner: one client thread, the next operation starts
  * when the previous one returned. */
final class Runner(val spark: SparkSession, val trace: Trace,
    val work: Path) {
  val ops = ArrayBuffer[Map[String, Any]]()
  var phase = "untraced"
  private var nextOp = 0

  /** Time one operation. `units` is the work it completes (statements
    * or documents); `body` may return sub-timings (`write_ms`,
    * `read_ms`) and values the checks need. */
  def op(kind: String, units: Double)(body: => Map[String, Any]): Map[String, Any] = {
    val id = nextOp
    nextOp += 1
    trace.beginOp(id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val extra = trace.timed(s"op.$kind")(body)
    val dur = (System.nanoTime() - t0) / 1e6
    val rec = Map[String, Any]("id" -> id, "kind" -> kind, "phase" -> phase,
      "start_ms" -> startMs, "end_ms" -> (startMs + dur.toLong), "ms" -> dur,
      "units" -> units) ++ extra
    ops += rec
    rec
  }

  /** Merge untimed observations into the last operation's record. */
  def annotate(extra: Map[String, Any]): Unit =
    ops(ops.size - 1) = ops.last ++ extra

  /** Milliseconds `body` takes; for sub-timings inside an [[op]]. */
  def ms(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val input = Paths.get(opts("input"))
    val work = Paths.get(opts("work"))
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    Files.createDirectories(work)

    val spark = graft.SparkEnv.builder(opts.getOrElse("master", "local[4]"))
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // from the launcher's start of the JVM when given, so JVM start-up counts
    val sessionS = opts.get("launch-ms")
      .map(l => (System.currentTimeMillis() - l.toLong) / 1e3)
      .getOrElse((System.nanoTime() - t0) / 1e9)

    val trace = new Trace(spark)
    val run = new Runner(spark, trace, work)
    val w: Workload = workload match {
      case "lake_lifecycle" => new LakeLifecycle(run, input)
      case "stream_ingest" => new StreamIngestW(run, input)
    }
    val setup0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - setup0) / 1e9
    val warm0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - warm0) / 1e9

    // A traced run measures its first half untraced and its second
    // half traced, so the tracing overhead is a same-process difference.
    val untracedS = if (traced) seconds / 2 else seconds
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var more = true
    val minSteps = if (traced) 0 else w.timedSteps
    while (more && (elapsed < untracedS || run.ops.size < minSteps)) more = w.step()
    if (traced) {
      run.phase = "traced"
      trace.start()
      while (more && elapsed < seconds) more = w.step()
      trace.stop()
    }
    val measuredS = elapsed
    val heapMb = retainedHeapMb()
    val f0 = System.nanoTime()
    val checks = w.finish()
    val finishS = (System.nanoTime() - f0) / 1e9
    val out = Map[String, Any](
      "workload" -> workload,
      "session_s" -> sessionS,
      "workload_setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "timed_steps" -> w.timedSteps,
      "measured_s" -> measuredS,
      "finish_s" -> finishS,
      "retained_heap_mb" -> heapMb,
      "parallelism" -> spark.sparkContext.defaultParallelism,
      "ops" -> run.ops.toSeq,
      "checks" -> checks,
      "trace" -> (if (traced) trace.report else Map.empty))
    Files.write(Paths.get(opts("out")), Json(out).getBytes("UTF-8"))
    spark.stop()
  }

  /** Used heap after full collections: what the workload keeps alive. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Order-insensitive digest of a result, in the canonical row text the
    * DuckDB replay writes too: fields joined by '|', integral doubles as
    * integers, rows sorted. */
  def rowsDigest(rows: Seq[Row]): String = {
    val lines = rows.map(_.toSeq.map(canon).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case x => x.toString
  }
}

/** Directory and metadata state of one lake table, sampled after each
  * operation: space amplification always; in the traced phase also the
  * metadata probes (`Meta.load`, `Meta.liveFiles`, `Scan.pruneFiles`)
  * and the files each operation added or removed. */
final class LakeProbe(run: Runner, location: String) {
  import graft.lake.{Meta, Scan}
  private var files: Map[String, Long] = Map.empty

  private def listFiles(): Map[String, Long] = {
    val root = Paths.get(location)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Bytes under the table location / live data-file bytes. */
  def sample(point: Option[Column] = None): Map[String, Any] = {
    val now = listFiles()
    val added = now.keySet -- files.keySet
    val removed = files.keySet -- now.keySet
    val addedBytes = added.toSeq.filterNot(_.startsWith("metadata/")).map(now).sum
    files = now
    val m = Meta.load(location)
    val (data, _) = m.currentSnapshot.map(s => Meta.liveFiles(m, s))
      .getOrElse((Nil, Nil))
    val live = data.map(_.sizeBytes).sum.toDouble
    val base = Map[String, Any](
      "space_amp" -> (if (live > 0) now.values.sum / live else 1.0))
    if (!run.trace.on) base
    else base ++ run.trace.span("lake.probe") { a =>
      a("added_bytes") = addedBytes.toDouble
      a("removed_files") = removed.size
      val lm = run.trace.timed("lake.meta_load")(Meta.load(location))
      val snap = lm.currentSnapshot
      val (d, del) = run.trace.timed("lake.live_fold")(
        snap.map(s => Meta.liveFiles(lm, s)).getOrElse((Nil, Nil)))
      val kept = run.trace.timed("lake.prune")(Scan.pruneFiles(lm, d, point))
      a("snapshots") = lm.snapshots.size
      a("manifests") = snap.map(_.manifests.size).getOrElse(0).toDouble
      a("live_files") = d.size
      a("delete_files") = del.size
      a("prune_keep_ratio") = if (d.isEmpty) 1.0 else kept.size.toDouble / d.size
      a("metadata_bytes") = now.filter(_._1.startsWith("metadata/")).values.sum.toDouble
      a("live_bytes") = live
      Map.empty[String, Any]
    }
  }
}

/** Minimal JSON writer: numbers go through `Double.toString`, which is
  * locale-invariant (a comma-decimal default locale cannot leak in). */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("null")
    case s: String => str(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null")
      else sb.append(java.lang.Double.toString(d))
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        str(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(x, sb) }
      sb.append(']')
    case x => str(x.toString, sb)
  }

  private def str(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

/** Prints the harness's number formatting; the self-tests run it under a
  * comma-decimal default locale. */
object LocaleCheck {
  def main(args: Array[String]): Unit =
    println(Json(Map("json" -> Map("half" -> 0.5, "big" -> 1234567.25),
      "canon" -> Seq(Main.canon(0.5), Main.canon(-2.0)))))
}
