package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are kept in memory and written out
  * when the run ends; Spark's public listeners add job, task, Catalyst
  * phase and micro-batch records, each stamped with wall-clock
  * milliseconds so the report can attribute them to the operation whose
  * interval contains them (one client thread: operations never overlap).
  *
  * Everything here is off until [[start]]: the untraced phase pays for
  * nothing but its own timers.
  */
final class Trace(spark: SparkSession) {
  case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, endNs: Long, startMs: Long, attrs: Map[String, Double])

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var op = -1
  @volatile var on = false

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobsStarted = new java.util.concurrent.atomic.AtomicInteger()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val eventsSeen = new java.util.concurrent.atomic.AtomicLong()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e.time)
      jobsStarted.incrementAndGet(); eventsSeen.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStarts.remove(e.jobId)).getOrElse(e.time)
      jobs.add(Map("start_ms" -> start, "end_ms" -> e.time))
      jobsEnded.incrementAndGet(); eventsSeen.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      eventsSeen.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) tasks.add(Map(
        "end_ms" -> e.taskInfo.finishTime,
        "run_ms" -> m.executorRunTime,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      eventsSeen.incrementAndGet()
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      plans.add(Map("start_ms" -> start, "analysis_ms" -> ms("analysis"),
        "optimizer_ms" -> ms("optimization"), "physical_ms" -> ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      eventsSeen.incrementAndGet()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      batches.add(Map(
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows) ++ d.map { case (k, v) => s"d_$k" -> v })
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop listening once every posted event has landed: the bus is
    * asynchronous, so wait until job ends catch up with job starts and
    * no event arrived for a quiet period (bounded). */
  def stop(): Unit = if (on) {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get() < jobsStarted.get() || eventsSeen.get() != last)) {
      last = eventsSeen.get()
      Thread.sleep(250)
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Mark the start of operation `id`; spans opened until the next call
    * belong to it. */
  def beginOp(id: Int): Unit = op = id

  /** Time `body` as a span named `name`, child of the innermost open
    * span. `attrs` receives counts measured inside the body. When
    * tracing is off the body runs bare. */
  def span[A](name: String)(body: scala.collection.mutable.Map[String, Double] => A): A =
    if (!on) body(scala.collection.mutable.Map.empty)
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val attrs = scala.collection.mutable.Map[String, Double]()
      spans += Span(id, name, parent, op, 0L, 0L, 0L, Map.empty)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body(attrs)
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans(id) = Span(id, name, parent, op, t0, t1, startMs, attrs.toMap)
      }
    }

  def timed[A](name: String)(body: => A): A = span(name)(_ => body)

  def report: Map[String, Any] = Map(
    "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "start_ms" -> s.startMs, "attrs" -> s.attrs)),
    "jobs" -> jobs.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq,
    "plans" -> plans.asScala.toSeq,
    "batches" -> batches.asScala.toSeq)
}
