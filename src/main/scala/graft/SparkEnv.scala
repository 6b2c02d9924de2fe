package graft

import org.apache.spark.sql.SparkSession

/** One place for the session settings every entry point (Verify, Bench,
  * tests, SparkEntry.entry) must share.
  *
  * Scale stance: these are the knobs that transfer from local[32] to a
  * real cluster — AQE on (runtime join re-planning, skew splitting,
  * partition coalescing), shuffle partitions sized to the parallelism at
  * hand rather than the 200 default, UTC session time zone for oracle
  * parity, and ns-parquet read as LongType so the TIMESTAMP(9) columns
  * of the reference (`iceberg_trino_sqldemo.sql:185-187`) surface
  * losslessly instead of failing the scan.
  */
object SparkEnv {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Join strategy deliberately stays at Spark's sort-merge default
      // (guide §3.1): flipping preferSortMergeJoin=false (+ AQE
      // maxShuffledHashJoinLocalMapThreshold=64m) was A/B-measured in
      // r15 as +6% on a 16-row SMJ-heavy subset — 13 of 16 rows slower
      // (pipeline_hybrid_rrf +10%, dedup_keep_best +13%, knn_graph
      // +24%) — the per-partition hash-table build costs more than the
      // sorts on AQE-coalesced local partitions. Dim-side joins are
      // already broadcast everywhere it matters.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def session(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Scale-adaptive scan spread (optimization guide §2.5, "input skew:
    * one huge unsplittable file → repartition immediately after the
    * read"). A local-scale corpus or micro-batch often arrives as ONE
    * parquet split (a sub-`maxPartitionBytes` file with a single row
    * group), which serializes every downstream per-row computation —
    * shingling, hash-embedding, tokenization — onto one core while the
    * rest idle (measured: 2.2 s of pipeline_rag's 3.0 s in a one-task
    * stage at local[32]). When the input yields fewer partitions than
    * the session's parallelism, round-robin repartition to the
    * parallelism: the exchange moves only the sub-split-sized input and
    * buys cores× on the compute above it. At production scale the scan
    * already yields ≥ cores splits, so this is the IDENTITY — no
    * corpus-wide exchange is added where real data volume exists.
    * Round-robin repartition is deterministic under retries
    * (sort-before-repartition, SPARK-23207), and callers are
    * value-deterministic operators (oracle-checked against
    * partition-agnostic SQL), so results are unchanged.
    *
    * Applied ONLY where a dominant single-task compute stage was
    * measured — a blanket spread taxes aggregate-early operators with
    * an extra exchange and 32× task overhead for no parallel win
    * (measured +17-35% on bm25/ngram/langid when applied blanket).
    *
    * PRECONDITION (r14 ADVICE): call this on SCAN-ONLY frames. The
    * partition probe goes through `df.rdd`, which forces physical
    * planning and — under AQE — eagerly materializes any shuffle
    * stages already in `df`, i.e. runs Spark jobs at
    * DataFrame-construction time. Every current caller hands it a
    * fresh parquet/table scan projection (no exchange below), where
    * the probe is plan-only; do not hand it a post-shuffle frame.
    */
  def spread(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Overlap two INDEPENDENT Spark actions (optimization guide §2.6:
    * "actions are only sequential because your driver code calls them
    * sequentially"). `fa` runs on the calling thread, `fb` on a pooled
    * thread; both are awaited, and an exception from either propagates.
    * `fb` is awaited even when `fa` throws, so no side is still running
    * when the failure surfaces (a caller that retries the batch must
    * not race a still-running append); a failure of `fb` then rides
    * `fa`'s exception as suppressed instead of being lost.
    * Use ONLY for actions with no data/commit dependency between them
    * (e.g. two localCheckpoints of disjoint frames, appends to two
    * different tables) — the per-batch action chains of the streaming
    * doors are the measured caller (job-sum ≈ 60% of wall, the rest
    * sequential-job scheduling gaps this overlap reclaims).
    */
  def overlap[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    val f = Future(blocking(fb))(ExecutionContext.global)
    val a = try fa catch {
      case t: Throwable =>
        Await.ready(f, Duration.Inf).value.flatMap(_.failed.toOption)
          .foreach(t.addSuppressed)
        throw t
    }
    (a, Await.result(f, Duration.Inf))
  }
}
