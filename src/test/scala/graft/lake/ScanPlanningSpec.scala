package graft.lake

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Lake reads are planned from the manifest: binding a read (plain,
  * time travel, metadata columns, a SQL SELECT) lists no directory,
  * globs no path and infers no delete-file schema, so it starts no Spark
  * job before its action. The frames still read exactly what a
  * `spark.read.parquet` of the same files reads.
  */
class ScanPlanningSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  /** A merge-on-read table with 64 live data files (4 write tasks × 16
    * buckets, past Spark's 32-path parallel-listing threshold), then one
    * position delete (id 5) and one equality delete (id 7).
    */
  private lazy val fixture = {
    val gs = new GraftSql(new LakeCatalog(s,
      Files.createTempDirectory("scanplan-").toString))
    gs.execute("CREATE SCHEMA IF NOT EXISTS lake.demo")
    gs.execute("USE lake.demo")
    val t = gs.cat.createTable("demo.t",
      s.range(0, 2000).repartition(4)
        .select(col("id"), (col("id") % 7).as("v"),
          concat(lit("r"), col("id").cast("string")).as("tag")),
      partitioning = Seq("bucket(id, 16)"),
      properties = Map("merge_mode" -> "merge-on-read"))
    val created = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("id") === 5)
    import s.implicits._
    t.deleteByKeys(Seq(7L).toDF("id"), Seq("id"))
    (gs, t, created)
  }

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order on one bus, so once the closing fence job is seen, every job
    * `body` started has been seen too.
    */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("?")))
    }
    val sc = s.sparkContext
    def fence(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      fence("fence-open")
      body
      fence("fence-close")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("fence-close") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("fence-close"), "listener never saw the fence")
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq.dropWhile(_ != "fence-open").drop(1)
      .takeWhile(_ != "fence-close")
  }

  /** A lake file as `inputFiles` names it (its URI) and as `$path` and
    * `_metadata.file_path` name it.
    */
  private def uri(t: LakeTable, rel: String) = s"file://${t.location}/$rel"
  private def filePath(t: LakeTable, rel: String) = s"file:${t.location}/$rel"

  test("binding a read starts no Spark job: plain, time travel, " +
      "metadata columns and a SQL SELECT") {
    val (gs, t, created) = fixture
    val (data, deletes) = Meta.liveFiles(t.meta, t.meta.currentSnapshot.get)
    assert(data.size >= 40 && deletes.map(_.content).sorted ==
      Seq("equality", "position"))
    var frames = Seq.empty[DataFrame]
    val jobs = jobsDuring {
      frames = Seq(t.read(), t.asOf(created), t.readWithMetaColumns(),
        gs.execute("SELECT id, tag FROM t WHERE v = 3"))
    }
    assert(jobs.isEmpty, s"bind started ${jobs.size} job(s): $jobs")
    assert(frames.map(_.count()) == Seq(1998L, 2000L, 1998L,
      (0L until 2000L).count(i => i % 7 == 3 && i != 5 && i != 7).toLong))
  }

  test("binding a table_changes read over position- and equality-delete " +
      "commits starts no Spark job") {
    val (gs, t, created) = fixture
    val head = t.meta.currentSnapshotId.get
    var frames = Seq.empty[DataFrame]
    val jobs = jobsDuring {
      frames = Seq(t.changes(created, head), gs.execute(
        s"""SELECT id, _change_type FROM TABLE(system.table_changes(
           |  schema_name => 'demo', table_name => 't',
           |  start_snapshot_id => $created, end_snapshot_id => $head))"""
          .stripMargin))
    }
    assert(jobs.isEmpty, s"bind started ${jobs.size} job(s): $jobs")
    frames.foreach { f =>
      assert(f.select("id", "_change_type").collect().map(r =>
        (r.getLong(0), r.getString(1))).sorted.toSeq ==
        Seq((5L, "delete"), (7L, "delete")))
    }
  }

  test("a GraftSql INSERT ... VALUES runs one Spark job") {
    val (gs, _, _) = fixture
    gs.cat.createTable("demo.ins",
      s.range(0, 1).select(col("id"), lit("x").as("tag")),
      partitioning = Seq("bucket(id, 4)"),
      properties = Map("merge_mode" -> "merge-on-read"))
    val jobs = jobsDuring {
      gs.execute("INSERT INTO ins (id, tag) VALUES (1, 'a'), (2, 'b'), " +
        "(3, 'c'), (4, 'd')")
    }
    assert(jobs.size == 1, s"INSERT ran ${jobs.size} job(s): $jobs")
    assert(gs.execute("SELECT count(*) FROM ins").head().getLong(0) == 5L)
  }

  test("an append computes its input once") {
    val acc = s.sparkContext.longAccumulator("append-input-rows")
    val counted = udf { (_: Long) => acc.add(1); true }.asNondeterministic()
    val t = LakeTable.create(s,
      Files.createTempDirectory("scanplan-").resolve("t").toString,
      Left(new org.apache.spark.sql.types.StructType().add("id", "long")))
    t.append(s.range(0, 500, 1, 4).toDF().filter(counted(col("id"))))
    assert(t.read().count() == 500L)
    assert(acc.value == 500L,
      s"the input was evaluated ${acc.value} times for 500 rows")
  }

  test("inputFiles are the live manifest paths, qualified") {
    val (_, t, created) = fixture
    val m = t.meta
    val (data, deletes) = Meta.liveFiles(m, m.currentSnapshot.get)
    assert(t.read().inputFiles.sorted.toSeq ==
      (data.map(_.path) ++ deletes.map(_.path)).map(uri(t, _)).sorted)
    val (atCreate, none) = Meta.liveFiles(m, m.snapshot(created).get)
    assert(none.isEmpty)
    assert(t.asOf(created).inputFiles.sorted.toSeq ==
      atCreate.map(f => uri(t, f.path)).sorted)
  }

  test("rows, $path, $partition and $file_modified_time match a " +
      "spark.read.parquet of the same files") {
    val (_, t, created) = fixture
    val m = t.meta
    val (data, _) = Meta.liveFiles(m, m.currentSnapshot.get)
    val listed = s.read.parquet(data.map(f => s"${t.location}/${f.path}"): _*)
      .select(col("id"), col("v"), col("tag"),
        col("_metadata.file_path").as("path"),
        col("_metadata.file_modification_time").as("mtime"))
    def sorted(df: DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(_.getLong(0))
    val live = listed.filter(!col("id").isin(5L, 7L))
    assert(sorted(t.read()) == sorted(live.select("id", "v", "tag")))
    assert(sorted(t.asOf(created)) == sorted(listed.select("id", "v", "tag")))

    val meta = t.readWithMetaColumns()
    assert(sorted(meta.select(col("id"), col("v"), col("tag"),
        col("$path"), col("$file_modified_time"))) == sorted(live))
    val byPath = data.map { f =>
      val spec = m.spec(f.specId).fields
        .map(pf => s"${pf.name}=${f.partition.getOrElse(pf.name, "null")}")
        .mkString("{", ", ", "}")
      val mtime = Files.getLastModifiedTime(
        Paths.get(t.location, f.path)).toMillis
      filePath(t, f.path) -> (spec, mtime)
    }.toMap
    meta.select("$path", "$partition", "$file_modified_time").distinct()
      .collect().foreach { r =>
        val (spec, mtime) = byPath(r.getString(0))
        assert(r.getString(1) == spec)
        assert(r.getTimestamp(2).getTime == mtime)
      }
  }
}
