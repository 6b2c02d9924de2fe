package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.lake.{GraftSql, LakeCatalog, LakeTable, Meta}

/** `lake_lifecycle`: the generated Trino-dialect statement log, one
  * statement per operation, through `GraftSql.execute` (`CREATE TAG`,
  * which `GraftSql` does not parse, goes to `LakeTable.createTag`).
  * Entry 0 (the CTAS) and a warm-up prefix run untimed; their reads are
  * checked like the measured ones. The measured phase continues the log
  * where warm-up stopped. After each statement the head of `main` is
  * recorded (time-travel targets resolve against it) and the table's
  * space amplification is sampled, both outside the timer.
  */
final class LakeLifecycle(run: Runner, input: Path) extends Workload {
  private val spark = run.spark
  private val stmts: IndexedSeq[Map[String, Any]] = {
    val text = new String(Files.readAllBytes(input.resolve("statements.json")), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(text)
      .values.asInstanceOf[List[Map[String, Any]]].toIndexedSeq
  }
  private val WarmupStatements = 16
  /** Entries 16-51: the second cycle (with its branch and tag block) and
    * most of the third. A time-bounded window would end wherever the
    * run's speed puts it, and the cheap reads right after a compaction
    * would fall in or out of its medians with the host's load. */
  val timedSteps = 36
  private var gs: GraftSql = _
  private var table: LakeTable = _
  private var probe: LakeProbe = _
  private val heads = mutable.Map[Int, Long]()
  private val warmupReads = mutable.ArrayBuffer[Map[String, Any]]()
  private var next = 0

  def setup(): Unit = {
    val cat = new LakeCatalog(spark, run.work.resolve("warehouse").toString)
    gs = new GraftSql(cat)
    table = null
    probe = null
    def src(name: String, file: String) =
      gs.registerSource(name, spark.read.parquet(input.resolve(file).toString))
    src("tpch.bench.customer", "customer.parquet")
    src("tpch.bench.nation", "nation.parquet")
    src("tpch.bench.region", "region.parquet")
    src("pg.bench.orders", "orders.parquet")
    val landing = spark.read.parquet(input.resolve("landing.parquet").toString)
    stmts.flatMap(s => "stage\\.bench\\.land(\\d+)".r
        .findFirstMatchIn(s("sql").toString).map(_.group(1).toInt))
      .distinct.foreach { b =>
        gs.registerSource(s"stage.bench.land$b",
          landing.filter(col("batch") === b).drop("batch"))
      }
    gs.execute("CREATE SCHEMA IF NOT EXISTS lake.bench")
    gs.execute("USE lake.bench")
    execute(0)
    record(0)
    table = cat.table("bench.cust")
    probe = new LakeProbe(run, table.location)
    next = 1
  }

  def warmup(): Unit =
    while (next < WarmupStatements) {
      val out = execute(next)
      if (out.contains("digest")) warmupReads += Map("stmt" -> next, "digest" -> out("digest"))
      record(next)
      next += 1
    }

  def step(): Boolean = {
    val i = next
    next += 1
    run.op(stmts(i)("kind").toString, 1.0)(execute(i))
    run.annotate(record(i))
    next < stmts.size
  }

  /** Run entry `i`; reads return their row digest. */
  private def execute(i: Int): Map[String, Any] = {
    val s = stmts(i)
    val kind = s("kind").toString
    val sql = "\\{after:(\\d+)\\}".r.replaceAllIn(s("sql").toString,
      m => heads(m.group(1).toInt).toString)
    val out: Map[String, Any] =
      if (kind.startsWith("select")) {
        val t0 = System.nanoTime()
        val df = run.trace.timed("lake.sql_bind")(gs.execute(sql))
        val bindMs = (System.nanoTime() - t0) / 1e6
        val rows = run.trace.timed("lake.collect")(df.collect().toSeq)
        val ms = (System.nanoTime() - t0) / 1e6
        Map("read_ms" -> ms, "bind_ms" -> bindMs, "digest" -> Main.rowsDigest(rows))
      } else {
        val ms = run.ms {
          if (sql.startsWith("CREATE TAG")) {
            val tag = sql.split("\\s+")(2)
            val t = gs.cat.table("bench.cust")
            t.createTag(tag, t.meta.currentSnapshotId.get)
          } else gs.execute(sql)
        }
        if (Set("insert", "update", "delete", "merge")(kind)) Map("write_ms" -> ms)
        else if (Set("optimize", "expire", "orphans")(kind)) Map("maint_ms" -> ms)
        else Map.empty
      }
    out
  }

  /** Untimed bookkeeping after entry `i`: main's head (time-travel
    * targets resolve against it) and the table's space. */
  private def record(i: Int): Map[String, Any] = {
    heads(i) = Meta.load(tableLocation).currentSnapshotId.get
    val sampled = if (probe == null) Map.empty[String, Any]
      else probe.sample(Some(col("custkey") === 1L))
    sampled ++ Map("stmt" -> i)
  }

  private def tableLocation: String =
    if (table != null) table.location else gs.cat.tableLocation("bench.cust")

  def finish(): Map[String, Any] = {
    val finalRows = table.read()
      .select("custkey", "name", "mktsegment", "account_balance", "nation")
      .collect().toSeq
    Map("executed" -> next, "final_digest" -> Main.rowsDigest(finalRows),
      "final_rows" -> finalRows.size, "warmup_reads" -> warmupReads.toSeq)
  }
}
