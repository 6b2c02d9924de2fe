package graft

import scala.util.Try
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  // One session for the whole test JVM (suites share it via this object).
  lazy val spark: SparkSession = {
    val s = SparkEnv.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class CoreQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** One pass over the registry for the two registry-wide tests below:
    * each row's frame is built once, then counted and planned. A row
    * that throws fails both tests with its own exception.
    */
  private lazy val registryPass: Seq[(String, Try[(Long, String)])] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> Try {
        val df = fn(spark, sf)
        (df.count(), df.queryExecution.executedPlan.toString)
      }
    }

  test("every query runs and returns rows at sf0.001") {
    registryPass.foreach { case (name, run) =>
      assert(run.get._1 > 0, s"$name returned 0 rows")
    }
  }

  test("no query plan contains a CartesianProduct") {
    // Suite-wide scale guard: every deliberate cross join in the repo
    // broadcasts a metadata-sized side (scalar rows, query sets,
    // centroids), which plans as BroadcastNestedLoopJoin — bounded by
    // the broadcast. A CartesianProductExec means a cross join LOST its
    // broadcast (e.g. a size estimate pushed the small side past the
    // threshold), which at cluster scale is a partitions²-task job —
    // the regression this guard exists to catch at test time.
    registryPass.foreach { case (name, run) =>
      val plan = run.get._2
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product:\n${plan.take(600)}")
    }
  }

  test("filter and projection are pushed to the parquet scan") {
    val plan = graft.queries.CoreQueries.ordersDateRange(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("IsNotNull(o_orderdate)"), plan)
    // Column pruning: the scan must not read o_orderstatus etc.
    assert(!plan.contains("o_orderstatus"), plan)
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val plan = graft.queries.CoreQueries.euroCustomers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("Q5 join tree broadcasts every dimension — fact side never " +
      "sort-merges") {
    val plan = graft.queries.CoreQueries.localSupplierVolume(spark, sf)
      .queryExecution.executedPlan.toString
    // five dimension joins (orders/customer/supplier/nation/region):
    // all must hash-broadcast against the streaming lineitem side
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"),
      "a dimension join fell back to sort-merge — the fact table " +
        "would shuffle at 100 TB")
  }

  test("aggregation uses partial (map-side) hash aggregate") {
    val plan = graft.queries.CoreQueries.federationAgg(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
  }

  test("rollup computes all grouping levels in one aggregation") {
    val df = graft.queries.CoreQueries.rollupRevenue(spark, sf)
    val rows = df.collect()
    // grand-total row: both grouping columns null, n_items = table size
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(grand.head.getLong(3) == total)
    // per-flag subtotals sum their leaf rows
    val leaves = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val flagTotals = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    flagTotals.foreach { ft =>
      val leafSum = leaves.filter(_.getString(0) == ft.getString(0))
        .map(_.getLong(3)).sum
      assert(ft.getLong(3) == leafSum)
    }
  }

  test("set operators compile to joins/aggregates, never nested loops") {
    val plan = graft.queries.CoreQueries.setOps(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(2000))
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      "INTERSECT/EXCEPT must become semi/anti joins:\n" + plan.take(2000))
  }

  test("Q21 shape: EXISTS/NOT-EXISTS compile to semi/anti hash joins") {
    val plan = graft.queries.CoreQueries.waitingSuppliers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      "the other-supplier checks must be semi/anti joins:\n" +
        plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(2000))
  }

  test("Q17 shape: correlated avg becomes a partkey-co-shuffled " +
      "self-join, never a per-row subquery") {
    val plan = graft.queries.CoreQueries.smallQtyRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(2000))
    // the brand filter must prune BOTH legs before their join:
    // 2×(lineitem + part) scans, never more (no re-expansion)
    val scans = plan.split("Scan parquet").length - 1
    assert(scans <= 4, s"expected ≤4 parquet scans (2×(lineitem+part)" +
      s"), got $scans:\n${plan.take(2000)}")
  }

  test("top-k queries use TakeOrderedAndProject, not a full sort") {
    // a global ORDER BY + LIMIT must compile to per-partition heaps +
    // driver merge — a full range-exchange sort is the 100 TB trap
    val plan = graft.queries.PipelineQueries.textBpePairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("weighted sampling is one projection + TakeOrdered — no shuffle " +
      "before the final per-doc sort") {
    // Efraimidis–Spirakis: the ranking key is computed row-local, so
    // the ONLY exchange the selection may pay is the trailing
    // display-order sort of 100 rows; the corpus itself never shuffles.
    val df = graft.pipeline.Sampling.weightedSample(
      spark.read.parquet(s"$sf/documents.parquet")
        .withColumn("n_tokens", org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.col("text")), "\\s+"))),
      k = 100,
      weightCol = org.apache.spark.sql.functions.col("n_tokens"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("Exchange"),
      s"corpus must not shuffle for a top-k sample:\n${plan.take(1500)}")
  }

  test("approx_count_distinct tracks the exact count (100 TB swap-in)") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet(s"$sf/events.parquet")
    val both = events.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx"))
      .collect()
    both.foreach { r =>
      val (e, a) = (r.getLong(1), r.getLong(2))
      assert(math.abs(e - a) <= math.max(1.0, e * 0.06),
        s"${r.getString(0)}: exact=$e approx=$a")
    }
  }

  test("percentile_approx tracks the exact percentile (100 TB swap-in)") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet(s"$sf/events.parquet")
    val both = events.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("exact"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx"))
      .collect()
    both.foreach { r =>
      val (e, a) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(e - a) <= math.max(1e-6, math.abs(e) * 0.01),
        s"${r.getString(0)}: exact=$e approx=$a")
    }
  }
}

class TrinoFunctionsSpec extends AnyFunSuite {
  import graft.functions.TrinoFunctions._

  test("mysql pattern translation") {
    assert(mysqlToJavaPattern("%Y/%m/%d-%T") == "yyyy/MM/dd-HH:mm:ss")
    assert(mysqlToJavaPattern("%Y-%m-%d %H:%i:%s") == "yyyy-MM-dd HH:mm:ss")
    assert(mysqlToJavaPattern("%d%%") == "dd%")
    intercept[IllegalArgumentException](mysqlToJavaPattern("%Q"))
  }

  test("literal letters in pattern are quoted") {
    assert(mysqlToJavaPattern("%YT%m") == "yyyy'T'MM")
  }

  test("nanos round-trip renders 9 digits") {
    import TestSpark._
    import spark.implicits._
    val df = Seq(1704067200123456789L).toDF("ns")
    val got = df.select(nanosToString($"ns")).as[String].head()
    assert(got == "2024-01-01 00:00:00.123456789")
  }
}
