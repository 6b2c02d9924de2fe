package graft.lake

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Catalog surface: schemas (`iceberg_trino_sqldemo.sql:6-9`), SHOW
  * CREATE TABLE (`sql:42`), views incl. the script's snapshot-history
  * view (`sql:53-55, 85-96`), materialized views (`sql:57-61`),
  * register_table (`sql:276-281`), drop (`sql:272`).
  */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  private def freshCatalog(): LakeCatalog =
    new LakeCatalog(s, Files.createTempDirectory("cat-").toString)

  private def customers20 = s.read.parquet(s"$sf/customer.parquet")
    .filter(col("c_custkey") < 20)
    .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
      col("c_mktsegment").as("mktsegment"))

  test("create schema, table in schema, list, drop (sql:6-9, 272)") {
    val cat = freshCatalog()
    cat.createSchema("victorc_iceberg")
    assert(cat.showCreateSchema("victorc_iceberg")
      .contains("CREATE SCHEMA victorc_iceberg"))
    cat.createTable("victorc_iceberg.customer", customers20,
      partitioning = Seq("mktsegment"))
    assert(cat.listTables == Seq("victorc_iceberg.customer"))
    assert(cat.table("victorc_iceberg.customer").read().count() == 20)
    assert(cat.dropTable("victorc_iceberg.customer"))
    assert(cat.listTables.isEmpty)
    assert(!cat.dropTable("victorc_iceberg.customer"))
  }

  test("SHOW CREATE TABLE renders schema, partitioning, props (sql:42)") {
    val cat = freshCatalog()
    cat.createSchema("demo")
    cat.createTable("demo.c", customers20,
      partitioning = Seq("mktsegment", "bucket(custkey, 4)"),
      properties = Map("merge_mode" -> "merge-on-read"))
    val ddl = cat.showCreateTable("demo.c")
    assert(ddl.contains("CREATE TABLE demo.c"))
    assert(ddl.contains("custkey bigint"))
    assert(ddl.contains("partitioning = ARRAY['mktsegment', 'bucket(custkey, 4)']"))
    assert(ddl.contains("merge_mode = 'merge-on-read'"))
    assert(ddl.contains("format_version = 3"))
  }

  test("view resolution matches identifier tokens, not substrings") {
    val cat = freshCatalog()
    cat.createSchema("demo")
    cat.createTable("demo.vorders", customers20)
    cat.createTable("demo.vorders_2",
      customers20.withColumn("custkey", col("custkey") + 1000))
    Seq("vorders", "vorders_2").foreach(v =>
      try s.catalog.dropTempView(v) catch { case _: Exception => () })
    cat.createView("v_only_base", "SELECT count(*) AS n FROM vorders")
    assert(cat.readView("v_only_base").head().getLong(0) ==
      customers20.count())
    assert(!s.catalog.tableExists("vorders_2"),
      "a view over vorders must not register/read vorders_2")
    // the reverse direction: vorders_2 token must not be satisfied by
    // the substring-overlapping vorders
    s.catalog.dropTempView("vorders")
    cat.createView("v_only_2", "SELECT count(*) AS n FROM vorders_2")
    assert(cat.readView("v_only_2").head().getLong(0) == customers20.count())
    assert(!s.catalog.tableExists("vorders"),
      "a view over vorders_2 must not register vorders")
  }

  test("sql reads a stored view and the `$row_id` meta column") {
    val cat = freshCatalog()
    cat.createSchema("demo")
    cat.createTable("demo.rcust", customers20)
    cat.createView("v_low", "SELECT custkey FROM rcust WHERE custkey < 5")
    assert(cat.sql("SELECT count(*) FROM v_low").head().getLong(0) ==
      customers20.filter(col("custkey") < 5).count())
    assert(cat.sql("SELECT `$row_id` FROM rcust").distinct().count() ==
      customers20.count())
  }

  test("a view or materialized view body may name its own view") {
    val cat = freshCatalog()
    cat.createSchema("demo")
    cat.createTable("demo.vcust", customers20)
    cat.createView("revenue", "SELECT sum(custkey) AS revenue FROM vcust")
    assert(cat.readView("revenue").head().getLong(0) ==
      customers20.agg(sum("custkey")).head().getLong(0))
    // the first refresh plans the body before any materialization exists
    cat.createMaterializedView("mv_n", "SELECT count(*) AS mv_n FROM vcust")
    assert(cat.readView("mv_n").head().getLong(0) == customers20.count())
  }

  test("sql binds views that name themselves and each other") {
    val cat = freshCatalog()
    cat.createSchema("demo")
    cat.createTable("demo.vcust", customers20)
    cat.createView("revenue", "SELECT sum(custkey) AS revenue FROM vcust")
    assert(cat.sql("SELECT revenue FROM revenue").head().getLong(0) ==
      customers20.agg(sum("custkey")).head().getLong(0))
    // v_a names v_b only as an alias; v_b reads v_a
    cat.createView("v_a", "SELECT count(*) AS v_b FROM vcust")
    cat.createView("v_b", "SELECT v_b AS v_a FROM v_a")
    Seq("v_a", "v_b").foreach(v =>
      assert(cat.readView(v).head().getLong(0) == customers20.count(), v))
    assert(cat.sql("SELECT v_a FROM v_b").head().getLong(0) == customers20.count())
    // a true cycle fails as Spark fails any missing relation
    cat.createView("v_c", "SELECT * FROM v_d")
    cat.createView("v_d", "SELECT * FROM v_c")
    intercept[org.apache.spark.sql.AnalysisException](cat.readView("v_c"))
  }

  test("view over metadata tables — the script's history view (sql:85-96)") {
    val cat = freshCatalog()
    cat.createSchema("demo")
    val t = cat.createTable("demo.customer", customers20)
    t.append(customers20.withColumn("custkey", col("custkey") + 100))
    cat.createView("v_history",
      """SELECT s.snapshot_id, s.operation, h.is_current_ancestor
         FROM customer_snapshots s
         JOIN customer_history h ON s.snapshot_id = h.snapshot_id
         ORDER BY s.snapshot_id""")
    val rows = cat.readView("v_history").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getBoolean(2)), "all snapshots on main ancestry")
    // view re-plans on read: new DML appears without recreating it
    t.append(customers20.withColumn("custkey", col("custkey") + 200))
    assert(cat.readView("v_history").count() == 3)
  }

  test("materialized view: stale until REFRESH (sql:57-61)") {
    val cat = freshCatalog()
    cat.createSchema("demo")
    val t = cat.createTable("demo.customer", customers20)
    cat.createMaterializedView("mv_by_seg",
      """SELECT mktsegment, count(*) AS n FROM customer GROUP BY mktsegment""",
      refreshSchedule = Some("30 04 * * 0"))
    val before = cat.readView("mv_by_seg").agg(sum("n")).head().getLong(0)
    assert(before == 20)
    t.append(customers20.withColumn("custkey", col("custkey") + 100))
    // materialized: serves the stored result until refreshed
    assert(cat.readView("mv_by_seg").agg(sum("n")).head().getLong(0) == 20)
    cat.refreshMaterializedView("mv_by_seg")
    assert(cat.readView("mv_by_seg").agg(sum("n")).head().getLong(0) == 40)
  }

  test("register_table attaches an existing lake dir (sql:276-281)") {
    val cat = freshCatalog()
    val external = Files.createTempDirectory("ext-").resolve("t").toString
    LakeTable.create(s, external, Right(customers20))
    val t = cat.registerTable("demo.registered", external)
    assert(t.read().count() == 20)
    assert(cat.listTables.contains("demo.registered"))
    intercept[IllegalArgumentException] {
      cat.registerTable("demo.bogus",
        Files.createTempDirectory("empty-").toString)
    }
  }

  test("filtered compaction by file mtime (sql:267-268, M4)") {
    import s.implicits._
    val t = LakeTable.create(s,
      Files.createTempDirectory("m4-").resolve("t").toString,
      Right(customers20))
    (1 to 3).foreach { i =>
      t.append(Seq((100L + i, s"x$i", "Z")).toDF("custkey", "name", "mktsegment"))
    }
    val before = t.read().orderBy("custkey").collect().toSeq
    // predicate matching only recent files (all are recent → compacts all)
    val cutoff = System.currentTimeMillis() - 2L * 24 * 3600 * 1000
    val snap = t.optimize(filePredicate = Some((_, mtime) => mtime > cutoff))
    assert(snap.nonEmpty && snap.get.operation == "replace")
    assert(t.read().orderBy("custkey").collect().toSeq == before)
    // predicate matching nothing → no-op
    assert(t.optimize(filePredicate = Some((_, _) => false)).isEmpty)
  }
}
