package graft.lake

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The SQL-statement surface end to end: every statement family of the
  * reference script (`iceberg_trino_sqldemo.sql`) exercised as SQL TEXT
  * through [[GraftSql]] — schema DDL, CTAS with props, views + mviews,
  * metadata tables/columns, INSERT/UPDATE/DELETE/MERGE (incl. branch
  * DML), schema + partition evolution, JSON/ns literals, time travel,
  * CDC, branching, rollback, maintenance, register_table, federation.
  */
class GraftSqlSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  private def freshSql(): GraftSql = {
    val cat = new LakeCatalog(s,
      Files.createTempDirectory("graftsql-").toString)
    val gs = new GraftSql(cat)
    gs.registerSource("tpch.tiny.nation", s.read.parquet(s"$sf/nation.parquet"))
    gs.registerSource("tpch.tiny.region", s.read.parquet(s"$sf/region.parquet"))
    gs.registerSource("pg.demo.customer", s.read.parquet(s"$sf/customer.parquet"))
    gs.registerSource("pg.demo.orders", s.read.parquet(s"$sf/orders.parquet"))
    gs.execute("CREATE SCHEMA IF NOT EXISTS lake.demo WITH (location = 's3://not-a-real/path/')")
    gs.execute("USE lake.demo")
    gs
  }

  private def buildCust(gs: GraftSql): Long = {
    gs.execute(
      """CREATE OR REPLACE TABLE cust
         WITH (
           partitioning = ARRAY['mktsegment'],
           format = 'parquet',
           format_version = 3,
           merge_mode = 'merge-on-read'
         ) AS
         SELECT c.c_custkey AS custkey, c.c_name AS name,
                c.c_mktsegment AS mktsegment,
                round(c.c_acctbal) AS account_balance,
                n.n_name AS nation
         FROM pg.demo.customer c
         JOIN tpch.tiny.nation n ON c.c_nationkey = n.n_nationkey
         JOIN tpch.tiny.region r ON r.r_regionkey = n.n_regionkey
         WHERE r.r_name = 'EUROPE'""")
    gs.execute("SELECT * FROM cust").count()
  }

  test("schema DDL, CTAS with props, SHOW CREATE, stats") {
    val gs = freshSql()
    assert(gs.execute("SET SESSION anything=true").count() == 0)
    assert(gs.execute("SHOW CREATE SCHEMA lake.demo").head().getString(0)
      .contains("CREATE SCHEMA demo"))
    val n = buildCust(gs)
    assert(n > 0)
    val ddl = gs.execute("SHOW CREATE TABLE cust").head().getString(0)
    assert(ddl.contains("partitioning") && ddl.contains("mktsegment"))
    gs.execute("ANALYZE cust")
    assert(gs.execute("SHOW STATS FOR cust").count() > 0)
    // drop + IF EXISTS on a missing table
    gs.execute("CREATE OR REPLACE TABLE scratch AS SELECT * FROM tpch.tiny.nation")
    gs.execute("DROP TABLE IF EXISTS scratch")
    gs.execute("DROP TABLE IF EXISTS scratch")
    intercept[IllegalArgumentException](gs.execute("DROP TABLE scratch"))
  }

  test("views, materialized views, metadata tables and columns") {
    val gs = freshSql()
    val n = buildCust(gs)
    gs.execute("CREATE OR REPLACE VIEW v_nation AS SELECT * FROM tpch.tiny.nation")
    assert(gs.execute("SELECT * FROM v_nation").count() == 25)
    gs.execute("""CREATE OR REPLACE MATERIALIZED VIEW mv_nation
      WITH (refresh_schedule = '30 04 * * 0')
      AS SELECT * FROM tpch.tiny.nation""")
    gs.execute("REFRESH MATERIALIZED VIEW mv_nation")
    assert(gs.execute("SELECT * FROM mv_nation").count() == 25)
    // metadata columns ride a plain SELECT
    val metaCols = gs.execute(
      """SELECT custkey, "$row_id", "$partition", "$path" AS file,
                "$file_modified_time" AS filedatetime
         FROM cust""")
    assert(metaCols.count() == n)
    assert(metaCols.select("$row_id").distinct().count() == n)
    // all nine metadata tables resolve through quoted names
    for (mt <- Seq("properties", "snapshots", "history", "manifests",
        "partitions", "files", "refs", "entries", "metadata_log_entries"))
      gs.execute(s"""SELECT * FROM "cust$$$mt"""").collect()
    // a stored view JOINING metadata tables
    gs.execute(
      """CREATE OR REPLACE VIEW ver_dets AS
         SELECT s.snapshot_id, h.is_current_ancestor
         FROM "cust$snapshots" AS s
         JOIN "cust$history" AS h ON s.snapshot_id = h.snapshot_id""")
    assert(gs.execute("SELECT * FROM ver_dets").count() >= 1)
  }

  test("INSERT / UPDATE / DELETE / CDC / row lineage via SQL") {
    val gs = freshSql()
    val n = buildCust(gs)
    gs.execute(
      """INSERT INTO cust (custkey, name, mktsegment, account_balance, nation)
         VALUES (900001, 'ALPHA', 'SQLE', 1, 'FRANCE'),
                (900002, 'BETA', 'SQLE', 2, 'FRANCE'),
                (900003, 'GAMMA', 'SQLE', 3, 'FRANCE')""")
    assert(gs.execute("SELECT * FROM cust").count() == n + 3)
    val snaps = gs.execute(
      """SELECT snapshot_id FROM "cust$snapshots" ORDER BY committed_at""")
      .collect().map(_.getLong(0))
    val chg = gs.execute(
      s"""SELECT * FROM TABLE(system.table_changes(
            schema_name => 'demo', table_name => 'cust',
            start_snapshot_id => ${snaps.head},
            end_snapshot_id => ${snaps.last}))
          ORDER BY _change_ordinal ASC""")
    assert(chg.filter(col("_change_type") === "insert").count() == 3)
    // row lineage stable across UPDATE
    val ridBefore = gs.execute(
      """SELECT "$row_id" FROM cust WHERE custkey = 900001""").head().getLong(0)
    gs.execute("UPDATE cust SET account_balance = 1000 WHERE custkey = 900001")
    assert(gs.execute("SELECT account_balance FROM cust WHERE custkey = 900001")
      .head().getDouble(0) == 1000.0)
    val ridAfter = gs.execute(
      """SELECT "$row_id" FROM cust WHERE custkey = 900001""").head().getLong(0)
    assert(ridBefore == ridAfter, "row id must survive UPDATE")
    gs.execute("DELETE FROM cust WHERE custkey IN (900001, 900002, 900003)")
    assert(gs.execute("SELECT * FROM cust").count() == n)
  }

  test("schema evolution: DEFAULT, JSON variant, nanosecond timestamps") {
    val gs = freshSql()
    buildCust(gs)
    gs.execute("ALTER TABLE cust ADD COLUMN phone varchar DEFAULT '+33606060606'")
    gs.execute(
      """INSERT INTO cust (custkey, name, mktsegment, account_balance, nation)
         VALUES (900100, 'DELTA', 'SQLE', 1, 'FRANCE')""")
    assert(gs.execute(
      "SELECT phone FROM cust WHERE custkey = 900100").head().getString(0)
      == "+33606060606")
    gs.execute("ALTER TABLE cust ADD COLUMN message JSON")
    gs.execute(
      """INSERT INTO cust (custkey, name, mktsegment, account_balance, nation, message)
         VALUES (900101, 'EPS', 'SQLE', 1, 'FRANCE', JSON '{"company": "Graft"}')""")
    assert(gs.execute(
      """SELECT variant_get(message, '$.company', 'string') AS company
         FROM cust WHERE custkey = 900101""").head().getString(0) == "Graft")
    gs.execute("ALTER TABLE cust DROP COLUMN message")
    assert(!gs.execute("SELECT * FROM cust").columns.contains("message"))
    gs.execute("ALTER TABLE cust ADD COLUMN nanos TIMESTAMP(9)")
    gs.execute(
      """INSERT INTO cust (custkey, name, mktsegment, account_balance, nation, nanos)
         VALUES (900102, 'ZETA', 'SQLE', 1, 'FRANCE',
                 TIMESTAMP '2025-08-21 12:34:56.123456789')""")
    val ns = gs.execute("SELECT nanos FROM cust WHERE custkey = 900102")
      .head().getLong(0)
    assert(ns % 1000000000L == 123456789L, s"nanos preserved, got $ns")
    // partition evolution: new spec only affects NEW files
    gs.execute("ALTER TABLE cust SET PROPERTIES partitioning = ARRAY['nation']")
    gs.execute(
      """INSERT INTO cust (custkey, name, mktsegment, account_balance, nation)
         VALUES (900103, 'ETA', 'SQLE', 1, 'ITALY')""")
    val parts = gs.execute("""SELECT * FROM "cust$partitions"""").collect()
    assert(parts.nonEmpty)
  }

  test("time travel, branching, fast-forward, rollback via SQL") {
    val gs = freshSql()
    val n = buildCust(gs)
    gs.execute(
      """INSERT INTO cust (custkey, name, mktsegment, account_balance, nation)
         VALUES (910000, 'TRAVEL', 'SQLE', 1, 'FRANCE')""")
    val snaps = gs.execute(
      """SELECT snapshot_id FROM "cust$snapshots" ORDER BY committed_at""")
      .collect().map(_.getLong(0))
    assert(gs.execute(
      s"SELECT * FROM cust FOR VERSION AS OF ${snaps.head}").count() == n)
    // branching
    gs.execute("DROP BRANCH IF EXISTS dev IN TABLE cust")
    gs.execute("CREATE BRANCH IF NOT EXISTS dev IN TABLE cust")
    gs.execute("CREATE BRANCH IF NOT EXISTS dev IN TABLE cust") // idempotent
    assert(gs.execute("SHOW BRANCHES FROM TABLE cust").count() == 2)
    gs.execute(
      """INSERT INTO cust @ dev(custkey, name, mktsegment, account_balance, nation)
         VALUES (910001, 'DEVONLY', 'SQLE', 1, 'ITALY')""")
    gs.execute("UPDATE cust @ dev SET account_balance = 0 WHERE custkey = 910001")
    gs.execute("DELETE FROM cust @ dev WHERE custkey = 910000")
    val devRows = gs.execute(
      "SELECT * FROM cust FOR VERSION AS OF 'dev'").count()
    val mainRows = gs.execute(
      "SELECT * FROM cust FOR VERSION AS OF 'main'").count()
    assert(devRows == n + 1 && mainRows == n + 1,
      s"dev=$devRows main=$mainRows — isolation holds (±DEVONLY/TRAVEL)")
    assert(gs.execute("SELECT * FROM cust").count() == mainRows)
    gs.execute("ALTER BRANCH main IN TABLE cust FAST FORWARD TO dev")
    assert(gs.execute("SELECT * FROM cust").count() == devRows)
    assert(gs.execute(
      "SELECT account_balance FROM cust WHERE custkey = 910001")
      .head().getDouble(0) == 0.0)
    // rollback to the pre-insert snapshot
    gs.execute(s"CALL system.rollback_to_snapshot('demo', 'cust', ${snaps.head})")
    assert(gs.execute("SELECT * FROM cust").count() == n)
  }

  test("maintenance EXECUTE procedures and register_table via SQL") {
    val gs = freshSql()
    val n = buildCust(gs)
    gs.execute(
      """INSERT INTO cust (custkey, name, mktsegment, account_balance, nation)
         VALUES (920000, 'MAINT', 'SQLE', 1, 'FRANCE')""")
    val before = gs.execute("SELECT * FROM cust ORDER BY custkey, name")
      .collect().toSeq
    gs.execute("ALTER TABLE cust EXECUTE expire_snapshots(retention_threshold => '7d')")
    gs.execute("ALTER TABLE cust EXECUTE remove_orphan_files(retention_threshold => '7d')")
    gs.execute("ALTER TABLE cust EXECUTE optimize(file_size_threshold => '100MB')")
    gs.execute(
      """ALTER TABLE cust EXECUTE optimize
         WHERE "$file_modified_time" > CAST(now() - INTERVAL '2' DAY AS TIMESTAMP)""")
    assert(gs.execute("SELECT * FROM cust ORDER BY custkey, name")
      .collect().toSeq == before, "maintenance must never change results")
    // register the same table under a new name
    gs.execute("DROP TABLE IF EXISTS cust_again")
    val loc = gs.cat.tableLocation("demo.cust")
    gs.execute(
      s"""CALL system.register_table(
            schema_name => 'demo',
            table_name => 'cust_again',
            table_location => '$loc')""")
    assert(gs.execute("SELECT * FROM cust_again").count() == n + 1)
  }

  test("MERGE INTO upsert shape via SQL") {
    val gs = freshSql()
    gs.execute(
      """CREATE OR REPLACE TABLE tgt AS
         SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS bal
         FROM pg.demo.customer WHERE c_custkey < 100""")
    gs.execute(
      """CREATE OR REPLACE TABLE land AS
         SELECT c_custkey AS custkey, concat('M-', c_name) AS name,
                c_acctbal + 5.0 AS bal
         FROM pg.demo.customer WHERE c_custkey >= 50 AND c_custkey < 150""")
    gs.execute(
      """MERGE INTO tgt AS b USING land AS l
         ON (b.custkey = l.custkey)
         WHEN MATCHED THEN UPDATE
         SET name = l.name, bal = l.bal
         WHEN NOT MATCHED
         THEN INSERT (custkey, name, bal) VALUES (l.custkey, l.name, l.bal)""")
    val out = gs.execute("SELECT * FROM tgt")
    // custkeys start at 0: target 0..99, landing 50..149 -> 0..149
    assert(out.count() == 150)
    assert(out.filter(col("name").startsWith("M-")).count() == 100,
      "matched rows updated from source, unmatched source rows inserted")
  }

  test("the federation aggregate runs as SQL text over catalog + source") {
    val gs = freshSql()
    buildCust(gs)
    val viaSql = gs.execute(
      """SELECT c.nation AS nation, round(sum(o.o_totalprice)) AS total_price
         FROM cust c
         JOIN pg.demo.orders o ON c.custkey = o.o_custkey
         WHERE c.mktsegment = 'AUTOMOBILE'
         GROUP BY c.nation
         ORDER BY total_price""").collect().toSeq
    assert(viaSql.nonEmpty)
    // same aggregate straight from the DataFrame API over the sources
    val cust = gs.execute("SELECT * FROM cust")
    val orders = s.read.parquet(s"$sf/orders.parquet")
    val viaDf = cust.filter(col("mktsegment") === "AUTOMOBILE")
      .join(orders, col("custkey") === col("o_custkey"))
      .groupBy(col("nation"))
      .agg(round(sum(col("o_totalprice"))).as("total_price"))
      .orderBy(col("total_price"))
      .collect().toSeq
    assert(viaSql == viaDf, "SQL text and DataFrame plans must agree")
  }

  test("property: generated adversarial literals round-trip through " +
      "INSERT/UPDATE/DELETE/SELECT dispatch") {
    // ScalaCheck generator sampled with a FIXED seed (deterministic CI;
    // no scalatestplus bridge needed): literals are concatenations of
    // the tokens most likely to confuse a statement router — dispatch
    // keywords, parens, quote escapes, comment markers, `@` branch
    // syntax. For each literal the statement must route to its intended
    // family, observable by effect: INSERT lands the exact content,
    // UPDATE rewrites it, DELETE removes it, SELECT counts zero after.
    import org.scalacheck.Gen
    val token = Gen.oneOf(
      "WHERE", "VALUES", "AND", "OR", "SELECT", "FROM", "SET",
      "MERGE INTO t USING u", "DELETE FROM", "FOR VERSION AS OF 7",
      "(", ")", "','", "'", "''", "--", "@dev", "=>", "ARRAY[1]",
      "1=1", "$path", ";", "it's", "x")
    val litGen = Gen.choose(1, 6)
      .flatMap(n => Gen.listOfN(n, token))
      .map(_.mkString(" "))
    var seed = org.scalacheck.rng.Seed(421L)
    val cases = (1 to 20).flatMap { _ =>
      val v = litGen.apply(Gen.Parameters.default, seed)
      seed = seed.next
      v
    }
    assert(cases.size >= 15, "generator should rarely discard")
    val gs = freshSql()
    gs.execute("CREATE OR REPLACE TABLE propadv AS SELECT * FROM tpch.tiny.nation")
    def esc(s: String) = s.replace("'", "''")
    cases.zipWithIndex.foreach { case (l, i) =>
      val id = 5000 + i
      gs.execute(s"""INSERT INTO propadv (n_nationkey, n_name, n_regionkey)
                     VALUES ($id, '${esc(l)}', 0)""")
      assert(gs.execute(s"SELECT n_name FROM propadv WHERE n_nationkey = $id")
        .head().getString(0) == l, s"INSERT misrouted/mangled: <$l>")
      val l2 = l + " u'p"
      gs.execute(s"""UPDATE propadv SET n_name = '${esc(l2)}'
                     WHERE n_nationkey = $id""")
      assert(gs.execute(s"SELECT n_name FROM propadv WHERE n_nationkey = $id")
        .head().getString(0) == l2, s"UPDATE misrouted/mangled: <$l>")
      gs.execute(s"""DELETE FROM propadv
                     WHERE n_nationkey = $id AND n_name = '${esc(l2)}'""")
      assert(gs.execute(
        s"SELECT count(*) AS n FROM propadv WHERE n_nationkey = $id")
        .head().getLong(0) == 0L, s"DELETE misrouted: <$l>")
    }
    assert(gs.execute("SELECT * FROM propadv").count() == 25)
  }

  test("adversarial string literals cannot misroute statement dispatch") {
    val gs = freshSql()
    gs.execute("CREATE OR REPLACE TABLE adv AS SELECT * FROM tpch.tiny.nation")
    // literal containing paren + WHERE inside an INSERT VALUES list
    gs.execute(
      """INSERT INTO adv (n_nationkey, n_name, n_regionkey)
         VALUES (991, 'a WHERE b)', 0)""")
    assert(gs.execute("SELECT * FROM adv WHERE n_nationkey = 991")
      .head().getString(1) == "a WHERE b)")
    // SET value containing ' WHERE ' — the non-greedy SET/WHERE split
    // must not cut inside the literal
    gs.execute(
      """UPDATE adv SET n_name = 'x WHERE y AND z' WHERE n_nationkey = 991""")
    assert(gs.execute("SELECT n_name FROM adv WHERE n_nationkey = 991")
      .head().getString(0) == "x WHERE y AND z")
    // DELETE predicate with a literal containing AND/parens
    gs.execute("DELETE FROM adv WHERE n_name = 'x WHERE y AND z'")
    assert(gs.execute("SELECT * FROM adv").count() == 25)
    // literal containing '' escape plus VALUES keyword
    gs.execute(
      """INSERT INTO adv (n_nationkey, n_name, n_regionkey)
         VALUES (992, 'it''s VALUES (''deep'')', 4)""")
    assert(gs.execute("SELECT n_name FROM adv WHERE n_nationkey = 992")
      .head().getString(0) == "it's VALUES ('deep')")
  }

  test("snapshot-compare: one statement reads two versions of one table") {
    val gs = freshSql()
    gs.execute("CREATE OR REPLACE TABLE sc AS SELECT * FROM tpch.tiny.nation")
    gs.execute("INSERT INTO sc (n_nationkey, n_name, n_regionkey) VALUES (990, 'ATLANTIS', 0)")
    val snaps = gs.execute(
      """SELECT snapshot_id FROM "sc$snapshots" ORDER BY committed_at""")
      .collect().map(_.getLong(0))
    // each FOR VERSION AS OF reference must get its OWN binding — a
    // per-table binding would silently read one version on both sides
    val diff = gs.execute(
      s"""SELECT count(*) AS added FROM sc FOR VERSION AS OF ${snaps.last}
          WHERE n_nationkey NOT IN
            (SELECT n_nationkey FROM sc FOR VERSION AS OF ${snaps.head})""")
    assert(diff.head().getLong(0) == 1L)
    val counts = gs.execute(
      s"""SELECT (SELECT count(*) FROM sc FOR VERSION AS OF ${snaps.head}) AS a,
                 (SELECT count(*) FROM sc FOR VERSION AS OF ${snaps.last}) AS b""")
      .head()
    assert(counts.getLong(0) == 25L && counts.getLong(1) == 26L)
  }

  test("pre-existing session view with a catalog table's name fails loudly") {
    val gs = freshSql()
    gs.execute("CREATE OR REPLACE TABLE shadowed AS SELECT * FROM tpch.tiny.nation")
    s.range(3).createOrReplaceTempView("shadowed")
    try {
      intercept[IllegalStateException](gs.execute("SELECT * FROM shadowed"))
    } finally s.catalog.dropTempView("shadowed")
    assert(gs.execute("SELECT * FROM shadowed").count() == 25)
  }

  test("a digit-leading table name binds as one whole token") {
    val gs = freshSql()
    gs.execute("CREATE SCHEMA s1")
    gs.execute("CREATE TABLE s1.2024_sales AS SELECT * FROM tpch.tiny.nation")
    assert(gs.execute("""SELECT count(*) FROM "2024_sales"""").head()
      .getLong(0) == 25L)
  }

  test("a bare name binds the current schema's table, as time travel does") {
    val gs = freshSql()
    gs.execute("CREATE SCHEMA s1")
    gs.execute("CREATE SCHEMA s2")
    gs.execute("CREATE TABLE s1.t AS SELECT * FROM tpch.tiny.region WHERE r_regionkey = 0")
    gs.execute("CREATE TABLE s2.t AS SELECT * FROM tpch.tiny.nation WHERE n_nationkey < 5")
    gs.execute("USE s2")
    val head = gs.cat.table("s2.t").meta.currentSnapshotId.get
    def count(sql: String) = gs.execute(sql).head().getLong(0)
    assert(count("SELECT count(*) FROM t") == 5L)
    assert(count(s"SELECT count(*) FROM t FOR VERSION AS OF $head") == 5L)
    // no current schema: the bare name is ambiguous, and the error says
    // which tables it could mean
    val err = intercept[IllegalArgumentException](
      gs.cat.sql("SELECT count(*) FROM t"))
    assert(err.getMessage.contains("s1.t") && err.getMessage.contains("s2.t"),
      err.getMessage)
    // a table only another schema holds: a plain read, time travel and
    // DML all resolve the bare name to it
    gs.execute("CREATE TABLE s1.u AS SELECT * FROM tpch.tiny.nation WHERE n_nationkey < 3")
    val uHead = gs.cat.table("s1.u").meta.currentSnapshotId.get
    assert(count("SELECT count(*) FROM u") == 3L)
    assert(count(s"SELECT count(*) FROM u FOR VERSION AS OF $uHead") == 3L)
    gs.execute("DELETE FROM u WHERE n_nationkey = 0")
    assert(gs.cat.table("s1.u").read().count() == 2L)
    // in a schema holding neither `t`, the word still works as a column;
    // only a table reference to it fails, naming both tables
    gs.execute("CREATE SCHEMA s3")
    gs.execute("USE s3")
    assert(count("SELECT count(t) FROM (SELECT 1 AS t)") == 1L)
    val err3 = intercept[IllegalArgumentException](
      gs.execute("SELECT count(*) FROM t"))
    assert(err3.getMessage.contains("s1.t") && err3.getMessage.contains("s2.t"),
      err3.getMessage)
  }

  test("meta-column read is scoped to the referencing table only") {
    val gs = freshSql()
    gs.execute("CREATE OR REPLACE TABLE mt1 AS SELECT * FROM tpch.tiny.nation")
    gs.execute("CREATE OR REPLACE TABLE mt2 AS SELECT * FROM tpch.tiny.region")
    // t1's lineage read must not leak $-columns into t2's star expansion
    val out = gs.execute(
      """SELECT a."$row_id", b.*
         FROM mt1 a JOIN mt2 b ON a.n_regionkey = b.r_regionkey""")
    assert(out.columns.count(_.startsWith("$")) == 1,
      s"only the qualified $$row_id should appear, got ${out.columns.mkString(",")}")
    assert(out.columns.toSet
      .intersect(Set("$path", "$partition", "$file_modified_time")).isEmpty,
      "mt2.* must not gain meta columns")
    assert(out.count() == 25)
  }

  test("MERGE distinguishes keep-target from take-source assignments") {
    val gs = freshSql()
    gs.execute(
      """CREATE OR REPLACE TABLE mtgt AS
         SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS bal
         FROM pg.demo.customer WHERE c_custkey < 50""")
    gs.execute(
      """CREATE OR REPLACE TABLE mland AS
         SELECT c_custkey AS custkey, concat('L-', c_name) AS name,
                c_acctbal + 100.0 AS bal
         FROM pg.demo.customer WHERE c_custkey < 50""")
    // SET name = l.name (take source), bal = b.bal (KEEP target) — the
    // keep-target side must not be silently treated as source passthrough
    gs.execute(
      """MERGE INTO mtgt AS b USING mland AS l
         ON (b.custkey = l.custkey)
         WHEN MATCHED THEN UPDATE SET name = l.name, bal = b.bal""")
    val rows = gs.execute("SELECT * FROM mtgt").collect()
    assert(rows.forall(_.getString(1).startsWith("L-")), "name from source")
    val orig = gs.execute("SELECT custkey, bal FROM mland").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1) - 100.0)).toMap
    assert(rows.forall(r => math.abs(r.getDouble(2) - orig(r.getLong(0))) < 1e-9),
      "bal must keep the TARGET value")
    // matched condition referencing both sides must compare tgt vs src:
    // alias-stripping both sides collapses it to `name != name` (always
    // false, merge becomes a no-op). Make the condition TRUE everywhere
    // and assert the update actually happened.
    gs.execute("UPDATE mland SET name = 'RENAMED' WHERE custkey >= 0")
    gs.execute(
      """MERGE INTO mtgt AS b USING mland AS l
         ON (b.custkey = l.custkey)
         WHEN MATCHED AND b.name != l.name THEN UPDATE SET bal = l.bal""")
    val after = gs.execute("SELECT custkey, bal FROM mtgt").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val land = gs.execute("SELECT custkey, bal FROM mland").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == land,
      "tgt.name != src.name is true for every row -> bal taken from source")
  }

  test("SHOW SCHEMAS / SHOW TABLES / DROP SCHEMA") {
    val gs = freshSql()
    assert(gs.execute("SHOW SCHEMAS").collect().map(_.getString(0))
      .contains("demo"))
    gs.execute("CREATE OR REPLACE TABLE st1 AS SELECT * FROM tpch.tiny.nation")
    gs.execute("CREATE OR REPLACE TABLE st2 AS SELECT * FROM tpch.tiny.region")
    val tables = gs.execute("SHOW TABLES").collect().map(_.getString(0)).toSet
    assert(Set("st1", "st2").subsetOf(tables))
    assert(gs.execute("SHOW TABLES FROM lake.demo").collect()
      .map(_.getString(0)).toSet == tables)
    // a non-empty schema refuses to drop (no implicit CASCADE)
    intercept[IllegalArgumentException](gs.execute("DROP SCHEMA demo"))
    gs.execute("CREATE SCHEMA IF NOT EXISTS scratch_schema")
    gs.execute("DROP SCHEMA scratch_schema")
    assert(!gs.execute("SHOW SCHEMAS").collect().map(_.getString(0))
      .contains("scratch_schema"))
    gs.execute("DROP SCHEMA IF EXISTS scratch_schema") // idempotent
    intercept[IllegalArgumentException](gs.execute("DROP SCHEMA scratch_schema"))
  }

  test("FOR TIMESTAMP AS OF reads the snapshot current at that instant") {
    val gs = freshSql()
    gs.execute("CREATE OR REPLACE TABLE tt AS SELECT * FROM tpch.tiny.nation")
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    gs.execute("INSERT INTO tt (n_nationkey, n_name, n_regionkey) VALUES (990, 'ATLANTIS', 0)")
    def fmt(ms: Long) = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    assert(gs.execute(
      s"SELECT * FROM tt FOR TIMESTAMP AS OF TIMESTAMP '${fmt(mid)} UTC'")
      .count() == 25, "pre-insert instant must see the CTAS snapshot")
    assert(gs.execute(
      s"""SELECT * FROM tt FOR TIMESTAMP AS OF
          TIMESTAMP '${fmt(System.currentTimeMillis())}'""").count() == 26)
    // two instants over ONE table in one statement bind independently
    val both = gs.execute(
      s"""SELECT
            (SELECT count(*) FROM tt FOR TIMESTAMP AS OF TIMESTAMP '${fmt(mid)}') AS a,
            (SELECT count(*) FROM tt FOR TIMESTAMP AS OF
               TIMESTAMP '${fmt(System.currentTimeMillis())}') AS b""").head()
    assert(both.getLong(0) == 25L && both.getLong(1) == 26L)
  }

  test("multi-statement script execution") {
    val gs = freshSql()
    val results = gs.executeScript(
      """-- a small script with comments and multi-line statements
        CREATE OR REPLACE TABLE nat AS SELECT * FROM tpch.tiny.nation;
        INSERT INTO nat (n_nationkey, n_name, n_regionkey)
        VALUES (990, 'ATLANTIS', 0); -- trailing comment
        SELECT count(*) AS n FROM nat;
      """)
    assert(results.last.head().getLong(0) == 26L)
  }
}
