package graft.lake

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Golden lifecycle tests replaying `iceberg_trino_sqldemo.sql` §§-by-§§
  * (SURVEY §5.2): every intermediate SELECT of the script is an assertion
  * here, plus the invariants (optimize preserves results, rollback
  * restores pre-state, branch writes invisible on main, row lineage
  * stable across UPDATE).
  */
class LakeLifecycleSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  private def tmpLoc(): String =
    Files.createTempDirectory("lake-test-").resolve("t").toString

  private def customers(n: Int = 30): DataFrame =
    s.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_custkey") < n)
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("c_acctbal").as("account_balance"),
        col("c_mktsegment").as("mktsegment"))

  test("CTAS → scan roundtrip (sql:19-44)") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers()),
      partitioning = Seq("mktsegment"),
      properties = Map("merge_mode" -> "merge-on-read"))
    assert(t.read().count() == 30)
    assert(t.read().columns.toSeq ==
      Seq("custkey", "name", "account_balance", "mktsegment"))
    // identity-partitioned: one+ file per segment, partition recorded
    val files = t.metaTable("files")
    assert(files.filter(col("content") === 0).count() >= 1)
    assert(t.metaTable("partitions").count() ==
      t.read().select("mktsegment").distinct().count())
  }

  test("INSERT appends and snapshots accumulate (sql:103-112)") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers(10)))
    import s.implicits._
    t.append(Seq((2001L, "Pierre", 10.0, "SQLENGINE"),
        (2002L, "Paul", 20.0, "SQLENGINE"))
      .toDF("custkey", "name", "account_balance", "mktsegment"))
    assert(t.read().count() == 12)
    assert(t.read(col("mktsegment") === "SQLENGINE").count() == 2)
    val snaps = t.metaTable("snapshots")
    assert(snaps.count() == 2)
    assert(snaps.filter(col("operation") === "append").count() == 2)
  }

  test("MoR UPDATE preserves $row_id, bumps sequence (sql:129-135)") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers(10)),
      properties = Map("merge_mode" -> "merge-on-read"))
    val before = t.readWithMetaColumns()
      .filter(col("custkey") === 5L)
      .select(col("$row_id"), col("$last_updated_sequence_number"))
      .head()
    t.update(col("custkey") === 5L,
      Map("account_balance" -> lit(1000.0)))
    val after = t.readWithMetaColumns().filter(col("custkey") === 5L)
    assert(after.count() == 1)
    val row = after.select(col("account_balance"), col("$row_id"),
      col("$last_updated_sequence_number")).head()
    assert(row.getDouble(0) == 1000.0)
    assert(row.getLong(1) == before.getLong(0), "$row_id must be stable")
    assert(row.getLong(2) > before.getLong(1), "sequence must advance")
    // total row count unchanged
    assert(t.read().count() == 10)
    // a delete file now exists ($files content=1, sql:141-143)
    assert(t.metaTable("files").filter(col("content") === 1).count() >= 1)
  }

  test("MoR DELETE with IN-list (sql:137-139)") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers(10)),
      properties = Map("merge_mode" -> "merge-on-read"))
    t.delete(col("custkey").isin(2L, 3L))
    assert(t.read().count() == 8)
    assert(t.read(col("custkey").isin(2L, 3L)).count() == 0)
  }

  test("CoW UPDATE and DELETE rewrite files (sql:25 copy-on-write)") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers(10)),
      properties = Map("merge_mode" -> "copy-on-write"))
    t.update(col("custkey") === 1L, Map("name" -> lit("rewritten")))
    assert(t.read(col("custkey") === 1L).select("name").head().getString(0)
      == "rewritten")
    assert(t.read().count() == 10)
    t.delete(col("custkey") === 2L)
    assert(t.read().count() == 9)
    // CoW never writes delete files
    assert(t.metaTable("files").filter(col("content") === 1).count() == 0)
  }

  test("MERGE: matched update + not-matched insert (sql:146-161)") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(customers(5)))
    val source = Seq((1L, "Updated One", 11.0, "SEG"),
        (99L, "Fresh", 99.0, "SEG"))
      .toDF("custkey", "name", "account_balance", "mktsegment")
    t.merge(source, Seq("custkey"),
      matchedCondition = Some(col("name") =!= col("src_name")))
    assert(t.read().count() == 6)
    assert(t.read(col("custkey") === 1L).select("name").head().getString(0)
      == "Updated One")
    assert(t.read(col("custkey") === 99L).count() == 1)
  }

  test("time travel + rollback (sql:213-231)") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers(10)))
    val snap1 = t.meta.currentSnapshotId.get
    import s.implicits._
    t.append(Seq((500L, "late", 0.0, "X"))
      .toDF("custkey", "name", "account_balance", "mktsegment"))
    assert(t.read().count() == 11)
    assert(t.asOf(snap1).count() == 10, "FOR VERSION AS OF old snapshot")
    t.rollback(snap1)
    assert(t.read().count() == 10, "rollback restores pre-state")
    // the abandoned snapshot remains readable
    assert(t.metaTable("snapshots").count() == 2)
  }

  test("branching: isolation then fast-forward (sql:234-255)") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(customers(10)),
      properties = Map("merge_mode" -> "merge-on-read"))
    t.createBranch("dev")
    t.append(Seq((600L, "dev-only", 1.0, "D"))
      .toDF("custkey", "name", "account_balance", "mktsegment"), branch = "dev")
    t.update(col("custkey") === 600L, Map("name" -> lit("dev-renamed")),
      branch = "dev")
    t.delete(col("custkey") === 1L, branch = "dev")
    // main untouched (sql:243-247)
    assert(t.read().count() == 10)
    assert(t.read(col("custkey") === 600L).count() == 0)
    // dev sees all three DMLs
    assert(t.readRef("dev").count() == 10) // +1 insert, -1 delete
    assert(t.readRef("dev").filter(col("custkey") === 600L)
      .select("name").head().getString(0) == "dev-renamed")
    // fast-forward main → dev (sql:249-251)
    t.fastForward("main", "dev")
    assert(t.read().count() == 10)
    assert(t.read(col("custkey") === 600L).count() == 1)
    // non-fast-forward rejected
    intercept[IllegalArgumentException] {
      t.fastForward("dev", "dev") // dev == dev head: ancestor of itself → ok actually
      t.createBranch("other")
      t.append(Seq((601L, "x", 1.0, "D"))
        .toDF("custkey", "name", "account_balance", "mktsegment"))
      t.fastForward("main", "other") // other is behind main now
    }
  }

  test("CDC table_changes (sql:114-125)") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(customers(5)),
      properties = Map("merge_mode" -> "merge-on-read"))
    val s0 = t.meta.currentSnapshotId.get
    t.append(Seq((100L, "ins", 1.0, "A"))
      .toDF("custkey", "name", "account_balance", "mktsegment"))
    t.update(col("custkey") === 100L, Map("name" -> lit("upd")))
    t.delete(col("custkey") === 0L)
    val end = t.meta.currentSnapshotId.get
    val ch = t.changes(s0, end).cache()
    // ordinal 1: insert of 100; ordinal 2: delete+insert (update);
    // ordinal 3: delete of 0
    assert(ch.filter(col("_change_ordinal") === 1 &&
      col("_change_type") === "insert").count() == 1)
    assert(ch.filter(col("_change_ordinal") === 2 &&
      col("_change_type") === "delete").count() == 1)
    assert(ch.filter(col("_change_ordinal") === 2 &&
      col("_change_type") === "insert" && col("name") === "upd").count() == 1)
    assert(ch.filter(col("_change_ordinal") === 3 &&
      col("_change_type") === "delete" && col("custkey") === 0L).count() == 1)
    ch.unpersist()
  }

  test("optimize compacts without changing results (sql:258-268)") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(customers(10)),
      properties = Map("merge_mode" -> "merge-on-read"))
    (1 to 3).foreach { i =>
      t.append(Seq((1000L + i, s"extra$i", i.toDouble, "Z"))
        .toDF("custkey", "name", "account_balance", "mktsegment"))
    }
    t.delete(col("custkey") === 1001L)
    val before = t.read().orderBy("custkey").collect().toSeq
    val filesBefore = t.metaTable("files").filter(col("content") === 0).count()
    val snap = t.optimize()
    assert(snap.nonEmpty)
    assert(snap.get.operation == "replace")
    val after = t.read().orderBy("custkey").collect().toSeq
    assert(before == after, "optimize must not change query results")
    val filesAfter = t.metaTable("files").filter(col("content") === 0).count()
    assert(filesAfter < filesBefore)
    // full compaction consumed the deletion vectors
    assert(t.metaTable("files").filter(col("content") === 1).count() == 0)
  }

  test("expire_snapshots + remove_orphan_files (sql:260-261)") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(customers(5)))
    t.append(Seq((7L, "a", 1.0, "A"))
      .toDF("custkey", "name", "account_balance", "mktsegment"))
    val oldSnap = t.meta.currentSnapshotId.get
    t.delete(col("custkey") === 7L) // CoW-by-default? default MoR
    t.optimize() // rewrites → old files now only needed by history
    val nSnaps = t.metaTable("snapshots").count()
    t.expireSnapshots(olderThanMs = -60000) // future cutoff: only ref-reachable kept
    assert(t.metaTable("snapshots").count() < nSnaps)
    // current data unaffected
    assert(t.read().count() == 5)
    // orphans: drop an unreferenced file into data/
    val orphan = java.nio.file.Paths.get(t.location, "data", "orphan.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    val removed = t.removeOrphanFiles(olderThanMs = -1000) // future cutoff
    assert(removed.contains("data/orphan.parquet"))
    assert(!Files.exists(orphan))
    // a manifest written before a LOSING commit CAS is orphaned under
    // metadata/ — must be collected too, but never a referenced one
    val orphanManifest = java.nio.file.Paths.get(t.location, "metadata",
      "manifest-999-deadbeef.json")
    Files.write(orphanManifest, "{}".getBytes)
    val referenced = t.meta.snapshots.flatMap(_.manifests).toSet
    val removed2 = t.removeOrphanFiles(olderThanMs = -1000)
    assert(removed2.contains("metadata/manifest-999-deadbeef.json"))
    assert(!Files.exists(orphanManifest))
    assert(referenced.forall(rel =>
      Files.exists(java.nio.file.Paths.get(t.location, rel))),
      "live manifests must survive orphan collection")
    assert(t.read().count() == 5)
  }

  test("remove_orphan_files collects a crashed write's stage directories") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers(5)))
    // `Writer` stages every write under `.stage-*` / `.stage-del-*`; a
    // write that dies before its finally leaves the directory behind
    def stage(name: String, mtime: Long): java.nio.file.Path = {
      val d = Files.createDirectories(
        java.nio.file.Paths.get(t.location, name, "_p_x=1"))
      val f = Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
      val ft = java.nio.file.attribute.FileTime.fromMillis(mtime)
      Seq(f, d, d.getParent).foreach(Files.setLastModifiedTime(_, ft))
      d.getParent
    }
    val crashed = stage(".stage-1234", 0L)
    val crashedDel = stage(".stage-del-5678", 0L)
    val inFlight = stage(".stage-9999", System.currentTimeMillis())
    val removed = t.removeOrphanFiles(olderThanMs = 60000)
    assert(removed.contains(".stage-1234") &&
      removed.contains(".stage-del-5678"), removed)
    assert(!Files.exists(crashed) && !Files.exists(crashedDel))
    assert(Files.exists(inFlight) && !removed.contains(".stage-9999"),
      "a stage directory younger than the cutoff may be a live write")
    assert(t.read().count() == 5)
  }

  test("schema evolution: add w/ default, rename, drop (sql:166-189)") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(customers(5)))
    t.addColumn("phone", StringType, default = Some("+33606060606"))
    // old rows see the default (v3 default semantics)
    assert(t.read().filter(col("phone") === "+33606060606").count() == 5)
    // insert w/o the column → default fills
    t.append(Seq((50L, "new", 1.0, "A"))
      .toDF("custkey", "name", "account_balance", "mktsegment"))
    assert(t.read().filter(col("phone") === "+33606060606").count() == 6)
    // rename keeps data (field-id mapping)
    t.renameColumn("phone", "phone_number")
    assert(t.read().filter(col("phone_number") === "+33606060606").count() == 6)
    // drop
    t.dropColumn("phone_number")
    assert(!t.read().columns.contains("phone_number"))
    assert(t.read().count() == 6)
  }

  test("partition evolution: per-file specs (sql:193-209)") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(customers(10)),
      partitioning = Seq("mktsegment"))
    t.setPartitioning(Seq("bucket(custkey, 4)"))
    t.append(Seq((77L, "bucketed", 1.0, "B"))
      .toDF("custkey", "name", "account_balance", "mktsegment"))
    val parts = t.metaTable("partitions")
    assert(parts.select("spec_id").distinct().count() == 2,
      "old files keep old spec, new files use new spec")
    assert(t.read().count() == 11)
  }

  test("pruning on an evolved spec's column never drops old-spec files") {
    import s.implicits._
    // the multi-spec trap: files written under an OLD spec are not
    // partitioned by the new spec's column — a pruner that evaluates
    // every file against the CURRENT spec would wrongly drop them
    // (silent row loss); each file must prune against ITS OWN spec,
    // where an absent partition field contributes no pruning
    // literal rows so the OLD file provably contains a match (a
    // stats-only prune of a matchless old file would be legitimate)
    val t = LakeTable.create(s, tmpLoc(), Right(Seq(
        (1L, "old-A", 1.0, "AUTOMOBILE"), (2L, "old-B", 1.0, "BUILDING"))
      .toDF("custkey", "name", "account_balance", "mktsegment")
      .coalesce(1)))
    t.setPartitioning(Seq("mktsegment"))
    t.append(Seq(
        (101L, "new-A", 1.0, "AUTOMOBILE"), (102L, "new-B", 1.0, "BUILDING"))
      .toDF("custkey", "name", "account_balance", "mktsegment"))
    val pred = col("mktsegment") === "AUTOMOBILE"
    assert(t.read(pred).count() == 2,
      "old-spec rows must survive a filter on the new partition column")
    val m = t.meta
    val (files, _) = Meta.liveFiles(m, m.currentSnapshot.get)
    val pruned = Scan.pruneFiles(m, files, Some(pred))
    assert(pruned.exists(_.specId == 0),
      "unpartitioned spec-0 files must be scanned, not pruned")
    assert(pruned.size < files.size,
      "the non-matching new-spec partition file must still prune")
  }

  test("hidden partition pruning skips files (sql:13-15, EP1)") {
    val orders = s.read.parquet(s"$sf/orders.parquet")
    val t = LakeTable.create(s, tmpLoc(), Right(orders),
      partitioning = Seq("year(o_orderdate)"))
    val m = t.meta
    val (files, _) = Meta.liveFiles(m, m.currentSnapshot.get)
    assert(files.size > 1, "year partitioning must produce multiple files")
    val pred = col("o_orderdate") >=
      lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
      col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
    val pruned = Scan.pruneFiles(m, files, Some(pred))
    assert(pruned.size < files.size, "pruning must drop out-of-range years")
    // correctness: pruned scan ≡ unpruned scan
    val expected = orders.filter(pred).count()
    assert(t.read(pred).count() == expected)
  }

  test("metadata columns $path/$file_modified_time/$partition (sql:65-72)") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers(5)),
      partitioning = Seq("mktsegment"))
    val df = t.readWithMetaColumns()
    val row = df.head()
    assert(row.getAs[String]("$path").contains("/data/"))
    assert(row.getAs[java.sql.Timestamp]("$file_modified_time") != null)
    assert(row.getAs[String]("$partition").contains("mktsegment="))
    assert(df.filter(col("$row_id").isNull).count() == 0)
  }

  test("ANALYZE + SHOW STATS (sql:48-49)") {
    val t = LakeTable.create(s, tmpLoc(), Right(customers(20)))
    val st = t.analyze()
    assert(st.rowCount == 20)
    val shown = t.showStats()
    assert(shown.filter(col("column_name").isNull)
      .select("row_count").head().getLong(0) == 20)
    assert(shown.filter(col("column_name") === "custkey")
      .select("distinct_values_count").head().getDouble(0) > 0)
  }

  test("CREATE OR REPLACE keeps history, resets content (sql:11-17)") {
    val loc = tmpLoc()
    val t1 = LakeTable.create(s, loc, Right(customers(5)))
    assert(t1.read().count() == 5)
    val t2 = LakeTable.create(s, loc, Right(customers(8)), replace = true)
    assert(t2.read().count() == 8)
    // old snapshot still in the log (metadata_log keeps growing)
    assert(t2.metaTable("snapshots").count() == 2)
    assert(t2.metaTable("metadata_log_entries").count() >= 3)
  }

  test("nanosecond timestamps round-trip as long nanos (sql:185-187)") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(),
      Right(Seq((1L, 1704067200123456789L)).toDF("id", "ts_ns")))
    val got = t.read().select("ts_ns").head().getLong(0)
    assert(got == 1704067200123456789L, "no precision loss")
    assert(graft.functions.TrinoFunctions != null)
  }

  test("variant/JSON column round-trip (sql:175-177)") {
    import s.implicits._
    val df = Seq((1L, """{"company": "Starburst"}"""))
      .toDF("id", "message_raw")
      .withColumn("message", parse_json(col("message_raw")))
      .drop("message_raw")
    val t = LakeTable.create(s, tmpLoc(), Right(df))
    val got = t.read()
      .select(variant_get(col("message"), "$.company", "string"))
      .head().getString(0)
    assert(got == "Starburst")
  }

  test("bloom_filter_columns property lands parquet blooms in every " +
      "data file; point lookups unaffected") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.{Path => HPath}
    import scala.jdk.CollectionConverters._
    val t = LakeTable.create(s, tmpLoc(), Right(customers(80)),
      properties = Map("bloom_filter_columns" -> "custkey"))
    t.append(customers(120).filter(col("custkey") >= 80))
    val conf = s.sessionState.newHadoopConf()
    val dataFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(t.location, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { p =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HPath(p.toString), conf))
      try r.getFooter.getBlocks.asScala.foreach { b =>
        val cc = b.getColumns.asScala
          .find(_.getPath.toDotString == "custkey").get
        assert(cc.getBloomFilterOffset >= 0,
          s"no bloom for custkey in $p")
        // non-listed columns must not pay the filter's footprint
        val other = b.getColumns.asScala
          .find(_.getPath.toDotString == "name").get
        assert(other.getBloomFilterOffset < 0,
          s"unexpected bloom for name in $p")
      } finally r.close()
    }
    assert(t.read(col("custkey") === 77).count() == 1)
    assert(t.read(col("custkey") === 9999).count() == 0)
  }

  test("incremental MV: delta refresh ≡ recompute; DML forces rebuild; " +
      "compact invariant; noop when current") {
    def state(loc: String): Seq[(Long, Long, Double)] =
      IncrementalMv.read(s, loc)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 100).toDouble / 100))
        .sortBy(_._1).toSeq
    def expected(t: LakeTable): Seq[(Long, Long, Double)] =
      t.read().groupBy(col("custkey"))
        .agg(count(lit(1)).as("n"), sum(col("account_balance")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 100).toDouble / 100))
        .sortBy(_._1).toSeq
    val src = LakeTable.create(s, tmpLoc(), Right(customers(40)))
    val mvLoc = tmpLoc()
    IncrementalMv.create(s, mvLoc, src,
      groupCols = Seq("custkey"), sumCols = Seq("account_balance"))
    assert(IncrementalMv.refresh(s, mvLoc) == "noop")
    // two appends → ONE incremental refresh covers both commits
    src.append(customers(60).filter(col("custkey") >= 40))
    src.append(customers(80).filter(col("custkey") >= 60))
    assert(IncrementalMv.refresh(s, mvLoc) == "incremental")
    assert(state(mvLoc) == expected(src),
      "delta partials must reproduce the full aggregate")
    // compact folds deltas; read and properties are invariant
    val propsBefore = LakeTable.forLocation(s, mvLoc).properties
    IncrementalMv.compact(s, mvLoc)
    assert(state(mvLoc) == expected(src), "compact must not change reads")
    assert(LakeTable.forLocation(s, mvLoc).properties("graft.mv.source")
      == propsBefore("graft.mv.source"))
    // one folded partial row per key after compact
    val t = LakeTable.forLocation(s, mvLoc)
    assert(t.read().count() == expected(src).size.toLong)
    // row-level DML in the range → refresh must detect and rebuild
    src.delete(col("custkey") % 7 === 0)
    assert(IncrementalMv.refresh(s, mvLoc) == "rebuild")
    assert(state(mvLoc) == expected(src),
      "rebuild must reproduce the post-DML aggregate")
  }

  test("a byte-copied table directory is a fully working table at its " +
      "new location — and never touches the original") {
    // Every path in the metadata is location-relative and loadVersion
    // pins `location` to the load path, so cp -r IS table relocation
    // (what register_table, bench scenario cloning, and a 100 TB
    // DR-copy all rely on). A copy that kept the embedded absolute
    // location would read — and write — the ORIGINAL directory.
    val srcLoc = tmpLoc()
    val t0 = LakeTable.create(s, srcLoc, Right(customers(20)))
    t0.append(customers(30).filter(col("custkey") >= 20))
    val v0 = Meta.currentVersion(srcLoc).get
    val rows0 = t0.read().orderBy("custkey").collect().toSeq

    val dstLoc = tmpLoc()
    import scala.jdk.CollectionConverters._
    val sp = java.nio.file.Paths.get(srcLoc)
    val dp = java.nio.file.Paths.get(dstLoc)
    val walk = Files.walk(sp)
    try walk.sorted().iterator().asScala.foreach { p =>
      val tgt = dp.resolve(sp.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(tgt)
      else Files.copy(p, tgt)
    } finally walk.close()
    val t1 = LakeTable.forLocation(s, dstLoc)
    assert(t1.meta.location == dstLoc,
      "loaded metadata must adopt the directory it was loaded from")
    assert(t1.read().orderBy("custkey").collect().toSeq == rows0)
    // writes land at the copy...
    t1.delete(col("custkey") < 10)
    t1.append(customers(5))
    assert(t1.read().count() == rows0.size.toLong - 10 + 5)
    // ...and the original is bit-for-bit untouched
    assert(Meta.currentVersion(srcLoc).get == v0,
      "copy's commits must not advance the original's version")
    assert(LakeTable.forLocation(s, srcLoc)
      .read().orderBy("custkey").collect().toSeq == rows0)
  }

  // ---- v3 row lineage: ids inherited from the commit ---------------------

  /** id → $row_id of every live row. */
  private def rowIds(t: LakeTable): Map[Long, Long] =
    t.readWithMetaColumns().select(col("id"), col("$row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def liveData(t: LakeTable): List[Meta.DataFileEntry] =
    Meta.liveFiles(t.meta, t.meta.currentSnapshot.get)._1

  private def storedIds(t: LakeTable, f: Meta.DataFileEntry): DataFrame =
    s.read.parquet(s"${t.location}/${f.path}").select(Writer.RowId)

  test("unpartitioned appends inherit dense row ids in input order") {
    // 4 and 3 input partitions of consecutive ids: the stored-id
    // numbering gave every row $row_id = id (lake_row_lineage's contract)
    val t = LakeTable.create(s, tmpLoc(), Right(s.range(0, 100, 1, 4)
      .select(col("id"), (col("id") * 10).as("v"))))
    t.append(s.range(100, 160, 1, 3).select(col("id"), (col("id") * 10).as("v")))
    assert(rowIds(t) == (0L until 160L).map(i => i -> i).toMap)
    assert(t.meta.nextRowId == 160L)
    val files = liveData(t)
    assert(files.size == 7)
    files.foreach { f =>
      val first = f.firstRowId.getOrElse(fail(s"${f.path} inherits no ids"))
      assert(storedIds(t, f).filter(col(Writer.RowId).isNotNull).count() == 0,
        "a new file stores no row ids")
      assert(f.stats(Writer.RowId) == Meta.ColumnStats(Some(first.toString),
        Some((first + f.recordCount - 1).toString), 0L))
    }
    assert(files.flatMap(_.firstRowId).sorted ==
      Seq(0L, 25L, 50L, 75L, 100L, 120L, 140L))
  }

  test("inherited row ids survive row-group and page skipping") {
    // many small row groups and pages per file: a pushed-down filter
    // skips most of them, and row_index must still count from the file
    val conf = Seq("parquet.block.size" -> "8192",
      "parquet.page.row.count.limit" -> "64")
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    val t =
      try LakeTable.create(s, tmpLoc(), Right(s.range(0, 20000, 1, 2)
        .select(col("id"), sha2(col("id").cast("string"), 256).as("pad"))))
      finally conf.foreach { case (k, _) => s.conf.unset(k) }
    val probe = t.readWithMetaColumns()
      .filter(col("id") === 13333L || col("id") > 19990L)
      .select(col("id"), col("$row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(probe.length == 10 && probe.forall { case (id, rid) => id == rid })
  }

  test("partitioned appends inherit unique, dense row ids") {
    val batch = (from: Long, to: Long) => s.range(from, to, 1, 4)
      .select(col("id"), (col("id") % 5).as("g"))
    val t = LakeTable.create(s, tmpLoc(), Right(batch(0, 200)),
      partitioning = Seq("g"))
    t.append(batch(200, 300))
    val ids = rowIds(t)
    assert(ids.size == 300)
    assert(ids.values.toSeq.sorted == (0L until 300L))
    assert(ids.filter(_._1 >= 200).values.forall(_ >= 200L),
      "the second append's ids start at the watermark")
    assert(liveData(t).forall(_.firstRowId.isDefined))
  }

  test("optimize writes inherited row ids unchanged") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(Seq((1L, 10L), (2L, 20L))
      .toDF("id", "v")), properties = Map("merge_mode" -> "merge-on-read"))
    (3L to 5L).foreach(i => t.append(Seq((i, i * 10)).toDF("id", "v")))
    t.delete(col("id") === 4L)
    val before = rowIds(t)
    val watermark = t.meta.nextRowId
    assert(t.optimize().map(_.operation).contains("replace"))
    assert(rowIds(t) == before)
    assert(t.meta.nextRowId == watermark, "a rewrite mints no ids")
    val files = liveData(t)
    assert(files.forall(_.firstRowId.isEmpty), "a rewrite stores its ids")
    files.foreach(f => assert(storedIds(t, f).collect().map(_.getLong(0))
      .toSet.subsetOf(before.values.toSet)))
  }

  test("a table whose manifests carry no firstRowId reads its stored ids " +
      "and time-travels") {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val loc = tmpLoc()
    val t = LakeTable.create(s, loc,
      Left(new StructType().add("id", LongType).add("v", LongType)),
      properties = Map("merge_mode" -> "merge-on-read"))
    // A data file as tables written before inheritance hold it: the ids
    // stored in the file, and a manifest entry without `firstRowId`.
    def legacyCommit(snapId: Long, rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = Files.createTempDirectory("legacy-")
      rows.toDF("id", "v", Writer.RowId)
        .withColumn(Writer.LastUpdatedSeq, lit(snapId)).coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val ls = Files.list(stage)
      val part = try ls.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        finally ls.close()
      val target = java.nio.file.Paths.get(loc, "data", s"legacy-$snapId.parquet")
      Files.createDirectories(target.getParent)
      Files.move(part, target)
      val (lo, hi) = (rows.map(_._3).min, rows.map(_._3).max)
      val rel = s"metadata/manifest-legacy-$snapId.json"
      Files.write(java.nio.file.Paths.get(loc, rel), (
        s"""{"addedData":[{"path":"data/legacy-$snapId.parquet","specId":0,""" +
        s""""schemaId":0,"partition":{},"recordCount":${rows.size},""" +
        s""""sizeBytes":${Files.size(target)},"stats":{"_row_id":""" +
        s"""{"min":"$lo","max":"$hi","nullCount":0}},"dataSeq":$snapId}],""" +
        """"addedDeletes":[],"removedDataPaths":[],"removedDeletePaths":[]}""")
        .getBytes("UTF-8"))
      val m = Meta.load(loc)
      val parent = m.currentSnapshot
      Meta.commit(m.copy(lastSequenceNumber = snapId, lastSnapshotId = snapId,
        nextRowId = hi + 1,
        snapshots = m.snapshots :+ Meta.Snapshot(snapId,
          parent.map(_.snapshotId), snapId, System.currentTimeMillis(),
          "append", parent.map(_.manifests).getOrElse(Nil) :+ rel, Map.empty,
          schemaId = 0),
        refs = Map("main" -> Meta.Ref(snapId, "branch"))))
    }
    legacyCommit(1, Seq((1L, 10L, 0L), (2L, 20L, 1L), (3L, 30L, 2L)))
    legacyCommit(2, Seq((4L, 40L, 3L), (5L, 50L, 4L)))
    assert(liveData(t).forall(_.firstRowId.isEmpty))
    assert(rowIds(t) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    val travelled = Scan.read(s, t.meta,
      Scan.ReadOptions(snapshotId = Some(1L), withLineage = true))
      .select(col("id"), col("$row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(travelled == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))

    // new files beside the stored-id files inherit from the watermark
    t.append(Seq((6L, 60L), (7L, 70L)).toDF("id", "v").coalesce(1))
    t.update(col("id") === 4L, Map("v" -> lit(41L)))
    t.delete(col("id").isin(2L, 7L))
    assert(rowIds(t) == Map(1L -> 0L, 3L -> 2L, 4L -> 3L, 5L -> 4L, 6L -> 5L))
    assert(t.read().filter(col("id") === 4L).head().getLong(1) == 41L)
    assert(t.asOf(2L).count() == 5L)
  }

  test("changes over inherited files: every MoR change in its commit") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(Seq((1L, 10L), (2L, 20L),
      (3L, 30L)).toDF("id", "v").coalesce(1)),
      properties = Map("merge_mode" -> "merge-on-read"))
    val start = t.meta.currentSnapshotId.get
    t.append(Seq((4L, 40L), (5L, 50L)).toDF("id", "v").coalesce(1))
    t.update(col("id") === 2L, Map("v" -> lit(21L)))
    t.delete(col("id").isin(3L, 4L))
    t.deleteByKeys(Seq(5L).toDF("id"), Seq("id"))
    t.merge(Seq((1L, 11L), (6L, 60L)).toDF("id", "v"), Seq("id"))
    t.optimize()
    val got = t.changes(start, t.meta.currentSnapshotId.get)
      .select("_change_ordinal", "_change_type", "id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got == Seq((1, "insert", 4L, 40L), (1, "insert", 5L, 50L),
      (2, "delete", 2L, 20L), (2, "insert", 2L, 21L),
      (3, "delete", 3L, 30L), (3, "delete", 4L, 40L),
      (4, "delete", 5L, 50L),
      (5, "delete", 1L, 10L), (5, "insert", 1L, 11L), (5, "insert", 6L, 60L)))
  }

  test("a read computes inherited ids only when it selects them or a " +
      "position delete can reach an inherited file") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(Seq((1L, 10L), (2L, 20L))
      .toDF("id", "v")), properties = Map("merge_mode" -> "merge-on-read"))
    (3L to 4L).foreach(i => t.append(Seq((i, i * 10)).toDF("id", "v")))
    t.optimize() // ids 0..3 stored in the rewritten file
    t.append(Seq((5L, 50L)).toDF("id", "v")) // inherits id 4
    def readsRowIndex: Boolean =
      t.read().queryExecution.sparkPlan.toString.contains("row_index")
    assert(!readsRowIndex)
    assert(t.readWithMetaColumns().queryExecution.sparkPlan.toString
      .contains("row_index"))
    t.delete(col("id") === 2L) // deletes id 1: out of the inherited range
    assert(!readsRowIndex)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L))
    assert(rowIds(t) == Map(1L -> 0L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    t.delete(col("id") === 5L) // deletes the inherited id 4
    assert(readsRowIndex)
    assert(rowIds(t) == Map(1L -> 0L, 3L -> 2L, 4L -> 3L))
  }

  test("delete entries written without stats still apply and bound changes") {
    import s.implicits._
    val t = LakeTable.create(s, tmpLoc(), Right(Seq((1L, 10L), (2L, 20L),
      (3L, 30L)).toDF("id", "v").coalesce(1)),
      properties = Map("merge_mode" -> "merge-on-read"))
    val start = t.meta.currentSnapshotId.get
    t.delete(col("id") === 2L)
    t.deleteByKeys(Seq(3L).toDF("id"), Seq("id"))
    // as manifests written before delete files carried stats hold them
    t.meta.currentSnapshot.get.manifests.foreach { rel =>
      val m = Meta.readManifest(t.location, rel)
      Meta.writeManifest(t.location, rel.stripPrefix("metadata/"),
        m.copy(addedDeletes = m.addedDeletes.map(_.copy(stats = Map.empty))))
    }
    val dels = Meta.liveFiles(t.meta, t.meta.currentSnapshot.get)._2
    assert(dels.size == 2 && dels.forall(_.stats.isEmpty))
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    assert(rowIds(t) == Map(1L -> 0L))
    val got = t.changes(start, t.meta.currentSnapshotId.get)
      .select("_change_ordinal", "_change_type", "id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got == Seq((1, "delete", 2L, 20L), (2, "delete", 3L, 30L)))
  }

  test("a user column may not take a lineage column's name") {
    val lineage = Seq(Writer.RowId, Writer.LastUpdatedSeq, "_first_row_id",
      "_FIRST_ROW_ID")
    lineage.foreach { n =>
      intercept[IllegalArgumentException] {
        LakeTable.create(s, tmpLoc(), Left(new StructType()
          .add("id", LongType).add(n, LongType)))
      }
    }
    val t = LakeTable.create(s, tmpLoc(),
      Left(new StructType().add("id", LongType).add("v", LongType)))
    lineage.foreach { n =>
      intercept[IllegalArgumentException](t.addColumn(n, LongType))
      intercept[IllegalArgumentException](t.renameColumn("v", n))
    }
    assert(t.meta.currentSchema.struct.fieldNames.toSeq == Seq("id", "v"))
  }
}
