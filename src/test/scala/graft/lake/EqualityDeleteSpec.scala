package graft.lake

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Equality-delete MoR (public Iceberg v2/v3 delete-file taxonomy —
  * the delete shape streaming CDC writers emit; the reference script
  * exercises only position deletes/deletion vectors). Covers: delete
  * without reading the table, sequence-immunity of later re-inserts,
  * null-safe key matching, rename survival via field-id key mapping,
  * multi-column keys, CoW twin semantics, CDC preimages, `$files`
  * content=2, and optimize invariance.
  */
class EqualityDeleteSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  private def tmpLoc(): String =
    Files.createTempDirectory("eqdel-test-").resolve("t").toString

  private def rows(xs: (Long, Long, String)*): DataFrame = {
    import s.implicits._
    xs.toDF("id", "v", "tag")
  }

  private def mk(mode: String, init: DataFrame): LakeTable =
    LakeTable.create(s, tmpLoc(), Right(init),
      properties = Map("merge_mode" -> mode))

  private def ids(t: LakeTable): Seq[Long] =
    t.read().select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("MoR equality delete removes keyed rows without a data rewrite") {
    val t = mk("merge-on-read",
      rows((1, 10, "a"), (2, 20, "b"), (3, 30, "a"), (4, 40, "b")))
    val dataFilesBefore = t.metaTable("files").filter(col("content") === 0)
      .count()
    import s.implicits._
    t.deleteByKeys(Seq(2L, 4L).toDF("id"), Seq("id"))
    assert(ids(t) == Seq(1L, 3L))
    // no data file was touched: the commit added ONLY the key-set file
    val files = t.metaTable("files")
    assert(files.filter(col("content") === 0).count() == dataFilesBefore)
    assert(files.filter(col("content") === 2).count() == 1)
    assert(files.filter(col("content") === 1).count() == 0)
  }

  test("sequence immunity: rows re-inserted after the delete survive") {
    val t = mk("merge-on-read", rows((1, 10, "a"), (2, 20, "b")))
    import s.implicits._
    t.deleteByKeys(Seq(1L, 2L).toDF("id"), Seq("id"))
    assert(ids(t).isEmpty)
    t.append(rows((1, 11, "a2")))
    assert(ids(t) == Seq(1L))
    assert(t.read().select("v").head().getLong(0) == 11L)
  }

  test("null-safe matching: a null key row deletes null-keyed data") {
    import s.implicits._
    // one data file per write, so the key set's min/max box alone
    // decides which files a copy-on-write delete reads
    def nullableKeyed(mode: String) = mk(mode, Seq((Option(1L), 10L),
      (Option.empty[Long], 20L), (Option(3L), 30L)).toDF("id", "v").coalesce(1))
    def vs(t: LakeTable) =
      t.read().select("v").collect().map(_.getLong(0)).sorted.toSeq
    for (mode <- Seq("merge-on-read", "copy-on-write")) {
      val t = nullableKeyed(mode)
      val snap = t.deleteByKeys(Seq(Option.empty[Long]).toDF("id"), Seq("id"))
      assert(snap.isDefined, mode)
      assert(vs(t) == Seq(10L, 30L), mode)
      // a key set mixing null and non-null keys
      val u = nullableKeyed(mode)
      u.append(Seq((Option.empty[Long], 40L), (Option(50L), 50L))
        .toDF("id", "v").coalesce(1))
      u.deleteByKeys(Seq(Option.empty[Long], Option(50L)).toDF("id"),
        Seq("id"))
      assert(vs(u) == Seq(10L, 30L), mode)
    }
  }

  test("multi-column keys delete only full-tuple matches") {
    val t = mk("merge-on-read",
      rows((1, 10, "a"), (1, 10, "b"), (2, 20, "a")))
    import s.implicits._
    t.deleteByKeys(Seq((1L, "a")).toDF("id", "tag"), Seq("id", "tag"))
    val left = t.read().select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(left == Seq((1L, "b"), (2L, "a")))
  }

  test("key mapping survives a column rename (field-id resolution)") {
    val t = mk("merge-on-read", rows((1, 10, "a"), (2, 20, "b")))
    import s.implicits._
    t.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))
    t.renameColumn("id", "ident")
    // the delete file predates the rename; the scan must still apply it
    val left = t.read().select("ident").collect().map(_.getLong(0)).toSeq
    assert(left == Seq(1L))
    // and a NEW delete keyed on the new name also works
    t.deleteByKeys(Seq(1L).toDF("ident"), Seq("ident"))
    assert(t.read().count() == 0)
  }

  test("CoW equality delete rewrites only affected files, same answer") {
    val t = mk("copy-on-write",
      rows((1, 10, "a"), (2, 20, "b"), (3, 30, "a"), (4, 40, "b")))
    import s.implicits._
    t.deleteByKeys(Seq(2L, 4L).toDF("id"), Seq("id"))
    assert(ids(t) == Seq(1L, 3L))
    // CoW never adds delete files
    assert(t.metaTable("files").filter(col("content") =!= 0).count() == 0)
    // no-match key set is a no-op commit
    val snapsBefore = t.meta.snapshots.size
    assert(t.deleteByKeys(Seq(99L).toDF("id"), Seq("id")).isEmpty)
    assert(t.meta.snapshots.size == snapsBefore)
  }

  test("CDC changes() emits the equality-deleted rows as preimages") {
    val t = mk("merge-on-read", rows((1, 10, "a"), (2, 20, "b"), (3, 30, "c")))
    val s0 = t.meta.currentSnapshotId.get
    import s.implicits._
    t.deleteByKeys(Seq(1L, 3L).toDF("id"), Seq("id"))
    val s1 = t.meta.currentSnapshotId.get
    val ch = t.changes(s0, s1)
    val dels = ch.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(dels == Seq(1L, 3L))
    assert(ch.filter(col("_change_type") === "insert").count() == 0)
  }

  test("optimize after an equality delete preserves the answer") {
    val t = mk("merge-on-read",
      rows((1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")))
    import s.implicits._
    t.append(rows((5, 50, "e"), (6, 60, "f")))
    t.deleteByKeys(Seq(2L, 5L).toDF("id"), Seq("id"))
    val before = ids(t)
    assert(before == Seq(1L, 3L, 4L, 6L))
    t.optimize(fileSizeThresholdBytes = 1L << 30)
    assert(ids(t) == before)
    // full compaction folded the delete into the rewrite: no delete
    // files remain live
    assert(t.metaTable("files").filter(col("content") === 2).count() == 0)
  }

  test("branch-scoped equality delete leaves main untouched") {
    val t = mk("merge-on-read", rows((1, 10, "a"), (2, 20, "b")))
    import s.implicits._
    t.createBranch("dev")
    t.deleteByKeys(Seq(1L).toDF("id"), Seq("id"), branch = "dev")
    assert(ids(t) == Seq(1L, 2L))
    assert(t.readRef("dev").select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }
}
