package graft.lake

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import Meta.Snapshot

/** Commit shapes of the row-level operations, one table of cases over
  * {delete, deleteByKeys, update, merge} × {merge-on-read, copy-on-write}:
  * the snapshot `operation`, the `added-data-files`, `added-delete-files`
  * and `removed-data-files` summaries, a no-op that returns None without
  * a snapshot, and row lineage — a changed row keeps `$row_id` and
  * advances `$last_updated_sequence_number`, an untouched row keeps
  * both, an inserted row gets a fresh id.
  *
  * The table holds two single-file appends, ids {1,2,3,5} and
  * {10,11,12}. Every change targets id 2; every no-op targets id 4,
  * inside the first file's min/max range but absent, so it passes file
  * pruning and must find no row.
  */
class RowChangeSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark
  import s.implicits._

  /** operation, added-data-files, added-delete-files, removed-data-files */
  private type Shape = (String, Int, Int, Int)

  private case class Case(change: LakeTable => Option[Snapshot],
      noop: LakeTable => Option[Snapshot],
      expect: Map[Long, Long] => Map[Long, Long], mor: Shape, cow: Shape)

  private lazy val cases = Seq(
    "delete" -> Case(_.delete(col("id") === 2L), _.delete(col("id") === 4L),
      _ - 2L, ("delete", 0, 1, 0), ("delete", 1, 0, 1)),
    "deleteByKeys" -> Case(_.deleteByKeys(Seq(2L).toDF("id"), Seq("id")),
      _.deleteByKeys(Seq.empty[Long].toDF("id"), Seq("id")),
      _ - 2L, ("delete", 0, 1, 0), ("delete", 1, 0, 1)),
    "update" -> Case(_.update(col("id") === 2L, Map("v" -> lit(21L))),
      _.update(col("id") === 4L, Map("v" -> lit(41L))),
      _ + (2L -> 21L), ("overwrite", 1, 1, 0), ("overwrite", 2, 0, 1)),
    // MERGE writes delete vectors whatever the table's mode
    "merge" -> Case(_.merge(Seq((2L, 21L), (7L, 70L)).toDF("id", "v"),
        Seq("id")),
      _.merge(Seq((4L, 41L)).toDF("id", "v"), Seq("id"),
        whenNotMatchedInsert = false),
      _ + (2L -> 21L) + (7L -> 70L),
      ("overwrite", 3, 1, 0), ("overwrite", 3, 1, 0)))

  private def table(mode: String): LakeTable = {
    val t = LakeTable.create(s,
      Files.createTempDirectory("rowchange-test-").resolve("t").toString,
      Right(Seq((1L, 10L), (2L, 20L), (3L, 30L), (5L, 50L))
        .toDF("id", "v").coalesce(1)),
      properties = Map("merge_mode" -> mode))
    t.append(Seq((10L, 100L), (11L, 110L), (12L, 120L))
      .toDF("id", "v").coalesce(1))
    t
  }

  /** id → (v, $row_id, $last_updated_sequence_number) */
  private def state(t: LakeTable): Map[Long, (Long, Long, Long)] =
    t.readWithMetaColumns().select(col("id"), col("v"), col("$row_id"),
        col("$last_updated_sequence_number")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  for (op <- Seq("delete", "deleteByKeys", "update", "merge");
       mode <- Seq("merge-on-read", "copy-on-write")) {
    test(s"commit shape: $op on $mode") {
      val c = cases.toMap.apply(op)
      val t = table(mode)
      val before = state(t)
      val snaps = t.meta.snapshots.size
      assert(c.noop(t).isEmpty, "a no-op must return None")
      assert(t.meta.snapshots.size == snaps, "a no-op added a snapshot")
      assert(state(t) == before)

      val snap = c.change(t).getOrElse(fail("the change committed nothing"))
      assert(t.meta.snapshots.size == snaps + 1)
      assert(t.meta.currentSnapshotId.contains(snap.snapshotId))
      val sm = snap.summary
      assert((snap.operation, sm("added-data-files").toInt,
        sm("added-delete-files").toInt, sm("removed-data-files").toInt) ==
        (if (mode == "merge-on-read") c.mor else c.cow), sm)

      val after = state(t)
      assert(after.map { case (id, r) => id -> r._1 } ==
        c.expect(before.map { case (id, r) => id -> r._1 }))
      after.foreach { case (id, (v, rowId, seq)) =>
        before.get(id) match {
          case Some((v0, rowId0, seq0)) =>
            assert(rowId == rowId0, s"$$row_id of $id must be kept")
            if (v == v0) assert(seq == seq0, s"untouched row $id changed")
            else assert(seq > seq0, s"sequence of $id must advance")
          case None =>
            assert(!before.values.exists(_._2 == rowId),
              s"inserted row $id reused a $$row_id")
        }
      }
    }
  }

  test("MoR UPDATE, DELETE and MERGE hit the right inherited rows") {
    // 4 + 2 files of new rows: every id is inherited, $row_id = id
    val rows = (from: Long, to: Long, parts: Int) =>
      s.range(from, to, 1, parts).select(col("id"), (col("id") * 10).as("v"))
    val t = LakeTable.create(s,
      Files.createTempDirectory("rowchange-test-").resolve("t").toString,
      Right(rows(0, 40, 4)), properties = Map("merge_mode" -> "merge-on-read"))
    t.append(rows(40, 60, 2))
    assert(Meta.liveFiles(t.meta, t.meta.currentSnapshot.get)._1
      .forall(_.firstRowId.isDefined))
    t.delete(col("id") === 13L)
    t.update(col("id") === 45L, Map("v" -> lit(-1L)))
    t.merge(Seq((22L, -2L), (70L, 700L)).toDF("id", "v"), Seq("id"))
    val expected = (0L until 60L).filter(_ != 13L).map { id =>
      id -> (if (id == 45L) -1L else if (id == 22L) -2L else id * 10, id)
    }.toMap + (70L -> (700L, 60L))
    assert(state(t).map { case (id, (v, rowId, _)) => id -> (v, rowId) } ==
      expected)
  }
}
