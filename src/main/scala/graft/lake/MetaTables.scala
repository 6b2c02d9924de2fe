package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The nine Iceberg metadata tables (`iceberg_trino_sqldemo.sql:74-82`)
  * as DataFrames built from the metadata log — pure metadata, no data
  * files opened.
  */
object MetaTables {
  import Meta._

  /** Every metadata-table kind by its SQL name (`"t$<kind>"`) — the one
    * list both [[apply]] and the catalog's SELECT binder read.
    */
  val kinds: Map[String, (SparkSession, TableMetadata) => DataFrame] =
    scala.collection.immutable.ListMap(
      "snapshots" -> snapshots _, "history" -> history _,
      "refs" -> refs _, "manifests" -> manifests _, "files" -> files _,
      "partitions" -> partitions _, "properties" -> properties _,
      "metadata_log_entries" -> metadataLog _, "entries" -> entries _)

  def apply(table: LakeTable, name: String): DataFrame = {
    val kind = name.stripPrefix("$")
    kinds.getOrElse(kind, throw new IllegalArgumentException(
      s"unknown metadata table $$$kind"))(table.spark, table.meta)
  }

  /** `$snapshots` (`sql:75,87-94,112`). */
  def snapshots(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    m.snapshots.map(s => (s.timestampMs, s.snapshotId, s.parentId,
        s.operation, s.manifests.size, s.summary))
      .toDF("committed_at_ms", "snapshot_id", "parent_id", "operation",
        "manifest_count", "summary")
      .withColumn("committed_at", timestamp_millis(col("committed_at_ms")))
      .drop("committed_at_ms")
  }

  /** `$history` (`sql:76,89-94`): main's ancestry flags. */
  def history(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    val ancestry = m.currentSnapshotId
      .map(h => m.ancestors(h).map(_.snapshotId).toSet).getOrElse(Set.empty)
    m.snapshots.map(s => (s.timestampMs, s.snapshotId, s.parentId,
        ancestry(s.snapshotId)))
      .toDF("made_current_at_ms", "snapshot_id", "parent_id",
        "is_current_ancestor")
      .withColumn("made_current_at", timestamp_millis(col("made_current_at_ms")))
      .drop("made_current_at_ms")
  }

  /** `$refs` / SHOW BRANCHES (`sql:80,236`). */
  def refs(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    m.refs.toSeq.map { case (n, r) => (n, r.refType.toUpperCase, r.snapshotId) }
      .toDF("name", "type", "snapshot_id")
  }

  def manifests(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    m.snapshots.flatMap(s => s.manifests.map(p => (p, s.snapshotId)))
      .groupBy(_._1).map { case (p, xs) =>
        val mf = Meta.readManifest(m.location, p)
        (p, xs.map(_._2).min,
          mf.addedData.size, mf.addedData.map(_.recordCount).sum,
          mf.addedDeletes.size, mf.removedDataPaths.size)
      }.toSeq
      .toDF("path", "added_snapshot_id", "added_data_files_count",
        "added_rows_count", "added_delete_files_count", "removed_data_files_count")
      .orderBy("added_snapshot_id")
  }

  /** `$files` (`sql:79,141-143,207`): current snapshot's live files —
    * data (content=0), position deletes/deletion vectors (content=1),
    * equality deletes (content=2) — Iceberg's content taxonomy.
    */
  def files(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    val live = m.currentSnapshot.map(Meta.liveFiles(m, _))
    val (data, dels) = live.getOrElse((Nil, Nil))
    val dataRows = data.map(f => (0, f.path, "PARQUET", f.recordCount,
      f.sizeBytes, f.specId, renderPartition(m, f), f.dataSeq))
    val delRows = dels.map(d => (
      if (d.content == "equality") 2 else 1,
      d.path, "PARQUET", d.recordCount,
      java.nio.file.Files.size(java.nio.file.Paths.get(m.location, d.path)),
      -1, "", d.dataSeq))
    (dataRows ++ delRows)
      .toDF("content", "file_path", "file_format", "record_count",
        "file_size_in_bytes", "spec_id", "partition", "sequence_number")
  }

  /** `$partitions` (`sql:78,199-209`): live data grouped by (spec,
    * partition tuple) — evolved specs each keep their own rows.
    */
  def partitions(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    val (data, _) = m.currentSnapshot.map(Meta.liveFiles(m, _))
      .getOrElse((Nil, Nil))
    data.groupBy(f => (f.specId, renderPartition(m, f)))
      .map { case ((spec, part), fs) =>
        (part, spec, fs.map(_.recordCount).sum, fs.size,
          fs.map(_.sizeBytes).sum)
      }.toSeq
      .toDF("partition", "spec_id", "record_count", "file_count",
        "total_size_in_bytes")
  }

  def properties(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    (m.properties ++ Map(
      "format_version" -> m.formatVersion.toString,
      "uuid" -> m.tableUuid)).toSeq.toDF("key", "value")
  }

  /** `$metadata_log_entries` (`sql:82`). */
  def metadataLog(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    m.metadataLog.zipWithIndex.map { case (p, i) => (p, i + 1) }
      .toDF("metadata_file", "version")
  }

  /** `$entries` (`sql:81`): per-manifest file entries of the current
    * snapshot (status 1 = added).
    */
  def entries(spark: SparkSession, m: TableMetadata): DataFrame = {
    import spark.implicits._
    val rows = m.currentSnapshot.toSeq.flatMap { s =>
      s.manifests.flatMap { mp =>
        val mf = Meta.readManifest(m.location, mp)
        mf.addedData.map(f => (1, s.snapshotId, f.dataSeq, f.path,
            f.recordCount)) ++
          mf.addedDeletes.map(d => (1, s.snapshotId, d.dataSeq, d.path,
            d.recordCount))
      }
    }
    rows.toDF("status", "snapshot_id", "sequence_number", "file_path",
      "record_count")
  }

  private def renderPartition(m: TableMetadata, f: DataFileEntry): String =
    m.spec(f.specId).fields
      .map(pf => s"${pf.name}=${f.partition.getOrElse(pf.name, "null")}")
      .mkString("{", ", ", "}")
}
