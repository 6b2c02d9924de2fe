package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot-resolving scan planner (SURVEY §7 module `scan`; EP1/EP3):
  * ref/time-travel resolution → manifest file pruning → schema-evolution
  * projection → MoR delete application → metadata/lineage columns.
  *
  * File pruning happens *before* `spark.read`, so Catalyst receives a
  * pre-pruned file list and still does its own parquet row-group skipping
  * on the residual filter — two pruning layers, like Iceberg-on-Spark
  * (`iceberg_trino_sqldemo.sql:15` + SURVEY §4). The delete-file
  * anti-join broadcasts the delete side (deletion vectors are
  * metadata-sized), so MoR reads never shuffle the data side.
  */
object Scan {
  import Meta._
  import Writer.{LastUpdatedSeq, RowId}

  /** Public names of the reference's metadata columns (`sql:65-72`). */
  val RowIdCol = "$row_id"
  val LastSeqCol = "$last_updated_sequence_number"
  val PathCol = "$path"
  val MtimeCol = "$file_modified_time"
  val PartitionCol = "$partition"

  /** Internal per-file metadata column names (pre-rename). */
  val GraftPath = "_graft_path"
  val GraftMtime = "_graft_mtime"

  case class ReadOptions(
      ref: Option[String] = None,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None,
      withLineage: Boolean = false,
      withFileMeta: Boolean = false,
      filter: Option[Column] = None)

  def resolveSnapshot(meta: TableMetadata, opts: ReadOptions): Option[Snapshot] =
    opts.snapshotId match {
      case Some(id) =>
        Some(meta.snapshot(id).getOrElse(
          throw new IllegalArgumentException(s"no snapshot $id")))
      case None =>
        val refName = opts.ref.getOrElse("main")
        if (opts.ref.isDefined && !meta.refs.contains(refName))
          throw new IllegalArgumentException(s"no ref '$refName'")
        val head = meta.refs.get(refName).map(_.snapshotId).flatMap(meta.snapshot)
        opts.asOfTimestampMs match {
          case Some(t) =>
            head.flatMap(h => meta.ancestors(h.snapshotId)
              .find(_.timestampMs <= t))
          case None => head
        }
    }

  def rowLineageEnabled(meta: TableMetadata): Boolean =
    meta.properties.getOrElse("row-lineage", "true") == "true"

  /** Prune a snapshot's live data files against a predicate. The
    * predicate's column names are resolved in `namesSchemaId`'s schema
    * (the schema the caller's DataFrame exposes — current for normal
    * reads/DML, the snapshot's own for time travel) and remapped to each
    * file's write-time schema by stable field id, mirroring the read
    * path: a name whose id the file schema lacks contributes no pruning
    * rather than consulting a dead column's stats.
    */
  def pruneFiles(meta: TableMetadata, files: Seq[DataFileEntry],
      filter: Option[Column], namesSchemaId: Option[Int] = None)
      : Seq[DataFileEntry] =
    filter.map(Transforms.analyzeColumn) match {
      case Some(p) =>
        val names = namesSchemaId.map(meta.schema(_).struct)
          .getOrElse(meta.currentSchema.struct)
        val bySchema = scala.collection.mutable.Map[Int, Transforms.Pred]()
        files.filter { f =>
          val fileSchema = meta.schema(f.schemaId).struct
          val fp = bySchema.getOrElseUpdate(f.schemaId,
            Transforms.remapPred(p, names, fileSchema))
          Transforms.mightMatch(fp, f, fileSchema, meta.spec(f.specId))
        }
      case None => files
    }

  /** Read specific data-file entries, aligned to the current schema (by
    * stable field id: renames follow the id, dropped columns vanish,
    * added columns materialize their default — `sql:166-189`), carrying
    * raw lineage columns, with delete files applied. The building block
    * for user reads, DML rewrites, CDC and compaction.
    */
  def readEntries(spark: SparkSession, meta: TableMetadata,
      entries: Seq[DataFileEntry], deletes: Seq[DeleteFileEntry],
      withPath: Boolean = false, targetSchemaId: Option[Int] = None)
      : DataFrame = {
    val lineage = rowLineageEnabled(meta)
    val target = targetSchemaId.map(meta.schema(_).struct)
      .getOrElse(meta.currentSchema.struct)
    if (entries.isEmpty)
      return emptyRaw(spark, meta, lineage, withPath, target)
    val groups = entries.groupBy(_.schemaId).toSeq.sortBy(_._1)
    val parts = groups.map { case (sid, files) =>
      readGroup(spark, meta, sid, files, lineage, withPath, target)
    }
    var df = parts.reduce(_ unionByName _)
    if (deletes.nonEmpty && lineage) {
      val (eqDels, posDels) = deletes.partition(_.content == "equality")
      if (posDels.nonEmpty) {
        val delDf = broadcast(spark.read
          .parquet(posDels.map(d => s"${meta.location}/${d.path}"): _*))
        df = df.join(delDf,
          df(RowId) === delDf("_del_row_id") &&
            df(LastUpdatedSeq) < delDf("_del_seq"),
          "left_anti")
      }
      // Equality deletes (Iceberg v2/v3 delete shape): anti-join on
      // null-safe key equality, gated by the same sequence rule as
      // position deletes (row seq < delete seq → hit; a row
      // re-inserted after the delete is immune). Delete files are
      // key-set-sized (CDC batches), so the delete side broadcasts —
      // the data side never shuffles, same plan shape as deletion
      // vectors. Files are grouped by key-id set so mixed-key-history
      // tables still read in one pass per distinct key set.
      eqDels.groupBy(_.equalityIds).foreach { case (ids, files) =>
        val names = ids.map { id =>
          target.fields.find(f => SchemaEvolution.fieldId(f) == id)
            .getOrElse(throw new IllegalArgumentException(
              s"equality delete references dropped field id $id"))
            .name
        }
        val delDf = broadcast(spark.read
          .parquet(files.map(d => s"${meta.location}/${d.path}"): _*))
        val keyEq = ids.zip(names).map { case (id, n) =>
          df(n) <=> delDf(s"k_$id")
        }.reduce(_ && _)
        df = df.join(delDf,
          keyEq && df(LastUpdatedSeq) < delDf("_del_seq"), "left_anti")
      }
    }
    df
  }

  /** The user-facing read (S3-S8 of SURVEY §2.1). Time travel (explicit
    * snapshot id or timestamp) reads with the schema that was current at
    * that snapshot — Iceberg semantics; branch/current reads use the
    * table's current schema.
    */
  def read(spark: SparkSession, meta: TableMetadata, opts: ReadOptions)
      : DataFrame = {
    val lineage = rowLineageEnabled(meta)
    val isTravel = opts.snapshotId.isDefined || opts.asOfTimestampMs.isDefined
    resolveSnapshot(meta, opts) match {
      case None => finalProject(
        emptyRaw(spark, meta, lineage, opts.withFileMeta),
        meta.currentSchema.struct, opts, lineage)
      case Some(snap) =>
        val schemaAt =
          if (isTravel && snap.schemaId >= 0) Some(snap.schemaId) else None
        val target = schemaAt.map(meta.schema(_).struct)
          .getOrElse(meta.currentSchema.struct)
        val (allData, deletes) = liveFiles(meta, snap)
        val data = pruneFiles(meta, allData, opts.filter, schemaAt)
        if (data.isEmpty)
          return finalProject(
            emptyRaw(spark, meta, lineage, opts.withFileMeta, target),
            target, opts, lineage)
        var df = readEntries(spark, meta, data, deletes,
          withPath = opts.withFileMeta, targetSchemaId = schemaAt)
        if (opts.withFileMeta) df = attachPartitionCol(spark, df, meta, data)
        opts.filter.foreach(f => df = df.filter(f))
        finalProject(df, target, opts, lineage)
    }
  }

  private def finalProject(df: DataFrame, target: StructType,
      opts: ReadOptions, lineage: Boolean): DataFrame = {
    val userCols = target.fieldNames.map(col).toSeq
    val extra =
      (if (opts.withLineage && lineage)
        Seq(col(RowId).as(RowIdCol), col(LastUpdatedSeq).as(LastSeqCol))
      else Nil) ++
      (if (opts.withFileMeta)
        Seq(col(GraftPath).as(PathCol), col(GraftMtime).as(MtimeCol),
          col("_graft_partition").as(PartitionCol))
      else Nil)
    df.select(userCols ++ extra: _*)
  }

  private def emptyRaw(spark: SparkSession, meta: TableMetadata,
      lineage: Boolean, withPath: Boolean,
      target: StructType = null): DataFrame = {
    var s = Option(target).getOrElse(meta.currentSchema.struct)
    if (lineage) s = s.add(RowId, LongType).add(LastUpdatedSeq, LongType)
    if (withPath) s = s.add(GraftPath, StringType)
      .add(GraftMtime, TimestampType).add("_graft_partition", StringType)
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
  }

  private def readGroup(spark: SparkSession, meta: TableMetadata, sid: Int,
      files: Seq[DataFileEntry], lineage: Boolean, withPath: Boolean,
      target: StructType): DataFrame = {
    val fileStruct = meta.schema(sid).struct
    val readSchema =
      if (lineage)
        StructType(fileStruct.fields ++ Seq(
          StructField(RowId, LongType), StructField(LastUpdatedSeq, LongType)))
      else fileStruct
    val paths = files.map(f => s"${meta.location}/${f.path}")
    var df = spark.read.schema(readSchema).parquet(paths: _*)
    if (withPath)
      df = df.withColumn(GraftPath, col("_metadata.file_path"))
        .withColumn(GraftMtime, col("_metadata.file_modification_time"))

    val cur = target
    val byId = fileStruct.fields.map(f => SchemaEvolution.fieldId(f) -> f).toMap
    val projected: Seq[Column] = cur.fields.toSeq.map { cf =>
      byId.get(SchemaEvolution.fieldId(cf)) match {
        case Some(ff) if ff.dataType == cf.dataType => col(ff.name).as(cf.name)
        case Some(ff) => col(ff.name).cast(cf.dataType).as(cf.name)
        case None =>
          SchemaEvolution.defaultValue(cf)
            .getOrElse(lit(null)).cast(cf.dataType).as(cf.name)
      }
    }
    val extras = (if (lineage) Seq(col(RowId), col(LastUpdatedSeq)) else Nil) ++
      (if (withPath) Seq(col(GraftPath), col(GraftMtime)) else Nil)
    df.select(projected ++ extras: _*)
  }

  /** `$partition` rendering: per-file partition tuple joined in via a
    * broadcast path→tuple map (metadata-sized, never a data shuffle).
    */
  private def attachPartitionCol(spark: SparkSession, df: DataFrame,
      meta: TableMetadata, files: Seq[DataFileEntry]): DataFrame = {
    import spark.implicits._
    val rows = files.map { f =>
      val uri = java.nio.file.Paths.get(meta.location, f.path).toUri.toString
      val rendered = meta.spec(f.specId).fields
        .map(pf => s"${pf.name}=${f.partition.getOrElse(pf.name, "null")}")
        .mkString("{", ", ", "}")
      (uri, rendered)
    }
    val mapDf = broadcast(rows.toDF("_graft_uri", "_graft_partition"))
    df.withColumn("_graft_norm",
        regexp_replace(col(GraftPath), "^file:/+", "file:///"))
      .join(mapDf, col("_graft_norm") ===
        regexp_replace(col("_graft_uri"), "^file:/+", "file:///"), "left")
      .drop("_graft_uri", "_graft_norm")
  }
}

/** Field-id + default-value plumbing for schema evolution (v3 defaults,
  * `iceberg_trino_sqldemo.sql:166`).
  */
object SchemaEvolution {
  val FieldIdKey = "graft.field-id"
  val DefaultKey = "graft.default"

  def fieldId(f: StructField): Int =
    if (f.metadata.contains(FieldIdKey)) f.metadata.getLong(FieldIdKey).toInt
    else -1

  def defaultValue(f: StructField): Option[Column] =
    if (f.metadata.contains(DefaultKey))
      Some(lit(f.metadata.getString(DefaultKey)).cast(f.dataType))
    else None

  def withFieldId(f: StructField, id: Int): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(FieldIdKey, id).build())

  def withDefault(f: StructField, default: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(DefaultKey, default).build())

  /** Assign fresh field ids to a plain schema (table creation). */
  def assignIds(schema: StructType, start: Int = 1): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      withFieldId(f, start + i)
    })

  def maxFieldId(schema: StructType): Int =
    schema.fields.map(fieldId).foldLeft(0)(math.max)
}
