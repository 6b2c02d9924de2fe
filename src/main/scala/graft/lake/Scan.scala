package graft.lake

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot-resolving scan planner (SURVEY §7 module `scan`; EP1/EP3):
  * ref/time-travel resolution → manifest file pruning → schema-evolution
  * projection → MoR delete application → metadata/lineage columns.
  *
  * File pruning happens before Spark sees the read, so Catalyst receives a
  * pre-pruned file list and still does its own parquet row-group skipping
  * on the residual filter — two pruning layers, like Iceberg-on-Spark
  * (`iceberg_trino_sqldemo.sql:15` + SURVEY §4). That list is the
  * manifest's own ([[ManifestIndex]]): binding a read lists, globs and
  * infers nothing, and starts no Spark job. The delete-file
  * anti-join broadcasts the delete side (deletion vectors are
  * metadata-sized), so MoR reads never shuffle the data side.
  *
  * Row lineage is inherited (Iceberg v3): a file whose manifest entry
  * carries `firstRowId` stores a null `_row_id`, and the scan reads it as
  * `firstRowId` plus the row's position in the file. The first id reaches
  * each row as a per-file partition value, so no join or literal map is
  * involved.
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
  private val FirstRowId = "_first_row_id"
  /** The data column the parquet reader fills with each row's position in
    * its file: what `_metadata.row_index` reads, without the `_metadata`
    * struct, which the scan reads whole when the optimizer prunes away the
    * column that selected it (a read that needs no ids).
    */
  private val RowIndex = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Names a user column may not take: the lineage columns a read adds
    * beside a file's own columns would shadow it. Spark resolves names
    * case-insensitively, so the check is too.
    */
  def requireUserColumns(schema: StructType): Unit =
    schema.fieldNames.foreach { n =>
      require(!Seq(RowId, LastUpdatedSeq, FirstRowId, RowIndex)
        .exists(_.equalsIgnoreCase(n)), s"column name $n is reserved")
    }

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
    filter.fold(files)(f =>
      prunePred(meta, files, Transforms.analyzeColumn(f), namesSchemaId))

  /** [[pruneFiles]] for a predicate already in the `Transforms.Pred` form. */
  def prunePred(meta: TableMetadata, files: Seq[DataFileEntry],
      p: Transforms.Pred, namesSchemaId: Option[Int] = None)
      : Seq[DataFileEntry] = {
    val names = namesSchemaId.map(meta.schema(_).struct)
      .getOrElse(meta.currentSchema.struct)
    val bySchema = scala.collection.mutable.Map[Int, Transforms.Pred]()
    files.filter { f =>
      val fileSchema = meta.schema(f.schemaId).struct
      val fp = bySchema.getOrElseUpdate(f.schemaId,
        Transforms.remapPred(p, names, fileSchema))
      Transforms.mightMatch(fp, f, fileSchema, meta.spec(f.specId))
    }
  }

  /** Read specific data-file entries, aligned to the current schema (by
    * stable field id: renames follow the id, dropped columns vanish,
    * added columns materialize their default — `sql:166-189`), carrying
    * raw lineage columns, with delete files applied. The building block
    * for user reads, DML rewrites, CDC and compaction.
    *
    * An inherited id costs a per-row sum over the row's position and a
    * partition column. With `rowIds = false` (the caller selects no
    * `_row_id`) a read computes them only when a position delete can
    * reach an inherited file; otherwise `_row_id` holds the stored ids
    * alone, null in inherited files.
    */
  def readEntries(spark: SparkSession, meta: TableMetadata,
      entries: Seq[DataFileEntry], deletes: Seq[DeleteFileEntry],
      withPath: Boolean = false, targetSchemaId: Option[Int] = None,
      rowIds: Boolean = true): DataFrame = {
    val lineage = rowLineageEnabled(meta)
    val target = targetSchemaId.map(meta.schema(_).struct)
      .getOrElse(meta.currentSchema.struct)
    if (entries.isEmpty)
      return emptyRaw(spark, meta, lineage, withPath, target)
    val (eqDels, posDels) =
      if (lineage) deletes.partition(_.content == "equality") else (Nil, Nil)
    val inherit = rowIds || posDels.exists(d => entries.exists(mayHit(d, _)))
    val groups = entries.groupBy(_.schemaId).toSeq.sortBy(_._1)
    val parts = groups.map { case (sid, files) =>
      readGroup(spark, meta, sid, files, lineage, lineage && inherit, withPath,
        target)
    }
    var df = parts.reduce(_ unionByName _)
    if (posDels.nonEmpty) {
      val delDf = broadcast(readDeletes(spark, meta.location, posDels))
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
      val delDf = broadcast(readDeletes(spark, meta.location, files))
      val keyEq = ids.zip(names).map { case (id, n) =>
        df(n) <=> delDf(s"k_$id")
      }.reduce(_ && _)
      df = df.join(delDf,
        keyEq && df(LastUpdatedSeq) < delDf("_del_seq"), "left_anti")
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
          withPath = opts.withFileMeta, targetSchemaId = schemaAt,
          rowIds = opts.withLineage)
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

  /** Whether position-delete file `d` can hit a row of the inherited
    * file `f`: `f`'s rows all carry its data sequence number, and their
    * ids are `f`'s id range. A delete without `_del_row_id` stats may hit
    * any file.
    */
  private def mayHit(d: DeleteFileEntry, f: DataFileEntry): Boolean =
    f.firstRowId.exists { first =>
      f.dataSeq < d.dataSeq &&
        d.stats.get("_del_row_id").flatMap(st => st.min.zip(st.max)).forall {
          case (lo, hi) =>
            lo.toLong < first + f.recordCount && hi.toLong >= first
        }
    }

  /** One schema version's files; `inherit` computes inherited ids. */
  private def readGroup(spark: SparkSession, meta: TableMetadata, sid: Int,
      files: Seq[DataFileEntry], lineage: Boolean, inherit: Boolean,
      withPath: Boolean, target: StructType): DataFrame = {
    val fileStruct = meta.schema(sid).struct
    val inherits = inherit && files.exists(_.firstRowId.isDefined)
    val readSchema =
      if (lineage)
        StructType(fileStruct.fields ++ Seq(
          StructField(RowId, LongType), StructField(LastUpdatedSeq, LongType)) ++
          (if (inherits && !withPath) Seq(StructField(RowIndex, LongType))
          else Nil))
      else fileStruct
    val fs = fileSystem(spark, meta.location)
    val statuses = files.map(f => fileStatus(fs, meta.location, f.path,
      if (withPath) None else Some(f.sizeBytes)))
    val df = parquetFrame(spark, readSchema, statuses,
      if (inherits) files.map(f => f.firstRowId.map(Long.box).orNull) else Nil)

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
    // inherited lineage: a null `_row_id` is the file's first id plus the
    // row's position in the file (a `withPath` read reads `_metadata`
    // anyway, and Spark allows no data column named like its row index
    // beside it)
    val rowIndex = if (withPath) col("_metadata.row_index") else col(RowIndex)
    val rowId =
      if (inherits) coalesce(col(RowId), col(FirstRowId) + rowIndex).as(RowId)
      else col(RowId)
    val extras = (if (lineage) Seq(rowId, col(LastUpdatedSeq)) else Nil) ++
      (if (withPath) Seq(col("_metadata.file_path").as(GraftPath),
        col("_metadata.file_modification_time").as(GraftMtime)) else Nil)
    // one projection: each further Dataset step would be one more analysis
    df.select(projected ++ extras: _*)
  }

  /** Spark's file list for a lake read: the manifest entries themselves,
    * so planning lists, globs and stats nothing (Iceberg's "the manifests
    * are the file list"). One partition directory per file, holding that
    * file's values of `partitionSchema`: graft's partition tuples live in
    * the manifest, not in the paths, so the only per-file value is an
    * inherited file's first row id. `listFiles` receives Catalyst's
    * partition and data filters and ignores them.
    */
  private final case class ManifestIndex(files: Seq[FileStatus],
      values: Seq[InternalRow], partitionSchema: StructType)
      extends FileIndex {
    def rootPaths: Seq[HPath] = files.map(_.getPath)
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      files.zip(values).map { case (f, v) =>
        PartitionDirectory(v, Seq(FileStatusWithMetadata(f)))
      }
    def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
  }

  /** A parquet frame over lake files whose schema is known up front:
    * every lake-file read gets its Spark relation here. With
    * `firstRowIds` (one per file, null for a file that stores its ids),
    * the frame also carries each file's id as the column `_first_row_id`.
    */
  private def parquetFrame(spark: SparkSession, schema: StructType,
      files: Seq[FileStatus], firstRowIds: Seq[java.lang.Long] = Nil)
      : DataFrame = {
    val index =
      if (firstRowIds.isEmpty)
        ManifestIndex(files, files.map(_ => InternalRow.empty), new StructType())
      else ManifestIndex(files, firstRowIds.map(InternalRow(_)),
        StructType(Seq(StructField(FirstRowId, LongType))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, nullable(schema).asInstanceOf[StructType], None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  /** Every level nullable, as a parquet relation's data schema always is
    * (a file may predate a column, or hold nulls a stricter schema bans).
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v),
      valueContainsNull = true)
    case other => other
  }

  private def fileSystem(spark: SparkSession, location: String): FileSystem =
    new HPath(location).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `location/rel` qualified as Spark's own listing names it (`file:/…`
    * on a local table, so `_metadata.file_path`, `$path` and `inputFiles`
    * match a listed parquet read). With `size`, the manifest's
    * byte count and no file-system call; without, a stat — for the real
    * mtime behind `$file_modified_time`, and for delete files, whose
    * entries carry no size.
    */
  private def fileStatus(fs: FileSystem, location: String, rel: String,
      size: Option[Long]): FileStatus = {
    val path = fs.makeQualified(new HPath(s"$location/$rel"))
    size.fold(fs.getFileStatus(path))(new FileStatus(_, false, 0, 0, 0L, path))
  }

  private val PositionDeleteSchema = StructType(Seq(
    StructField("_del_row_id", LongType), StructField("_del_seq", LongType)))

  /** Delete files of one content as a frame. Position deletes have the
    * fixed schema [[Writer.writeDeleteFile]] writes. Equality deletes are
    * typed from the first file's footer, read in-process — the footer
    * Spark's schema inference would open, without its job — since a
    * caller's key frame may carry another type than the table column.
    */
  private[lake] def readDeletes(spark: SparkSession, location: String,
      deletes: Seq[DeleteFileEntry]): DataFrame = {
    val fs = fileSystem(spark, location)
    val files = deletes.map(d => fileStatus(fs, location, d.path, None))
    val schema =
      if (deletes.head.content == "equality") footerSchema(spark, files.head)
      else PositionDeleteSchema
    parquetFrame(spark, schema, files)
  }

  /** The row schema Spark stores in the footer of every file it writes
    * (the schema its inference would return).
    */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try {
      val json = reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(SparkRowSchemaKey)
      require(json != null, s"${file.getPath} carries no Spark row schema")
      DataType.fromJson(json).asInstanceOf[StructType]
    } finally reader.close()
  }

  private val SparkRowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

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
