package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{
  DateLogicalTypeAnnotation, StringLogicalTypeAnnotation,
  TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-file writer for the lake layer: partition-transform repartitioning,
  * parquet write, manifest-stat collection (SURVEY §7 module `write`;
  * reproduces the write path behind `iceberg_trino_sqldemo.sql:19-40`
  * CTAS and all DML inserts).
  *
  * The writer assigns no row ids. New rows are written with a null
  * `_row_id`, and the commit gives each new file its `firstRowId`
  * (v3 row-lineage inheritance, `sql:65-68,133-135`); rewrites write the
  * ids they read. So an append is one Spark job over its input.
  *
  * Stats come from the parquet *footers* of the just-written files — an
  * O(metadata) pass, no second scan of the data — which is what keeps
  * commit cost independent of data volume at 100 TB.
  */
object Writer {
  import Meta._

  val RowId = "_row_id"
  val LastUpdatedSeq = "_last_updated_seq"

  /** Write `df` (columns = file schema, lineage columns included) as data
    * files under `location/data`, returning manifest entries in staged
    * order.
    */
  def writeDataFiles(
      df: DataFrame,
      location: String,
      spec: PartitionSpec,
      schemaId: Int,
      seq: Long,
      sortedBy: Seq[String],
      writeOptions: Map[String, String]): Seq[DataFileEntry] = {
    val spark = df.sparkSession
    val tmp = Files.createTempDirectory(Paths.get(location), ".stage-")
    try {
      val partCols = spec.fields.map(pf => "_p_" + pf.name)
      var out = df
      spec.fields.foreach { pf =>
        val srcType = df.schema.fields.find(_.name == pf.source)
          .map(_.dataType).getOrElse(StringType)
        out = out.withColumn("_p_" + pf.name,
          Transforms.transformColumn(pf.transform, col(pf.source), srcType))
      }
      if (sortedBy.nonEmpty)
        out = out.sortWithinPartitions(sortedBy.map(col): _*)
      val writer = out.write.mode("overwrite").options(writeOptions)
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(tmp.toString)

      val dataDir = Paths.get(location, "data")
      Files.createDirectories(dataDir)
      val staged = collectParquet(tmp)
      staged.zipWithIndex.map { case (p, i) =>
        val partition = parsePartitionPath(tmp.relativize(p))
        val name = s"s$seq-$i-${UUID.randomUUID.toString.take(8)}.parquet"
        val target = dataDir.resolve(name)
        Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
        val (rows, size, stats) = footerStats(spark, target.toString)
        DataFileEntry(s"data/$name", spec.specId, schemaId,
          partition, rows, size, stats, seq)
      }
    } finally deleteRecursively(tmp)
  }

  /** Write a deletion-vector file (`_row_id`, `_del_seq`) under
    * `location/deletes` (`sql:137-143`: v3 deletion vectors).
    */
  def writeDeleteFile(rowIds: DataFrame, location: String, seq: Long)
      : Option[DeleteFileEntry] = {
    val spark = rowIds.sparkSession
    val tmp = Files.createTempDirectory(Paths.get(location), ".stage-del-")
    try {
      rowIds
        .select(col(RowId).cast(LongType).as("_del_row_id"),
          lit(seq).cast(LongType).as("_del_seq"))
        .coalesce(1) // deletes are metadata-sized; one file per commit
        .write.mode("overwrite").parquet(tmp.toString)
      val staged = collectParquet(tmp)
      if (staged.isEmpty) return None
      val delDir = Paths.get(location, "deletes")
      Files.createDirectories(delDir)
      val name = s"d$seq-${UUID.randomUUID.toString.take(8)}.parquet"
      Files.move(staged.head, delDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val (rows, _, stats) = footerStats(spark, delDir.resolve(name).toString)
      if (rows == 0) { Files.delete(delDir.resolve(name)); None }
      else Some(DeleteFileEntry(s"deletes/$name", rows, seq,
        stats = stats - "_del_seq"))
    } finally deleteRecursively(tmp)
  }

  /** Write an equality-delete file (public Iceberg v2/v3 delete shape —
    * the one streaming CDC writers emit): parquet of the key columns
    * plus `_del_seq`, under `location/deletes`. Key columns are stored
    * under field-id-derived names (`k_<fieldId>`) so the scan-side
    * mapping survives later column renames, mirroring Iceberg's
    * field-id-based delete resolution. `keyed` must expose the key
    * columns under their CURRENT names, in `fieldIds` order.
    *
    * Scale shape: an equality delete never reads the table — the file
    * is key-set-sized (a CDC batch, not a corpus), deduplicated and
    * coalesced to one file per commit like position deletes.
    */
  def writeEqualityDeleteFile(keyed: DataFrame, keyCols: Seq[String],
      fieldIds: Seq[Int], location: String, seq: Long)
      : Option[DeleteFileEntry] = {
    val spark = keyed.sparkSession
    val tmp = Files.createTempDirectory(Paths.get(location), ".stage-del-")
    try {
      keyed
        .select(keyCols.zip(fieldIds).map { case (c, id) =>
          col(c).as(s"k_$id") }: _*)
        .distinct() // a key deletes once; duplicates only bloat the file
        .withColumn("_del_seq", lit(seq).cast(LongType))
        .coalesce(1) // key sets are CDC-batch-sized; one file per commit
        .write.mode("overwrite").parquet(tmp.toString)
      val staged = collectParquet(tmp)
      if (staged.isEmpty) return None
      val delDir = Paths.get(location, "deletes")
      Files.createDirectories(delDir)
      val name = s"eq$seq-${UUID.randomUUID.toString.take(8)}.parquet"
      Files.move(staged.head, delDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val (rows, _, stats) = footerStats(spark, delDir.resolve(name).toString)
      if (rows == 0) { Files.delete(delDir.resolve(name)); None }
      else Some(DeleteFileEntry(s"deletes/$name", rows, seq,
        content = "equality", equalityIds = fieldIds.toList,
        stats = stats - "_del_seq"))
    } finally deleteRecursively(tmp)
  }

  // ---- helpers --------------------------------------------------------

  private def collectParquet(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir) // holds directory fds until closed
    try walk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.toString)
    finally walk.close()
  }

  private[graft] def deleteRecursively(dir: Path): Unit = {
    val walk = Files.walk(dir) // holds directory fds until closed
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** `_p_x=v/_p_y=w/part-....parquet` → Map(x -> v, y -> w), unescaping
    * Hive-style %XX sequences.
    */
  def parsePartitionPath(rel: Path): Map[String, String] =
    (0 until rel.getNameCount - 1).flatMap { i =>
      val seg = rel.getName(i).toString
      seg.split("=", 2) match {
        case Array(k, v) if k.startsWith("_p_") =>
          Some(k.stripPrefix("_p_") -> unescapePathName(v))
        case _ => None
      }
    }.toMap

  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: Exception => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Row count, byte size, per-top-level-column min/max/nullCount from the
    * parquet footer (no data read). Canonical string encodings match
    * [[Transforms.parseCanonical]].
    */
  def footerStats(spark: SparkSession, path: String)
      : (Long, Long, Map[String, ColumnStats]) = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(path), conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val size = Files.size(Paths.get(path))
      val acc = scala.collection.mutable.Map[String, (Option[String], Option[String], Long, Boolean)]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          if (c.getPath.size == 1) {
            val name = c.getPath.iterator().next()
            val st = c.getStatistics
            val prim = c.getPrimitiveType
            val (mn, mx, ok) =
              if (st == null || st.isEmpty || !st.hasNonNullValue)
                (None, None, st != null && !st.isEmpty)
              else decode(prim.getPrimitiveTypeName,
                prim.getLogicalTypeAnnotation, st)
            val nulls = if (st != null && !st.isEmpty) st.getNumNulls else 0L
            val (pm, px, pn, pok) = acc.getOrElse(name, (None, None, 0L, true))
            acc(name) = (mergeMin(pm, mn), mergeMax(px, mx), pn + nulls, pok && ok)
          }
        }
      }
      val stats = acc.collect { case (k, (mn, mx, nulls, ok)) if ok =>
        k -> ColumnStats(mn, mx, nulls)
      }.toMap
      (rows, size, stats)
    } finally reader.close()
  }

  private def mergeMin(a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmpCanon(x, y) <= 0) x else y)
      case _ => a.orElse(b)
    }
  private def mergeMax(a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmpCanon(x, y) >= 0) x else y)
      case _ => a.orElse(b)
    }
  private def cmpCanon(a: String, b: String): Int =
    (scala.util.Try(BigDecimal(a)), scala.util.Try(BigDecimal(b))) match {
      case (scala.util.Success(x), scala.util.Success(y)) => x.compare(y)
      case _ => a.compareTo(b)
    }

  /** Decode parquet statistics to canonical strings; `ok=false` marks a
    * column whose stats we don't understand (excluded → never pruned on).
    */
  private def decode(
      prim: PrimitiveTypeName,
      logical: LogicalTypeAnnotation,
      st: org.apache.parquet.column.statistics.Statistics[_])
      : (Option[String], Option[String], Boolean) = {
    def s(v: Any): String = v.toString
    (prim, logical) match {
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) =>
        val mn = new String(st.getMinBytes, java.nio.charset.StandardCharsets.UTF_8)
        val mx = new String(st.getMaxBytes, java.nio.charset.StandardCharsets.UTF_8)
        (Some(mn), Some(mx), true)
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) =>
        (Some(s(st.genericGetMin)), Some(s(st.genericGetMax)), true)
      case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation) =>
        val factor = ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
          case LogicalTypeAnnotation.TimeUnit.NANOS => -1000L // divide
        }
        def conv(v: Any): String = {
          val x = v.asInstanceOf[java.lang.Long].longValue()
          if (factor > 0) s(x * factor) else s(x / -factor)
        }
        (Some(conv(st.genericGetMin)), Some(conv(st.genericGetMax)), true)
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64,
            dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        // decimal stats are unscaled integers: rescale to canonical form
        // (recording them raw made pruning non-conservative: 12.34 vs 1234)
        def conv(v: Any): String =
          BigDecimal(BigInt(v.toString), dec.getScale).toString
        (Some(conv(st.genericGetMin)), Some(conv(st.genericGetMax)), true)
      case (_, _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        (None, None, false) // binary-backed decimals: skip conservatively
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 |
            PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE |
            PrimitiveTypeName.BOOLEAN, _) =>
        (Some(s(st.genericGetMin)), Some(s(st.genericGetMax)), true)
      case _ => (None, None, false)
    }
  }
}
