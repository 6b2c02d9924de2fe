package graft.lake

import java.nio.file.{Files, Paths}
import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The versioned lake table — the engine's answer to the Trino/Iceberg
  * surface the reference exercises: snapshot-logged CTAS/appends
  * (`iceberg_trino_sqldemo.sql:11-40,103-106`), MoR/CoW row-level DML
  * (`sql:129-157`), time travel (`sql:216`), branches (`sql:234-249`),
  * rollback (`sql:218`), CDC (`sql:114-125`), compaction + retention
  * (`sql:258-268`), schema & partition evolution (`sql:166-209`).
  *
  * Every operation loads the current metadata version, builds the next
  * one, and commits it with an atomic rename — the only critical section
  * (SURVEY §3 EP2). Data movement is all Spark DataFrame jobs; metadata
  * is O(commits + files touched), never O(table).
  */
class LakeTable(val spark: SparkSession, val location: String) {
  import Meta._
  import Writer.{LastUpdatedSeq, RowId}

  def meta: TableMetadata = Meta.load(location)

  def schema: StructType = meta.currentSchema.struct

  def properties: Map[String, String] = meta.properties

  // ---- reads ----------------------------------------------------------

  def read(): DataFrame = Scan.read(spark, meta, Scan.ReadOptions())

  def read(filter: Column): DataFrame =
    Scan.read(spark, meta, Scan.ReadOptions(filter = Some(filter)))

  /** Time travel by snapshot id — `FOR VERSION AS OF <id>` (`sql:216`). */
  def asOf(snapshotId: Long): DataFrame =
    Scan.read(spark, meta, Scan.ReadOptions(snapshotId = Some(snapshotId)))

  /** Time travel by wall clock — `FOR TIMESTAMP AS OF`. */
  def asOfTime(timestampMs: Long): DataFrame =
    Scan.read(spark, meta, Scan.ReadOptions(asOfTimestampMs = Some(timestampMs)))

  /** Branch/tag read — `customer @ dev` / `FOR VERSION AS OF 'dev'`
    * (`sql:243-245`).
    */
  def readRef(ref: String): DataFrame =
    Scan.read(spark, meta, Scan.ReadOptions(ref = Some(ref)))

  /** Read with the reference's metadata columns (`sql:65-72`). */
  def readWithMetaColumns(): DataFrame =
    Scan.read(spark, meta,
      Scan.ReadOptions(withLineage = true, withFileMeta = true))

  /** `SELECT * FROM "customer$snapshots"` etc. (`sql:74-82`). */
  def metaTable(name: String): DataFrame = MetaTables(this, name)

  /** ANALYZE (`sql:48`) — stats persisted into table properties. */
  def analyze(exactNdv: Boolean = false): TableStats.TStats =
    TableStats.analyze(this, exactNdv)

  /** SHOW STATS (`sql:49`). */
  def showStats(): DataFrame = TableStats.showStats(this)

  // ---- internal helpers ----------------------------------------------

  /** Commit `manifest` plus the `appended` files of new rows as the next
    * snapshot of `branch`. Each appended file inherits its row ids (v3
    * row lineage, Iceberg's `first_row_id`): in staged order, it gets
    * `firstRowId` from the `nextRowId` watermark, which advances by its
    * row count, and its `_row_id` stats become that id range, so pruning
    * on row ids stays exact.
    */
  private def commitSnapshot(
      base: TableMetadata,
      operation: String,
      delta: Manifest,
      branch: String,
      summary: Map[String, String] = Map.empty,
      appended: Seq[DataFileEntry] = Nil): Snapshot = {
    val firstIds = appended.scanLeft(base.nextRowId)(_ + _.recordCount)
    val manifest = delta.copy(addedData = delta.addedData ++
      appended.zip(firstIds).map { case (f, first) => inheriting(f, first) })
    val seq = base.lastSequenceNumber + 1
    val snapId = base.lastSnapshotId + 1
    val parent = base.refs.get(branch).map(_.snapshotId)
    val parentManifests = parent.flatMap(base.snapshot)
      .map(_.manifests).getOrElse(Nil)
    // Manifest-list compaction (Iceberg's manifest merge): without it
    // the chain grows O(commits) and every read re-reads every manifest
    // JSON — the metadata bottleneck at 100× commit volume. Once the
    // parent chain reaches `manifest_merge_min`, fold its net live
    // entries into ONE compacted manifest. Only the *parent* chain is
    // folded — the new delta manifest stays last, because CDC and
    // incremental reads resolve a commit's own contribution via
    // `manifests.last`. Old snapshots keep their own (uncompacted)
    // lists, so time travel is unaffected.
    val mergeMin = base.properties.getOrElse("manifest_merge_min", "8").toInt
    val compactedParents =
      if (parentManifests.size >= mergeMin) {
        val (d, dl) = Meta.foldManifests(base.location, parentManifests)
        List(Meta.writeManifest(base.location,
          s"manifest-$snapId-compacted-${UUID.randomUUID.toString.take(8)}.json",
          Manifest(d, dl, Nil, Nil)))
      } else parentManifests
    val mPath = Meta.writeManifest(base.location,
      s"manifest-$snapId-${UUID.randomUUID.toString.take(8)}.json", manifest)
    val snap = Snapshot(snapId, parent, seq, System.currentTimeMillis(),
      operation, compactedParents :+ mPath,
      schemaId = base.currentSchemaId,
      summary = summary ++ Map(
        "added-data-files" -> manifest.addedData.size.toString,
        "added-delete-files" -> manifest.addedDeletes.size.toString,
        "removed-data-files" -> manifest.removedDataPaths.size.toString,
        "added-records" -> manifest.addedData.map(_.recordCount).sum.toString))
    Meta.commit(base.copy(
      lastSequenceNumber = seq,
      lastSnapshotId = snapId,
      nextRowId = firstIds.last,
      snapshots = base.snapshots :+ snap,
      refs = base.refs + (branch -> Ref(snapId, "branch"))))
    snap
  }

  private def inheriting(f: DataFileEntry, first: Long): DataFileEntry =
    f.copy(firstRowId = Some(first), stats =
      if (f.recordCount == 0) f.stats
      else f.stats + (RowId -> ColumnStats(Some(first.toString),
        Some((first + f.recordCount - 1).toString), 0L)))

  /** New rows as written: a null `_row_id`, which the commit's
    * `firstRowId` fills ([[commitSnapshot]]), and sequence `seq`.
    */
  private def newRows(df: DataFrame, seq: Long): DataFrame =
    df.withColumn(RowId, lit(null).cast(LongType))
      .withColumn(LastUpdatedSeq, lit(seq).cast(LongType))

  /** Align an arbitrary df to the current schema: missing columns take
    * their default (v3 default values, `sql:166-169`) or null; extras are
    * rejected; types are cast.
    */
  private def align(df: DataFrame, target: StructType): DataFrame = {
    val extra = df.columns.toSet -- target.fieldNames.toSet
    require(extra.isEmpty, s"columns not in table schema: $extra")
    val cols = target.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else SchemaEvolution.defaultValue(f).getOrElse(lit(null))
        .cast(f.dataType).as(f.name)
    }
    df.select(cols: _*)
  }

  /** The table-policy data write: default spec, current schema,
    * `sorted_by` order and [[writeOpts]].
    */
  private def writeData(m: TableMetadata, seq: Long, df: DataFrame)
      : Seq[DataFileEntry] =
    Writer.writeDataFiles(df, location, m.defaultSpec, m.currentSchemaId, seq,
      m.properties.get("sorted_by").toSeq.flatMap(_.split(",")).map(_.trim)
        .filter(_.nonEmpty),
      writeOpts(m))

  /** Parquet writer options derived from table properties.
    * `bloom_filter_columns` = comma list of high-cardinality columns →
    * every data file carries a parquet bloom filter per listed column,
    * and point-lookup scans skip row groups whose filter proves the key
    * absent — the data-skipping tier BELOW manifest min/max pruning
    * (min/max is useless for an id scattered uniformly through every
    * file; a bloom answers membership). Applied on every write path
    * (append, DML rewrites, MERGE, compaction) so clustering files via
    * OPTIMIZE keeps their filters.
    */
  private def writeOpts(m: TableMetadata): Map[String, String] =
    m.properties.get("bloom_filter_columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap

  private def liveOf(m: TableMetadata, branch: String)
      : (List[DataFileEntry], List[DeleteFileEntry]) =
    m.refs.get(branch).map(_.snapshotId).flatMap(m.snapshot) match {
      case Some(s) => Meta.liveFiles(m, s)
      case None => (Nil, Nil)
    }

  /** Null-safe "row matches": DML predicates treat null as no-match. */
  private def matches(cond: Column): Column = coalesce(cond, lit(false))

  private def mergeOnRead(m: TableMetadata): Boolean =
    m.properties.getOrElse("merge_mode", "merge-on-read") == "merge-on-read"

  /** Rows with `set` applied over the table columns (UPDATE's rows and
    * MERGE's matched rows): `$row_id` kept, `$last_updated_sequence_number`
    * stamped with `seq` (v3 row lineage, `sql:133-135`).
    */
  private def assign(rows: DataFrame, target: StructType,
      set: Map[String, Column], seq: Long): DataFrame =
    rows.select(target.fields.toSeq.map { f =>
      set.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
    } ++ Seq(col(RowId), lit(seq).cast(LongType).as(LastUpdatedSeq)): _*)

  /** The files a key set can touch, pruned by the key set's min/max box
    * (one metadata-sized agg over `keys`, whose `keyCols` are the table's
    * `tableCols`). Under `===` matching (MERGE) a null key matches no
    * row, so an empty key set or an all-null key column touches no file.
    * Under null-safe `<=>` matching (equality deletes) an empty key set
    * touches no file, and any null key defeats the box: a null never
    * satisfies a range predicate, yet it matches null-keyed rows in any
    * file — so every file stays, correctness over pruning.
    */
  private def keyCandidates(m: TableMetadata, files: Seq[DataFileEntry],
      keys: DataFrame, keyCols: Seq[String], tableCols: Seq[String],
      nullSafe: Boolean): Seq[DataFileEntry] = {
    val aggs = keyCols.indices.flatMap { i =>
      val k = col(keyCols(i))
      Seq(min(k).as(s"_mn_$i"), max(k).as(s"_mx_$i"),
        count(when(k.isNull, 1)).as(s"_nn_$i"))
    }
    val b = keys.agg(aggs.head, aggs.tail: _*).head()
    val box = tableCols.indices.map(i =>
      (tableCols(i), b.getAs[Any](s"_mn_$i"), b.getAs[Any](s"_mx_$i")))
    if (nullSafe && keyCols.indices.exists(i => b.getAs[Long](s"_nn_$i") > 0))
      files
    else if (box.exists(_._2 == null)) Nil
    else Scan.prunePred(m, files, inBox(box))
  }

  /** Every `(column, min, max)` range of a key box holds. */
  private def inBox(box: Seq[(String, Any, Any)]): Transforms.Pred =
    box.map { case (n, mn, mx) =>
      Transforms.AndP(Transforms.Cmp(">=", n, mn), Transforms.Cmp("<=", n, mx))
    }.reduce[Transforms.Pred](Transforms.AndP(_, _))

  /** Column `c`'s canonical `(min, max)` in each delete file, from its
    * manifest stats, or for an entry written before delete files carried
    * stats, from its parquet footer read in-process (no Spark job); None
    * when any file lacks usable stats for `c`, or counts a null in it.
    */
  private def deleteRanges(files: Seq[DeleteFileEntry], c: String)
      : Option[Seq[(String, String)]] = {
    val ranges = files.map { d =>
      val stats = if (d.stats.nonEmpty) d.stats
        else Writer.footerStats(spark, Paths.get(location, d.path).toString)._3
      stats.get(c).filter(_.nullCount == 0).flatMap(st => st.min.zip(st.max))
    }
    if (ranges.forall(_.isDefined)) Some(ranges.flatten) else None
  }

  /** Copy-on-write: of the `candidates`, rewrite only the files holding
    * a row that `hits` selects, with `rewrite` giving their new content,
    * and commit them as removed. Finding those files is a metadata-sized
    * collect of file paths, matched by file NAME via a set lookup — an
    * exists/endsWith scan would be O(files × hits) driver work at
    * 100k-file scale. None when no candidate holds a hit.
    */
  private def rewriteFiles(m: TableMetadata, operation: String,
      branch: String, candidates: Seq[DataFileEntry],
      dels: Seq[DeleteFileEntry], hits: DataFrame => DataFrame,
      rewrite: DataFrame => DataFrame): Option[Snapshot] = {
    if (candidates.isEmpty) return None
    val hitNames = hits(Scan.readEntries(spark, m, candidates, dels,
        withPath = true))
      .select(Scan.GraftPath).distinct().collect()
      .map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1))
      .toSet
    val affected = candidates.filter(e =>
      hitNames.contains(e.path.stripPrefix("data/")))
    if (affected.isEmpty) return None
    val entries = writeData(m, m.lastSequenceNumber + 1,
      rewrite(Scan.readEntries(spark, m, affected, dels)))
    Some(commitSnapshot(m, operation,
      Manifest(entries.toList, Nil, affected.map(_.path).toList, Nil),
      branch))
  }

  /** Optimistic-concurrency retry: re-run `body` when its commit loses
    * the metadata CAS to a concurrent writer (the Iceberg commit loop).
    * The retry unit is FULL RE-EXECUTION, not manifest rebase: each
    * attempt reloads current metadata, so new files inherit row ids
    * from the advanced watermark (no collision with the winner's rows),
    * DML predicates re-evaluate against the winner's committed rows,
    * and scan pruning sees the winner's files — the outcome is exactly
    * that of running the operation strictly AFTER the winner (serial
    * semantics; no lost updates, no double-applied deletes). Data files
    * written by a losing attempt are never referenced by any snapshot;
    * `removeOrphanFiles` collects them. Only the dedicated conflict
    * type retries — invariant failures (ancestry checks, multi-match
    * MERGE) that also extend IllegalStateException still fail fast.
    */
  private def withCommitRetry[A](opName: String)(body: => A): A = {
    // Default is higher than Iceberg's 4: its retry unit is a cheap
    // metadata rebase, ours re-runs the data job, so one attempt spans
    // several winner commits under contention and a writer can lose
    // many rounds before landing. Tune with `commit_num_retries`.
    // lazy: the property read costs a metadata load, which the
    // no-conflict fast path (every uncontended commit) must not pay.
    lazy val maxRetries =
      try meta.properties.getOrElse("commit_num_retries", "12").toInt
      catch { case _: Exception => 12 }
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Meta.CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"$opName: gave up after $maxRetries commit-conflict " +
                s"retries at $location", e)
          // jittered, capped exponential backoff de-synchronizes a
          // herd of writers without parking anyone for minutes
          val base = math.min(2000L, 25L << math.min(attempt, 6))
          Thread.sleep(scala.util.Random.nextLong(base) + 5)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- DML (SURVEY §2.6) ---------------------------------------------

  /** INSERT INTO — append rows, new `append` snapshot (`sql:103-106`).
    * Caller-supplied lineage columns are dropped: `$row_id` assignment
    * belongs to the table (re-appending rows read with meta columns must
    * get FRESH ids, or MoR deletes keyed on row id would hit imposters).
    * The rows are written with a null `_row_id` and inherit their ids
    * from the commit, so the append is one Spark job over `df`.
    */
  def append(df: DataFrame, branch: String = "main",
      summary: Map[String, String] = Map.empty): Snapshot =
      withCommitRetry("INSERT") {
    val m = meta
    val cleaned = df.drop(RowId, LastUpdatedSeq,
      Scan.RowIdCol, Scan.LastSeqCol,
      Scan.PathCol, Scan.MtimeCol, Scan.PartitionCol)
    val aligned = align(cleaned, m.currentSchema.struct)
    val seq = m.lastSequenceNumber + 1
    if (Scan.rowLineageEnabled(m))
      commitSnapshot(m, "append", Manifest(Nil, Nil, Nil, Nil), branch,
        summary, appended = writeData(m, seq, newRows(aligned, seq)))
    else commitSnapshot(m, "append",
      Manifest(writeData(m, seq, aligned).toList, Nil, Nil, Nil), branch,
      summary)
  }

  /** DELETE FROM … WHERE (`sql:137,228,240`). MoR writes a deletion
    * vector; CoW rewrites only the files that contain matches.
    */
  def delete(cond: Column, branch: String = "main"): Option[Snapshot] =
      withCommitRetry("DELETE") {
    val m = meta
    val (files, dels) = liveOf(m, branch)
    val candidates = Scan.pruneFiles(m, files, Some(cond))
    if (candidates.isEmpty) return None
    if (mergeOnRead(m)) {
      require(Scan.rowLineageEnabled(m), "merge-on-read requires row lineage")
      val matched = Scan.readEntries(spark, m, candidates, dels)
        .filter(matches(cond))
      Writer.writeDeleteFile(matched.select(col(RowId)), location,
          m.lastSequenceNumber + 1)
        .map(d => commitSnapshot(m, "delete",
          Manifest(Nil, List(d), Nil, Nil), branch))
    } else rewriteFiles(m, "delete", branch, candidates, dels,
      _.filter(matches(cond)), _.filter(!matches(cond)))
  }

  /** DELETE by key set — the public Iceberg v2/v3 EQUALITY-delete shape
    * (the reference script exercises only position deletes/deletion
    * vectors, `sql:137,228,240`; this is the delete form streaming CDC
    * writers like Flink emit). `keys` carries the key column values
    * (CURRENT names); every table row whose key null-safe-equals a key
    * row AND whose `_last_updated_seq` predates this commit is deleted.
    *
    * MoR writes ONLY a key-set-sized equality-delete file — no table
    * read, no data rewrite: O(keys) commit cost regardless of table
    * size, which is the whole point of equality deletes at 100 TB (a
    * position delete must first FIND the rows; a CDC writer can't
    * afford that per batch). The scan applies it as a broadcast
    * anti-join (`Scan.readEntries`). CoW rewrites only the files whose
    * stats intersect the key set's bounding box AND that actually
    * contain a matching row — same two-stage pruning as [[delete]].
    */
  def deleteByKeys(keys: DataFrame, keyCols: Seq[String],
      branch: String = "main"): Option[Snapshot] =
      withCommitRetry("DELETE (equality)") {
    val m = meta
    require(Scan.rowLineageEnabled(m), "equality delete requires row lineage")
    val target = m.currentSchema.struct
    val fieldIds = keyCols.map { c =>
      target.fields.find(_.name == c).map(SchemaEvolution.fieldId)
        .getOrElse(throw new IllegalArgumentException(
          s"equality delete key '$c' is not a table column"))
    }
    if (mergeOnRead(m))
      Writer.writeEqualityDeleteFile(keys, keyCols, fieldIds, location,
          m.lastSequenceNumber + 1)
        .map(d => commitSnapshot(m, "delete",
          Manifest(Nil, List(d), Nil, Nil), branch))
    else {
      // CoW: the key set (persisted: the box agg reads it, then it
      // broadcasts in both the hit-detection semi-join and the survivor
      // anti-join) prunes by its box, then only files that actually
      // contain a matching row are rewritten.
      keys.persist()
      try {
        val (files, dels) = liveOf(m, branch)
        val keyDf = broadcast(keys.select(keyCols.map(c =>
          col(c).as(s"_k_$c")): _*).distinct())
        def keyed(df: DataFrame, how: String) = df.join(keyDf,
          keyCols.map(c => df(c) <=> keyDf(s"_k_$c")).reduce(_ && _), how)
        rewriteFiles(m, "delete", branch,
          keyCandidates(m, files, keys, keyCols, keyCols, nullSafe = true),
          dels, keyed(_, "left_semi"), keyed(_, "left_anti"))
      } finally keys.unpersist()
    }
  }

  /** UPDATE … SET … WHERE (`sql:129,241`): preserves `$row_id`, bumps
    * `$last_updated_sequence_number` (v3 row lineage, `sql:133-135`).
    */
  def update(cond: Column, set: Map[String, Column],
      branch: String = "main"): Option[Snapshot] =
      withCommitRetry("UPDATE") {
    val m = meta
    require(Scan.rowLineageEnabled(m), "update requires row lineage")
    val (files, dels) = liveOf(m, branch)
    val candidates = Scan.pruneFiles(m, files, Some(cond))
    if (candidates.isEmpty) return None
    val seq = m.lastSequenceNumber + 1
    val target = m.currentSchema.struct
    if (mergeOnRead(m)) {
      val matched = Scan.readEntries(spark, m, candidates, dels)
        .filter(matches(cond))
      matched.cache()
      try {
        Writer.writeDeleteFile(matched.select(col(RowId)), location, seq)
          .map(d => commitSnapshot(m, "overwrite", Manifest(
            writeData(m, seq, assign(matched, target, set, seq)).toList,
            List(d), Nil, Nil), branch))
      } finally matched.unpersist()
    } else rewriteFiles(m, "overwrite", branch, candidates, dels,
      _.filter(matches(cond)),
      all => assign(all.filter(matches(cond)), target, set, seq)
        .unionByName(all.filter(!matches(cond))))
  }

  /** MERGE INTO (`sql:146-157`): matched-update + not-matched-insert in
    * one commit. Source columns are exposed to `matchedCondition` and
    * `whenMatchedSet` with a `src_` prefix (`src_name` = source.name);
    * `whenMatchedSet = Some(Map.empty)` updates every shared column from
    * the source. Executed as one join classification — shuffle on the
    * join key, AQE re-plans skew.
    *
    * The target scan is pruned by the source's key bounding box: a merge
    * touching 1% of the key space must not read the other 99% of a
    * 100 TB table. One agg over the (cached) source yields per-key
    * min/max; files whose stats cannot intersect that box contain no
    * matchable row and are never read (MoR merge leaves their rows
    * untouched regardless). The commit summary records
    * `candidate-data-files` so plans are auditable.
    */
  def merge(source: DataFrame, keys: Seq[String],
      matchedCondition: Option[Column] = None,
      whenMatchedSet: Option[Map[String, Column]] = Some(Map.empty),
      whenNotMatchedInsert: Boolean = true,
      branch: String = "main",
      summary: Map[String, String] = Map.empty): Option[Snapshot] =
      withCommitRetry("MERGE") {
    val m = meta
    require(Scan.rowLineageEnabled(m), "merge requires row lineage")
    val (files, dels) = liveOf(m, branch)
    val seq = m.lastSequenceNumber + 1
    val target = m.currentSchema.struct

    source.persist()
    try {
      val candidates =
        keyCandidates(m, files, source, keys, keys, nullSafe = false)
      val src = source.columns.foldLeft(source) { (d, c) =>
        d.withColumnRenamed(c, s"src_$c")
      }
      val tgt = Scan.readEntries(spark, m, candidates, dels)
      val joinCond = keys.map(k => tgt(k) === src(s"src_$k")).reduce(_ && _)
      // Unmatched target rows are never consulted (neither updated nor
      // re-written): right_outer keeps every source row for the insert
      // classification; inner suffices when inserts are off.
      val joined = tgt.join(src, joinCond,
        if (whenNotMatchedInsert) "right_outer" else "inner").cache()
      try {
        val isMatched = col(RowId).isNotNull &&
          keys.map(k => col(s"src_$k").isNotNull).reduce(_ && _)

        // matched + condition → updated rows (same $row_id, new seq)
        val updatedOpt = whenMatchedSet.map { setRaw =>
          val set: Map[String, Column] =
            if (setRaw.nonEmpty) setRaw
            else target.fieldNames.filter(n => source.columns.contains(n))
              .filterNot(keys.contains).map(n => n -> col(s"src_$n")).toMap
          val condCol = matchedCondition.map(matches).getOrElse(lit(true))
          assign(joined.filter(isMatched && condCol), target, set, seq)
        }

        // unmatched source rows → inserts (their files inherit fresh ids)
        val insertedOpt =
          if (whenNotMatchedInsert) Some(align(
            joined.filter(col(RowId).isNull).select(source.columns
              .filter(target.fieldNames.contains)
              .map(c => col(s"src_$c").as(c)).toSeq: _*), target))
          else None

        // Gate FIRST (Trino semantics: a target row matched by >1 source
        // row is an error, not a silent duplicate — both copies would
        // share one $row_id and corrupt later MoR deletes): the invariant
        // must hold before ANY file lands. The gating count also
        // materializes the joined/upd caches, so the two write branches
        // below never race to compute them.
        updatedOpt.foreach(_.cache())
        val (updPart, insPart) = try {
          updatedOpt.foreach { upd =>
            val multi = upd.groupBy(col(RowId)).count()
              .filter(col("count") > 1).limit(1).count()
            require(multi == 0,
              "MERGE: one target row matched more than one source row")
          }
          // The update-side writes (delete vector + rewritten rows) and
          // the insert-side write (new rows) read only the
          // cached frames and land in DISJOINT files — overlap them
          // (guide §2.6); the commit below is still one atomic snapshot.
          graft.SparkEnv.overlap(
            updatedOpt.flatMap { upd =>
              Writer.writeDeleteFile(upd.select(col(RowId)), location, seq)
                .map(de => (writeData(m, seq, upd), de))
            },
            insertedOpt.map(ins => writeData(m, seq, newRows(ins, seq))))
        } finally updatedOpt.foreach(_.unpersist())
        val inserted = insPart.toList.flatten
        val manifest = Manifest(updPart.toList.flatMap(_._1),
          updPart.map(_._2).toList, Nil, Nil)
        if (manifest.addedData.isEmpty && inserted.isEmpty &&
            manifest.addedDeletes.isEmpty) None
        else Some(commitSnapshot(m, "overwrite", manifest, branch,
          summary = summary ++ Map(
            "candidate-data-files" -> candidates.size.toString,
            "total-data-files" -> files.size.toString),
          appended = inserted))
      } finally joined.unpersist()
    } finally source.unpersist()
  }

  // ---- versioning (SURVEY §2.8) --------------------------------------

  /** CREATE BRANCH (`sql:234`). */
  def createBranch(name: String, from: String = "main"): Unit =
      withCommitRetry("CREATE BRANCH") {
    val m = meta
    require(!m.refs.contains(name), s"ref $name exists")
    val head = m.refs.getOrElse(from,
      throw new IllegalArgumentException(s"no ref $from"))
    Meta.commit(m.copy(refs = m.refs + (name -> Ref(head.snapshotId, "branch"))))
  }

  def dropBranch(name: String): Unit = withCommitRetry("DROP BRANCH") {
    val m = meta
    require(name != "main", "cannot drop main")
    Meta.commit(m.copy(refs = m.refs - name))
  }

  def createTag(name: String, snapshotId: Long): Unit =
      withCommitRetry("CREATE TAG") {
    val m = meta
    Meta.commit(m.copy(refs = m.refs + (name -> Ref(snapshotId, "tag"))))
  }

  /** CALL rollback_to_snapshot (`sql:218`): moves the branch head; the
    * abandoned snapshots stay readable until expiration.
    */
  def rollback(snapshotId: Long, branch: String = "main"): Unit =
      withCommitRetry("ROLLBACK") {
    val m = meta
    require(m.snapshot(snapshotId).isDefined, s"no snapshot $snapshotId")
    Meta.commit(m.copy(refs = m.refs + (branch -> Ref(snapshotId, "branch"))))
  }

  /** ALTER BRANCH … FAST FORWARD TO … (`sql:249`) — target must be an
    * ancestor of source's head.
    */
  def fastForward(target: String, source: String): Unit =
      withCommitRetry("FAST FORWARD") {
    val m = meta
    val tgt = m.refs(target).snapshotId
    val srcHead = m.refs(source).snapshotId
    require(m.isAncestorOf(tgt, srcHead),
      s"$target (@$tgt) is not an ancestor of $source (@$srcHead): not a fast-forward")
    Meta.commit(m.copy(refs = m.refs + (target -> Ref(srcHead, "branch"))))
  }

  // ---- DDL: schema & partition evolution (SURVEY §2.7) ---------------

  private def evolveSchema(f: StructType => StructType): Unit =
      withCommitRetry("ALTER TABLE") {
    val m = meta
    val struct = f(m.currentSchema.struct)
    Scan.requireUserColumns(struct)
    val next = SchemaInfo(m.currentSchemaId + 1, struct.json)
    Meta.commit(m.copy(schemas = m.schemas :+ next,
      currentSchemaId = next.schemaId))
  }

  /** ALTER TABLE ADD COLUMN [DEFAULT] (`sql:166,175,185`). Field ids are
    * never reused: the new id tops the max across ALL schema versions —
    * reusing a dropped column's id would make old files resolve the new
    * column to the dropped column's data (the classic evolution bug;
    * Iceberg tracks last-column-id for exactly this reason).
    */
  def addColumn(name: String, dt: DataType, default: Option[String] = None)
      : Unit = {
    val m = meta
    val maxEver = m.schemas.map(si => SchemaEvolution.maxFieldId(si.struct))
      .foldLeft(0)(math.max)
    evolveSchema { cur =>
      require(!cur.fieldNames.contains(name), s"column $name exists")
      var f = SchemaEvolution.withFieldId(StructField(name, dt), maxEver + 1)
      default.foreach(d => f = SchemaEvolution.withDefault(f, d))
      StructType(cur.fields :+ f)
    }
  }

  /** ALTER TABLE DROP COLUMN (`sql:181`) — data files untouched. */
  def dropColumn(name: String): Unit =
    evolveSchema { cur =>
      require(cur.fieldNames.contains(name), s"no column $name")
      StructType(cur.fields.filterNot(_.name == name))
    }

  /** Rename keeps the stable field id, so old files keep resolving. */
  def renameColumn(from: String, to: String): Unit =
    evolveSchema { cur =>
      StructType(cur.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
    }

  /** ALTER TABLE SET partitioning (`sql:193,201`): a new spec version;
    * existing files keep their spec (`$partitions` shows both).
    */
  def setPartitioning(fields: Seq[String]): Unit =
      withCommitRetry("SET PARTITIONING") {
    val m = meta
    val spec = LakeTable.parseSpec(fields, m.specs.map(_.specId).max + 1)
    Meta.commit(m.copy(specs = m.specs :+ spec, defaultSpecId = spec.specId))
  }

  def setProperties(props: Map[String, String]): Unit =
      withCommitRetry("SET PROPERTIES") {
    val m = meta
    Meta.commit(m.copy(properties = m.properties ++ props))
  }

  // ---- CDC: table_changes (`sql:114-125`) ----------------------------

  /** Row-level diff between two snapshots on a branch's history: columns
    * = current schema + `_change_type` (insert|delete), `_change_ordinal`
    * (commit index in the range), `_commit_snapshot_id`.
    */
  def changes(startSnapshotId: Long, endSnapshotId: Long): DataFrame = {
    val m = meta
    require(m.isAncestorOf(startSnapshotId, endSnapshotId),
      s"start snapshot $startSnapshotId is not an ancestor of " +
        s"$endSnapshotId (expired or on another branch) — cannot compute changes")
    val chain = m.ancestors(endSnapshotId)
      .takeWhile(_.snapshotId != startSnapshotId).reverse // oldest first
    val outSchema = m.currentSchema.struct
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(outSchema.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_change_ordinal", IntegerType),
        StructField("_commit_snapshot_id", LongType))))

    def tag(df: DataFrame, tpe: String, ord: Int, snapId: Long): DataFrame =
      df.select(outSchema.fieldNames.map(col).toSeq: _*)
        .withColumn("_change_type", lit(tpe))
        .withColumn("_change_ordinal", lit(ord))
        .withColumn("_commit_snapshot_id", lit(snapId))

    val parts = chain.zipWithIndex.flatMap { case (snap, i) =>
      if (snap.operation == "replace") Nil // compaction: no logical change
      else {
        val mf = Meta.readManifest(location, snap.manifests.last)
        val parentLive = snap.parentId.flatMap(m.snapshot)
          .map(p => Meta.liveFiles(m, p))
        val ord = i + 1

        val preimage: Option[DataFrame] =
          if (mf.addedDeletes.nonEmpty) {
            val (pData, pDels) = parentLive.getOrElse((Nil, Nil))
            val (eqDels, posDels) =
              mf.addedDeletes.partition(_.content == "equality")
            // Position deletes: join parent state against the new
            // delete ids. The deletion vectors' row-id bounds come from
            // their stats, and parent files whose _row_id stats can't
            // overlap are pruned — the preimage scan touches only files
            // that actually lost rows, not the whole parent snapshot.
            val posPre: Option[DataFrame] = if (posDels.isEmpty) None else {
              val delDf = broadcast(Scan.readDeletes(spark, location, posDels))
              val prunedParent =
                deleteRanges(posDels, "_del_row_id") match {
                  case Some(rs) =>
                    val lo = rs.map(_._1.toLong).min
                    val hi = rs.map(_._2.toLong).max
                    pData.filter { f =>
                      f.stats.get(RowId).forall { st =>
                        st.min.forall(_.toLong <= hi) &&
                          st.max.forall(_.toLong >= lo)
                      }
                    }
                  case None => pData
                }
              val parent = Scan.readEntries(spark, m, prunedParent, pDels)
              Some(parent.join(delDf,
                parent(RowId) === delDf("_del_row_id") &&
                  parent(LastUpdatedSeq) < delDf("_del_seq"), "left_semi"))
            }
            // Equality deletes: the preimage is the parent rows whose
            // key null-safe-equals a delete-file row (same semi-join
            // the scan path uses as anti-join). Key-set files are
            // CDC-batch-sized → broadcast; parent files are pruned first
            // by each delete file's key box, read from its stats, so a
            // narrow-key delete commit's preimage never scans the rest
            // of a 100 TB parent snapshot. A null key matches null-keyed
            // rows in any file, so it keeps every file (the
            // deleteByKeys-CoW rule, [[keyCandidates]]).
            val eqPres: Seq[DataFrame] =
              eqDels.groupBy(_.equalityIds).toSeq.map { case (ids, fs) =>
                val fields = ids.map { id =>
                  m.currentSchema.struct.fields
                    .find(f => SchemaEvolution.fieldId(f) == id)
                    .getOrElse(throw new IllegalArgumentException(
                      s"equality delete references dropped field id $id"))
                }
                val names = fields.map(_.name)
                val delDf = broadcast(Scan.readDeletes(spark, location, fs))
                // a canonical stat as a predicate value of column `f`
                // (one that does not parse prunes nothing)
                def value(f: StructField, v: String): Any =
                  Transforms.parseCanonical(v, f.dataType) match {
                    case Some(d: BigDecimal) => d.bigDecimal
                    case other => other.getOrElse(v)
                  }
                val boxes = ids.zip(fields).map { case (id, f) =>
                  deleteRanges(fs, s"k_$id").map(_.map { case (mn, mx) =>
                    (f.name, value(f, mn), value(f, mx)) })
                }
                val prunedParent =
                  if (boxes.exists(_.isEmpty)) pData
                  else Scan.prunePred(m, pData, fs.indices
                    .map(i => inBox(boxes.map(_.get(i))))
                    .reduce[Transforms.Pred](Transforms.OrP(_, _)))
                val parent = Scan.readEntries(spark, m, prunedParent, pDels)
                val keyEq = ids.zip(names).map { case (id, n) =>
                  parent(n) <=> delDf(s"k_$id") }.reduce(_ && _)
                parent.join(delDf,
                  keyEq && parent(LastUpdatedSeq) < delDf("_del_seq"),
                  "left_semi")
              }
            (posPre.toSeq ++ eqPres).reduceOption(_ unionByName _)
          } else if (mf.removedDataPaths.nonEmpty) {
            // CoW rewrite: pre = removed files' rows (deletes applied).
            val (pData, pDels) = parentLive.getOrElse((Nil, Nil))
            val removed = pData.filter(f => mf.removedDataPaths.contains(f.path))
            Some(Scan.readEntries(spark, m, removed, pDels))
          } else None

        val postimage: Option[DataFrame] =
          if (mf.addedData.nonEmpty)
            Some(Scan.readEntries(spark, m, mf.addedData.toList, Nil))
          else None

        // For CoW rewrites unchanged rows appear on both sides; emit only
        // the true delta (exact-row set difference, lineage included).
        (preimage, postimage) match {
          case (Some(pre), Some(post)) if mf.removedDataPaths.nonEmpty =>
            Seq(tag(pre.exceptAll(post), "delete", ord, snap.snapshotId),
                tag(post.exceptAll(pre), "insert", ord, snap.snapshotId))
          case _ =>
            preimage.map(tag(_, "delete", ord, snap.snapshotId)).toSeq ++
              postimage.map(tag(_, "insert", ord, snap.snapshotId)).toSeq
        }
      }
    }
    parts.foldLeft(empty)(_ unionByName _)
  }

  /** Incremental append read: rows added by `append` commits in
    * `(fromSnapshotId, toSnapshotId]` — the cheap consumption path for
    * downstream pipelines that only need new data (full row-level diffs
    * incl. deletes → [[changes]]). Reads only the files those commits
    * added; nothing else is touched.
    */
  def readIncremental(fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val m = meta
    val end = toSnapshotId.orElse(m.currentSnapshotId).getOrElse(
      return Scan.read(spark, m, Scan.ReadOptions()))
    require(m.isAncestorOf(fromSnapshotId, end),
      s"snapshot $fromSnapshotId is not an ancestor of $end " +
        "(expired or on another branch) — incremental range is undefined")
    val chain = m.ancestors(end)
      .takeWhile(_.snapshotId != fromSnapshotId).reverse
    val added = chain.filter(_.operation == "append").flatMap { snap =>
      Meta.readManifest(location, snap.manifests.last).addedData
    }
    Scan.readEntries(spark, m, added, Nil)
      .select(m.currentSchema.struct.fieldNames.map(col).toSeq: _*)
  }

  // ---- maintenance (SURVEY §2.9) -------------------------------------

  /** CALL optimize (`sql:263-268`): compact files under the size
    * threshold (optionally only those matching `filePredicate` on
    * (path, modifiedMs)), applying deletion vectors. Query results are
    * invariant; snapshot operation = `replace`.
    */
  def optimize(fileSizeThresholdBytes: Long = 100L << 20,
      filePredicate: Option[(String, Long) => Boolean] = None,
      clusterBy: Seq[String] = Nil,
      targetFileCount: Option[Int] = None,
      branch: String = "main"): Option[Snapshot] =
      withCommitRetry("OPTIMIZE") {
    val m = meta
    val (files, dels) = liveOf(m, branch)
    val selected = files.filter { f =>
      f.sizeBytes < fileSizeThresholdBytes && (filePredicate match {
        case Some(p) =>
          val mtime = Files.getLastModifiedTime(
            Paths.get(location, f.path)).toMillis
          p(f.path, mtime)
        case None => true
      })
    }
    if (selected.size < 2) return None // nothing worth compacting
    val seq = m.lastSequenceNumber + 1
    val rows = Scan.readEntries(spark, m, selected, dels)
    val targetFiles = targetFileCount.getOrElse(math.max(1,
      (selected.map(_.sizeBytes).sum / fileSizeThresholdBytes).toInt))
    val entries =
      if (clusterBy.nonEmpty) {
        // clusterBy makes two passes (min/max agg + write): cache the
        // delete-applied input so compaction doesn't read the files
        // twice. The clustered order replaces `sorted_by`.
        rows.cache()
        try Writer.writeDataFiles(ZOrder.cluster(rows, clusterBy, targetFiles),
          location, m.defaultSpec, m.currentSchemaId, seq, Nil, writeOpts(m))
        finally rows.unpersist()
      } else writeData(m, seq, rows.coalesce(targetFiles))
    val allCompacted = selected.map(_.path).toSet == files.map(_.path).toSet
    Some(commitSnapshot(m, "replace",
      Manifest(entries.toList, Nil, selected.map(_.path).toList,
        if (allCompacted) dels.map(_.path).toList else Nil),
      branch))
  }

  /** CALL expire_snapshots (`sql:260`): drop snapshots older than the
    * threshold that no ref's history needs, and physically delete files
    * only they referenced.
    */
  def expireSnapshots(olderThanMs: Long): Unit =
      withCommitRetry("EXPIRE SNAPSHOTS") {
    val m = meta
    val cutoff = System.currentTimeMillis() - olderThanMs
    // Iceberg semantics: expiration drops *history* — only ref heads and
    // snapshots newer than the cutoff survive; time travel beyond that is
    // traded for reclaimed storage.
    val refHeads = m.refs.values.map(_.snapshotId).toSet
    val keep = m.snapshots.filter(s =>
      refHeads(s.snapshotId) || s.timestampMs >= cutoff).map(_.snapshotId).toSet
    val dropped = m.snapshots.filterNot(s => keep(s.snapshotId))
    if (dropped.isEmpty) return

    def referenced(ids: Set[Long]): Set[String] =
      m.snapshots.filter(s => ids(s.snapshotId)).flatMap { s =>
        val (d, del) = Meta.liveFiles(m, s)
        d.map(_.path) ++ del.map(_.path)
      }.toSet
    val keepFiles = referenced(keep)
    val dropFiles = referenced(dropped.map(_.snapshotId).toSet) -- keepFiles
    // Commit the snapshot removal FIRST (CAS on the state the drop set
    // was computed from), and only then touch storage: if the commit
    // loses to a concurrent writer (e.g. a rollback targeting a snapshot
    // being expired) or the process dies here, no live metadata ever
    // references a deleted file. Files orphaned by a crash after the
    // commit are removeOrphanFiles' job.
    Meta.commit(m.copy(snapshots = m.snapshots.filter(s => keep(s.snapshotId))))
    dropFiles.foreach(p => Files.deleteIfExists(Paths.get(location, p)))
  }

  /** CALL remove_orphan_files (`sql:261`): files on disk no snapshot
    * references, older than the threshold. Covers data and delete files
    * plus metadata-dir debris: `manifest-*.json` no snapshot references
    * (manifests are written BEFORE the commit CAS, so a losing
    * concurrent commit orphans them) and `*.tmp` siblings left by a
    * writer that died between createTempFile and the atomic publish,
    * and the `.stage-*` directories of data and delete writes that died
    * before their cleanup (reported by directory name). Live files never
    * end in `.tmp` (the publish renames/links away immediately), and the
    * mtime cutoff protects in-flight writers.
    */
  def removeOrphanFiles(olderThanMs: Long): Seq[String] = {
    val m = meta
    val cutoff = System.currentTimeMillis() - olderThanMs
    // later snapshots share their parents' manifests: read each once
    val referencedManifests = m.snapshots.flatMap(_.manifests).toSet
    val referenced = referencedManifests.flatMap { p =>
      val mf = Meta.readManifest(location, p)
      mf.addedData.map(_.path) ++ mf.addedDeletes.map(_.path)
    }
    import scala.jdk.CollectionConverters._
    // list() streams hold a directory fd until closed — never rely on GC
    def listDir(d: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.exists(d)) Nil
      else {
        val s = Files.list(d)
        try s.iterator().asScala.toSeq finally s.close()
      }
    val removed = Seq("data", "deletes").flatMap { dir =>
      listDir(Paths.get(location, dir)).flatMap { p =>
        val rel = s"$dir/${p.getFileName}"
        if (!referenced(rel) &&
            Files.getLastModifiedTime(p).toMillis < cutoff) {
          Files.delete(p); Some(rel)
        } else None
      }
    }
    val removedMeta = listDir(Meta.metadataDir(location)).flatMap { p =>
      val name = p.getFileName.toString
      val rel = s"metadata/$name"
      val orphanManifest = name.startsWith("manifest-") &&
        name.endsWith(".json") && !referencedManifests(rel)
      if ((orphanManifest || name.endsWith(".tmp")) &&
          Files.getLastModifiedTime(p).toMillis < cutoff) {
        Files.delete(p); Some(rel)
      } else None
    }
    // A write that died before its cleanup leaves its stage directory
    // (`Writer` stages under `.stage-*` and `.stage-del-*`). It is debris
    // once nothing in it has changed since the cutoff; one that vanishes
    // mid-walk belonged to a write that just finished.
    def newest(d: java.nio.file.Path): Long = {
      val walk = Files.walk(d)
      try walk.iterator().asScala
        .map(Files.getLastModifiedTime(_).toMillis).max
      finally walk.close()
    }
    val removedStages = listDir(Paths.get(location)).flatMap { p =>
      val name = p.getFileName.toString
      if (name.startsWith(".stage-") && Files.isDirectory(p) &&
          scala.util.Try(newest(p)).getOrElse(Long.MaxValue) < cutoff) {
        Writer.deleteRecursively(p); Some(name)
      } else None
    }
    removed ++ removedMeta ++ removedStages
  }
}

object LakeTable {
  import Meta._

  /** `year(col)` / `bucket(col, 16)` / `truncate(col, 4)` / `col`. */
  private val FnSpec = """(\w+)\(\s*([\w$]+)\s*(?:,\s*(\d+)\s*)?\)""".r

  def parseSpec(fields: Seq[String], specId: Int): PartitionSpec =
    PartitionSpec(specId, fields.map {
      case FnSpec("year", c, null) => PartitionField(c, "year", c + "_year")
      case FnSpec("month", c, null) => PartitionField(c, "month", c + "_month")
      case FnSpec("day", c, null) => PartitionField(c, "day", c + "_day")
      case FnSpec("hour", c, null) => PartitionField(c, "hour", c + "_hour")
      case FnSpec("bucket", c, n) if n != null =>
        PartitionField(c, s"bucket[$n]", c + "_bucket")
      case FnSpec("truncate", c, w) if w != null =>
        PartitionField(c, s"truncate[$w]", c + "_trunc")
      case plain if plain.matches("[\\w$]+") =>
        PartitionField(plain, "identity", plain)
      case other =>
        throw new IllegalArgumentException(s"bad partition field: $other")
    }.toList)

  /** CREATE [OR REPLACE] TABLE (optionally AS SELECT) — `sql:11-40`.
    * Replace keeps the old snapshots in the log (still time-travelable,
    * like the metadata-log entries at `sql:82`) and points `main` at the
    * new root snapshot.
    */
  def create(
      spark: SparkSession,
      location: String,
      source: Either[StructType, DataFrame],
      partitioning: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      replace: Boolean = false): LakeTable = {
    val exists = Meta.currentVersion(location).isDefined
    require(!exists || replace, s"table at $location already exists")

    val userSchema = source match {
      case Left(s) => s
      case Right(df) => df.schema
    }
    Scan.requireUserColumns(userSchema)
    val base = if (exists) Meta.load(location) else null
    val schemaId = if (exists) base.currentSchemaId + 1 else 0
    val specId = if (exists) base.specs.map(_.specId).max + 1 else 0
    // REPLACE must not reuse field ids of any prior schema version —
    // old snapshots stay time-travelable and resolve columns by id.
    val firstFieldId =
      if (exists)
        base.schemas.map(si => SchemaEvolution.maxFieldId(si.struct))
          .foldLeft(0)(math.max) + 1
      else 1
    val schema = SchemaEvolution.assignIds(userSchema, start = firstFieldId)
    val spec = parseSpec(partitioning, specId)

    val m0 =
      if (exists)
        base.copy(
          schemas = base.schemas :+ SchemaInfo(schemaId, schema.json),
          currentSchemaId = schemaId,
          specs = base.specs :+ spec,
          defaultSpecId = specId,
          properties = base.properties ++ properties,
          refs = base.refs - "main")
      else TableMetadata(
        formatVersion = 3,
        tableUuid = java.util.UUID.randomUUID.toString,
        location = location,
        lastSequenceNumber = 0L,
        lastSnapshotId = 0L,
        nextRowId = 0L,
        schemas = List(SchemaInfo(0, schema.json)),
        currentSchemaId = 0,
        specs = List(spec),
        defaultSpecId = specId,
        snapshots = Nil,
        refs = Map.empty,
        properties = properties,
        metadataLog = Nil)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(location))
    Meta.commit(m0)
    val table = new LakeTable(spark, location)
    source match {
      case Right(df) => table.append(df)
      case Left(_) => ()
    }
    table
  }

  def forLocation(spark: SparkSession, location: String): LakeTable = {
    require(Meta.currentVersion(location).isDefined, s"no table at $location")
    new LakeTable(spark, location)
  }
}
