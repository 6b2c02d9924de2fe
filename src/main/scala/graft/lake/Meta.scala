package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.Serialization

/** The versioned table-metadata model — a from-scratch, Iceberg-v3-shaped
  * metadata log (the reference exercises this via Trino's Iceberg
  * connector; we re-derive the structure from the public Iceberg spec and
  * the script's observable behavior, `iceberg_trino_sqldemo.sql:74-82,
  * 112-143, 193-249`).
  *
  * Layout on disk:
  * {{{
  *   <table>/metadata/v<N>.json         — full table metadata (small)
  *   <table>/metadata/manifest-N.json   — immutable file manifests
  *   <table>/metadata/version-hint.txt  — latest N (atomic pointer)
  *   <table>/data/<file>.parquet        — data files
  *   <table>/deletes/<file>.parquet     — deletion vectors (_row_id,_del_seq)
  * }}}
  *
  * Scale stance: `v<N>.json` holds only schemas/specs/snapshots/refs —
  * O(commits), not O(files). File listings live in immutable per-commit
  * manifests that snapshots *share* structurally (a snapshot lists the
  * manifest chain), so commit cost is O(new files), never a rewrite of
  * the full file inventory — the same property that lets Iceberg tables
  * hold millions of files.
  */
object Meta {

  /** An optimistic commit lost its CAS: either the metadata was loaded
    * at a version that is no longer current, or two writers raced the
    * same base and this one lost the exclusive publish. Retry = reload,
    * re-apply, commit (see [[LakeTable]]'s `withCommitRetry`). Subtype
    * of IllegalStateException so callers matching the old contract are
    * unchanged; a dedicated type so retry loops can't accidentally
    * swallow unrelated invariant failures (e.g. fast-forward ancestry
    * violations) that also surface as IllegalStateException.
    */
  class CommitConflictException(msg: String, cause: Throwable = null)
      extends IllegalStateException(msg, cause)

  /** One field of a partition spec. `transform`: identity | year | month |
    * day | bucket[N] | truncate[W] (hidden partitioning, `sql:13,21,193`).
    */
  case class PartitionField(source: String, transform: String, name: String)

  case class PartitionSpec(specId: Int, fields: List[PartitionField])

  /** Per-column min/max/nulls lifted from the parquet footer at write
    * time; `min`/`max` are canonical strings (see [[StatsCodec]]).
    */
  case class ColumnStats(min: Option[String], max: Option[String], nullCount: Long)

  /** A data file plus everything needed to prune it without opening it.
    *
    * `firstRowId` is v3 row-lineage inheritance (Iceberg's
    * `first_row_id`): a file of new rows stores a null `_row_id`, and
    * its row at position `p` has id `firstRowId + p`. The commit that
    * adds the file assigns it. `None` means the ids are stored in the
    * file: rewrites keep the ids they read, and manifests written before
    * inheritance existed parse to `None`.
    */
  case class DataFileEntry(
      path: String,
      specId: Int,
      schemaId: Int,
      partition: Map[String, String],
      recordCount: Long,
      sizeBytes: Long,
      stats: Map[String, ColumnStats],
      dataSeq: Long,
      firstRowId: Option[Long] = None)

  /** A delete file. Two contents, mirroring the public Iceberg v2/v3
    * spec's delete-file taxonomy:
    *
    *  - `content = "position"` — a deletion vector: parquet of
    *    (_row_id, _del_seq). Hits a data row iff
    *    row._last_updated_seq < entry._del_seq — rows (re)written in
    *    the same or a later commit are immune, which is what makes MoR
    *    UPDATE (delete-old + rewrite-new with the same `$row_id`)
    *    correct. (`sql:129-143`)
    *  - `content = "equality"` — an equality delete (the shape
    *    streaming CDC writers emit: delete-by-key WITHOUT reading the
    *    table): parquet of the key columns (named `k_<fieldId>`, so the
    *    mapping survives column renames) plus `_del_seq`;
    *    `equalityIds` lists the key field ids. Hits a data row iff the
    *    row's key values null-safe-equal a delete row's AND
    *    row._last_updated_seq < _del_seq — same sequence-number
    *    immunity rule as position deletes, so a row re-inserted after
    *    the delete survives.
    *
    * `stats` are the file's footer stats, as a data file's are: the
    * `_del_row_id` or `k_<fieldId>` range tells which rows the file can
    * hit without opening it.
    *
    * `content`, `equalityIds` and `stats` default for manifests written
    * before they existed (json4s fills constructor defaults on missing
    * fields); empty `stats` means the range is unknown.
    */
  case class DeleteFileEntry(path: String, recordCount: Long, dataSeq: Long,
      content: String = "position", equalityIds: List[Int] = Nil,
      stats: Map[String, ColumnStats] = Map.empty)

  /** An immutable manifest: the delta one commit contributed. */
  case class Manifest(
      addedData: List[DataFileEntry],
      addedDeletes: List[DeleteFileEntry],
      removedDataPaths: List[String],
      removedDeletePaths: List[String])

  case class Snapshot(
      snapshotId: Long,
      parentId: Option[Long],
      sequenceNumber: Long,
      timestampMs: Long,
      operation: String, // append | overwrite | delete | replace
      manifests: List[String],
      summary: Map[String, String],
      /** Schema current when this snapshot committed — time travel reads
        * with it (Iceberg semantics). -1 on legacy entries → current.
        */
      schemaId: Int = -1)

  /** Schema version; `schemaJson` is Spark's own StructType JSON, with
    * per-field metadata `graft.field-id` (stable across rename/drop,
    * `sql:166-189`) and `graft.default` (v3 default values, `sql:166`).
    */
  case class SchemaInfo(schemaId: Int, schemaJson: String) {
    lazy val struct: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  case class Ref(snapshotId: Long, refType: String) // "branch" | "tag"

  case class TableMetadata(
      formatVersion: Int,
      tableUuid: String,
      location: String,
      lastSequenceNumber: Long,
      lastSnapshotId: Long,     // monotone counter, never reused after rollback
      nextRowId: Long,          // v3 row-lineage id watermark
      schemas: List[SchemaInfo],
      currentSchemaId: Int,
      specs: List[PartitionSpec],
      defaultSpecId: Int,
      snapshots: List[Snapshot],
      refs: Map[String, Ref],
      properties: Map[String, String],
      metadataLog: List[String],
      /** Version this metadata was loaded from — the CAS base for commit.
        * 0 = fresh table. Set by load(); the serialized value is ignored.
        */
      baseVersion: Int = 0) {

    def schema(id: Int): SchemaInfo = schemas.find(_.schemaId == id).get
    def currentSchema: SchemaInfo = schema(currentSchemaId)
    def spec(id: Int): PartitionSpec = specs.find(_.specId == id).get
    def defaultSpec: PartitionSpec = spec(defaultSpecId)
    def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)
    def currentSnapshotId: Option[Long] = refs.get("main").map(_.snapshotId)
    def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshot)

    /** Snapshot ancestry chain, newest first. */
    def ancestors(id: Long): List[Snapshot] =
      snapshot(id) match {
        case Some(s) => s :: s.parentId.map(ancestors).getOrElse(Nil)
        case None => Nil
      }

    def isAncestorOf(ancestorId: Long, descendantId: Long): Boolean =
      ancestors(descendantId).exists(_.snapshotId == ancestorId)
  }

  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  // ---- JSON log I/O --------------------------------------------------

  def metadataDir(location: String): Path = Paths.get(location, "metadata")

  /** Unique temp file per call: a fixed sibling name would let two
    * concurrent writers (e.g. two readers fast-forwarding the hint)
    * consume each other's tmp — one move throws NoSuchFileException,
    * or publishes a partially-written file. createTempFile makes the
    * file 0600 on POSIX, which would leak restrictive perms onto the
    * PUBLISHED metadata (breaking other-user readers of a shared
    * warehouse) — widen to the conventional 0644 before the content is
    * written. A failed write deletes its tmp instead of leaking it.
    */
  private def writeTmp(target: Path, content: String): Path = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent,
      target.getFileName.toString, ".tmp")
    try {
      try Files.setPosixFilePermissions(tmp,
        java.nio.file.attribute.PosixFilePermissions.fromString("rw-r--r--"))
      catch { case _: UnsupportedOperationException => () } // non-POSIX FS
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      tmp
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  private def atomicWrite(target: Path, content: String): Unit = {
    val tmp = writeTmp(target, content)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  /** Exclusive atomic publish: fails if `target` already exists — the
    * actual CAS arm of the commit protocol. NB: a rename (Files.move,
    * even ATOMIC_MOVE) silently REPLACES an existing target on POSIX, so
    * the publish is a hard link — link(2) is atomic and fails with
    * EEXIST when the target exists.
    */
  private def atomicWriteExclusive(target: Path, content: String): Unit = {
    val tmp = writeTmp(target, content)
    try {
      Files.createLink(target, tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new CommitConflictException(
          s"concurrent commit: $target already exists — reload and retry", e)
      case e: Throwable =>
        Files.deleteIfExists(tmp)
        throw e
    }
  }

  /** Latest committed version. The hint file is a CACHE, not the source
    * of truth: the commit point is the (atomic) publish of v{N}.json, and
    * a crash between that and the hint update would otherwise leave the
    * hint permanently behind — every commit would reload N, collide on
    * v{N+1}.json, and the table would be wedged. So always probe past the
    * hint for version files a crashed/concurrent writer already
    * published, and fast-forward the hint opportunistically.
    */
  def currentVersion(location: String): Option[Int] = {
    val dir = metadataDir(location)
    val hint = dir.resolve("version-hint.txt")
    // A missing or unparsable hint is NOT "no table": a crash between
    // publishing v1.json and the first hint write must not wedge the
    // table — probe from v1.json in that case.
    val hinted =
      if (!Files.exists(hint)) 0
      else try new String(Files.readAllBytes(hint),
        StandardCharsets.UTF_8).trim.toInt
      catch { case _: NumberFormatException => 0 }
    var v = hinted
    while (Files.exists(dir.resolve(s"v${v + 1}.json"))) v += 1
    if (v == 0) None
    else {
      // The hint is a cache: a lost fast-forward is harmless, so a race
      // here must never fail the read.
      if (v != hinted)
        try atomicWrite(hint, v.toString) catch { case _: Exception => () }
      Some(v)
    }
  }

  def load(location: String): TableMetadata = {
    val v = currentVersion(location).getOrElse(
      throw new IllegalStateException(s"no lake table at $location"))
    loadVersion(location, v)
  }

  def loadVersion(location: String, v: Int): TableMetadata = {
    val p = metadataDir(location).resolve(s"v$v.json")
    // `location` is pinned to the path the metadata was LOADED from,
    // not the serialized field: data/manifest paths are all
    // location-relative, so a byte-copied (or moved/register_table'd)
    // table directory is a fully working table at its new path. Trusting
    // the embedded absolute path instead silently reads — and worse,
    // WRITES — the original directory (a copied bench-scenario index
    // once replaced its shared seed's files this way).
    Serialization.read[TableMetadata](
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .copy(baseVersion = v, location = location)
  }

  /** Pluggable commit-exclusivity strategy — the seam a multi-writer
    * deployment fills with its coordination service. The library's
    * default ([[CommitGuard.PosixCas]]) needs NO lock: `link(2)`'s
    * exclusive create IS the compare-and-swap, which is correct on any
    * POSIX filesystem (including NFS). Object stores without an atomic
    * exclusive create (classic S3 semantics) instead run the whole
    * check-and-publish window under [[withExclusive]] — the shipped
    * [[CommitGuard.DirLock]] demonstrates the contract over an atomic
    * `mkdir` with owner stamping and TTL-based crash reclaim; a real
    * 100 TB deployment implements this trait over its catalog or lock
    * service (Hive metastore lock, DynamoDB conditional put, ZK
    * ephemeral node) and installs it once per JVM via
    * [[Meta.setCommitGuard]]. The optimistic stale-base check inside
    * [[Meta.commit]] stays EITHER way: the guard serializes the publish
    * window; the version check still rejects writers whose reload is
    * stale, so retry semantics are identical under both strategies.
    */
  trait CommitGuard {
    def withExclusive[A](location: String)(body: => A): A

    /** Fencing re-validation, called by [[Meta.commit]] immediately
      * before the physical publish (the last instant a doomed write can
      * be stopped): a guard whose exclusivity can lapse mid-hold (a
      * lease/TTL lock whose holder was paused past its horizon) must
      * throw [[CommitConflictException]] here if the caller no longer
      * holds the exclusivity it acquired. Default no-op — [[PosixCas]]
      * needs none (the exclusive create IS the fence), and a
      * coordination-service guard with real fencing tokens validates
      * in its own publish path.
      */
    def validatePublish(location: String): Unit = ()
  }

  object CommitGuard {
    /** No lock: atomic exclusive create is the CAS (POSIX default). */
    object PosixCas extends CommitGuard {
      def withExclusive[A](location: String)(body: => A): A = body
    }

    /** Advisory directory lock for stores whose exclusive create can't
      * be trusted: acquire = atomic `mkdir` of `metadata/commit.lock`
      * (plus an owner file), release and crash-reclaim both go through
      * a single-winner atomic RENAME (below). A holder that died
      * mid-commit would wedge the table forever, so a lock older than
      * `ttlMs` (directory mtime) is reclaimable — the lease
      * liveness/safety trade, with the TTL as the crash-detection
      * horizon. Acquisition (including reclaim attempts) waits up to
      * `acquireMs` with jittered backoff, then surfaces a
      * [[CommitConflictException]] so [[graft.lake.LakeTable]]'s retry
      * loop handles it like any lost CAS.
      *
      * A HEARTBEAT daemon refreshes the held lock's mtime every
      * `ttlMs/4` while `body` runs, so an ACTIVE holder is never
      * treated as expired no matter how long its commit takes — the
      * TTL is a crash/stall-detection horizon, not a commit-duration
      * budget (`ttlMs` must only exceed the longest scheduling gap an
      * alive process can experience, not the worst-case commit).
      *
      * Safety envelope, stated honestly: a lease lock WITHOUT fencing
      * tokens cannot be airtight against a holder paused past its TTL
      * (a pause stops the heartbeat too) — that is precisely why
      * production deployments implement [[CommitGuard]] over a
      * coordination service that fences (conditional puts, epoch
      * numbers). What this impl guarantees: reclaim and release are
      * single-winner renames followed by re-validation of the CAPTURED
      * directory, so the naive read-then-delete races (a slow reclaimer
      * deleting a lock another writer just re-acquired; a slow releaser
      * deleting its reclaimer's fresh lock) are gone; and
      * [[validatePublish]] re-checks ownership at the last instant
      * before [[Meta.commit]]'s physical publish, so a holder that WAS
      * reclaimed mid-pause aborts with a retryable conflict instead of
      * publishing over the new holder. The residual exposure is one
      * validate-to-publish window after an actual TTL expiry, and on
      * POSIX the inner exclusive-create CAS still backstops even that.
      *
      * `heartbeat = false` exists for tests only: it simulates a paused
      * holder (a real pause stops the heartbeat exactly like this).
      */
    final class DirLock(ttlMs: Long = 60000L, acquireMs: Long = 30000L,
        heartbeat: Boolean = true)
        extends CommitGuard {

      /** Lock owner ids this THREAD currently holds, by location —
        * consulted by [[validatePublish]]. Thread-scoped because the
        * guard serializes commits per location per holder thread.
        */
      private val held = new ThreadLocal[Map[String, String]] {
        override def initialValue(): Map[String, String] = Map.empty
      }
      private def deleteTree(p: Path): Unit = {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
        finally walk.close()
      }

      /** Best-effort [[deleteTree]] — a failed delete must never fail
        * the caller (tombstones and stale locks are swept again later).
        */
      private def tryDeleteTree(p: Path): Unit =
        try deleteTree(p) catch { case _: Exception => () }

      /** Sweep expired capture tombstones (`commit.lock.reclaim-*` /
        * `commit.lock.release-*`) left by a [[captureAndDrop]] whose
        * delete or restore failed mid-flight: any tombstone older than
        * the TTL belongs to no live operation (captures live for
        * milliseconds) and is garbage. Runs opportunistically on every
        * acquire conflict, so a leak self-heals on the next contention
        * instead of accreting in metadata/ forever.
        */
      private def sweepTombstones(dir: Path): Unit =
        try {
          import scala.jdk.CollectionConverters._
          val ls = Files.list(dir)
          try ls.iterator().asScala
            .filter(_.getFileName.toString.startsWith("commit.lock."))
            .filter(expiredAt)
            .foreach(tryDeleteTree)
          finally ls.close()
        } catch { case _: Exception => () }

      /** True when `p`'s mtime is older than the TTL horizon. */
      private def expiredAt(p: Path): Boolean =
        try Files.getLastModifiedTime(p).toMillis + ttlMs <
          System.currentTimeMillis()
        catch { case _: Exception => false } // vanished/unreadable: no

      /** Atomically capture the dir at `lock` into a unique tombstone
        * and re-validate with `keep`: validated → deleted (return
        * true); not ours/not expired → renamed back (best effort — if
        * the path was re-acquired in the gap the restore fails and the
        * tombstone is dropped; the displaced holder's own release
        * no-ops on its owner check). Exactly one racer's rename
        * succeeds; losers see NoSuchFile and just loop.
        */
      private def captureAndDrop(lock: Path, tag: String,
          keep: Path => Boolean): Boolean = {
        val tomb = lock.resolveSibling(s"commit.lock.$tag-" +
          java.util.UUID.randomUUID().toString.take(8))
        try {
          Files.move(lock, tomb)
          if (keep(tomb)) { tryDeleteTree(tomb); true }
          else {
            try { Files.move(tomb, lock); false }
            catch { case _: Exception => tryDeleteTree(tomb); false }
          }
        } catch { case _: Exception =>
          // lost the capture race — or the move succeeded and a later
          // step threw: never leave the tombstone behind (it would
          // otherwise sit in metadata/ until the TTL sweep)
          tryDeleteTree(tomb)
          false
        }
      }

      def withExclusive[A](location: String)(body: => A): A = {
        val lock = metadataDir(location).resolve("commit.lock")
        val owner = java.util.UUID.randomUUID().toString
        val deadline = System.nanoTime() + acquireMs * 1000000L
        var acquired = false
        var swept = false
        while (!acquired) {
          try {
            Files.createDirectories(lock.getParent)
            Files.createDirectory(lock) // the atomic acquire
            // anything failing AFTER the create must give the lock
            // back, or every waiting writer is wedged into conflict
            // retries until TTL reclaim (up to acquireMs each) over a
            // transient IO error that wasn't even theirs
            try Files.write(lock.resolve("owner"),
              owner.getBytes(StandardCharsets.UTF_8))
            catch { case e: Throwable => tryDeleteTree(lock); throw e }
            acquired = true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              // reclaim a crashed holder's lock: capture by rename,
              // then RE-CHECK expiry on the captured dir — a holder
              // that refreshed between our read and the rename gets
              // restored, not deleted. (A live holder's heartbeat
              // keeps refreshing mtime, so it never reads expired.)
              if (expiredAt(lock))
                captureAndDrop(lock, "reclaim", t => expiredAt(t))
              // sweep ONCE per contended acquire, not per backoff
              // iteration — metadata/ also holds every version file
              // and manifest, and a 30 s acquire loop would otherwise
              // re-list it thousands of times
              if (!swept) { sweepTombstones(lock.getParent); swept = true }
              // every waiting path honors the acquire budget (a
              // reclaim whose deletes persistently fail must surface,
              // not busy-spin) and backs off
              if (System.nanoTime() > deadline)
                throw new CommitConflictException(
                  s"commit lock at $lock not acquired within " +
                    s"$acquireMs ms — reload and retry")
              Thread.sleep(5 + scala.util.Random.nextLong(20))
          }
        }
        // Heartbeat: refresh the held lock's mtime at ttl/4 so an
        // ACTIVE holder never crosses the reclaim horizon — without
        // this, any commit slower than ttlMs was reclaimed mid-commit
        // and two writers could publish concurrently on a store whose
        // exclusive create can't backstop. The beat is OWNER-CHECKED:
        // it refreshes only while the lock still carries OUR stamp —
        // a displaced holder's beat must not keep a successor's
        // (possibly crashed) lock perpetually unexpired, which would
        // defeat the TTL crash detection for every waiting writer.
        // Foreign stamp → the beat stops for good; an unreadable stamp
        // (mid-capture rename) skips this beat and re-checks next one.
        // Daemon thread.
        val beat =
          if (!heartbeat) None
          else Some(new Thread(() => {
            try {
              var mine = true
              while (mine) {
                Thread.sleep(math.max(ttlMs / 4, 1L))
                try {
                  def stamped: Boolean =
                    new String(Files.readAllBytes(lock.resolve("owner")),
                      StandardCharsets.UTF_8) == owner
                  if (stamped) {
                    val prior = Files.getLastModifiedTime(lock)
                    Files.setLastModifiedTime(lock,
                      java.nio.file.attribute.FileTime.fromMillis(
                        System.currentTimeMillis()))
                    // Read-then-touch race: if the lock was reclaimed
                    // AND re-acquired between the stamp read and the
                    // touch, the touch just refreshed the SUCCESSOR's
                    // dir — extending a possibly-crashed successor's
                    // TTL horizon by up to one window. Re-read after
                    // the touch; on mismatch restore the pre-touch
                    // mtime (at worst it backdates the successor by
                    // ≤ one beat period — conservative: it can only
                    // SHORTEN a crashed successor's reclaim horizon,
                    // never extend it) and stop beating for good.
                    if (!stamped) {
                      try Files.setLastModifiedTime(lock, prior)
                      catch { case _: Exception => () }
                      mine = false
                    }
                  } else mine = false // displaced: never beat again
                } catch { case _: Exception => () } // mid-capture: next beat
                // (an interrupt during file IO surfaces as a closed-
                // channel Exception with the interrupt flag preserved,
                // so the next sleep() still exits the thread promptly)
              }
            } catch { case _: InterruptedException => () }
          }, s"graft-dirlock-heartbeat-$owner"))
        beat.foreach { t => t.setDaemon(true); t.start() }
        held.set(held.get + (location -> owner))
        try body
        finally {
          held.set(held.get - location)
          beat.foreach(_.interrupt())
          // owner-checked release through the same capture: if the
          // dir at the path is no longer OURS (we were reclaimed and
          // it was re-acquired), it is renamed back untouched
          captureAndDrop(lock, "release", t =>
            try new String(Files.readAllBytes(t.resolve("owner")),
              StandardCharsets.UTF_8) == owner
            catch { case _: Exception => false })
        }
      }

      /** Last-instant fencing check (see [[CommitGuard.validatePublish]]):
        * the publish may proceed only if the lock directory still
        * carries THIS thread's owner stamp — a holder that was paused
        * past its TTL, reclaimed, and displaced finds another owner's
        * stamp (or none) and aborts with the standard retryable
        * conflict instead of publishing over the new holder's commit.
        */
      override def validatePublish(location: String): Unit = {
        val owner = held.get.getOrElse(location,
          throw new CommitConflictException(
            s"publish without a held commit lock for $location — " +
              "reload and retry"))
        val stamped =
          try new String(Files.readAllBytes(
            metadataDir(location).resolve("commit.lock").resolve("owner")),
            StandardCharsets.UTF_8)
          catch { case _: Exception => "" }
        if (stamped != owner)
          throw new CommitConflictException(
            s"commit lock for $location was reclaimed while held " +
              "(paused past TTL?) — abandoning publish; reload and retry")
      }
    }
  }

  @volatile private var commitGuard: CommitGuard = CommitGuard.PosixCas

  /** Install a deployment's commit coordination (process-wide). */
  def setCommitGuard(g: CommitGuard): Unit = { commitGuard = g }

  /** Commit metadata as the next version — optimistic CAS on the version
    * the metadata was loaded from: a writer holding stale metadata fails
    * instead of silently dropping the interleaved commit, and two writers
    * racing the same base lose on the (atomic) rename. Retry = reload,
    * reapply, commit. The check-and-publish window runs under the
    * installed [[CommitGuard]] (default: no lock — see its scaladoc).
    */
  def commit(meta: TableMetadata): Int =
    commitGuard.withExclusive(meta.location) {
      val cur = currentVersion(meta.location).getOrElse(0)
      if (cur != meta.baseVersion)
        throw new CommitConflictException(
          s"stale metadata: loaded v${meta.baseVersion} but table is at " +
            s"v$cur (${meta.location}) — reload and retry")
      val next = meta.baseVersion + 1
      val versionFile = metadataDir(meta.location).resolve(s"v$next.json")
      val withLog = meta.copy(metadataLog = meta.metadataLog :+ s"v$next.json")
      // fencing: a guard whose exclusivity can lapse (lease/TTL lock
      // with a paused holder) gets one last chance to abort the doomed
      // publish; no-op under PosixCas
      commitGuard.validatePublish(meta.location)
      // exclusive create: same-base racers lose here instead of
      // clobbering (belt under PosixCas, braces under a lock guard)
      atomicWriteExclusive(versionFile, Serialization.writePretty(withLog))
      atomicWrite(metadataDir(meta.location).resolve("version-hint.txt"),
        next.toString)
      next
    }

  def writeManifest(location: String, name: String, m: Manifest): String = {
    val rel = s"metadata/$name"
    atomicWrite(Paths.get(location, rel), Serialization.writePretty(m))
    rel
  }

  def readManifest(location: String, rel: String): Manifest =
    Serialization.read[Manifest](new String(
      Files.readAllBytes(Paths.get(location, rel)), StandardCharsets.UTF_8))

  /** Fold a manifest chain into its net live file sets. */
  def foldManifests(location: String, rels: Seq[String])
      : (List[DataFileEntry], List[DeleteFileEntry]) = {
    val ms = rels.map(readManifest(location, _))
    val removedData = ms.flatMap(_.removedDataPaths).toSet
    val removedDel = ms.flatMap(_.removedDeletePaths).toSet
    val data = ms.flatMap(_.addedData).filterNot(f => removedData(f.path))
    val dels = ms.flatMap(_.addedDeletes).filterNot(f => removedDel(f.path))
    (data.toList, dels.toList)
  }

  /** Resolve a snapshot's live file sets by folding its manifest chain. */
  def liveFiles(meta: TableMetadata, s: Snapshot)
      : (List[DataFileEntry], List[DeleteFileEntry]) =
    foldManifests(meta.location, s.manifests)
}
