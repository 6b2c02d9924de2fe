package graft.lake

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Concurrent-writer semantics: the optimistic commit loop (reload →
  * re-apply → CAS) must converge to the SERIAL outcome — every commit
  * lands exactly once, row-lineage ids never collide, and conflicting
  * invariants still fail fast instead of being retried into silence.
  * local[32] stands in for N independent writers: the commit protocol
  * is pure filesystem CAS (hard-link exclusivity), so thread vs process
  * is irrelevant to what it exercises.
  */
class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  private def fresh(rows: Int = 10) = {
    val df = s.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_custkey") < rows)
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"))
    LakeTable.create(s,
      Files.createTempDirectory("conc-").resolve("t").toString, Right(df))
  }

  test("racing appends all land: serial row count, distinct snapshots") {
    import s.implicits._
    val t = fresh()
    val writers = 4
    val appendsEach = 3
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try {
            // each writer uses its own LakeTable handle (fresh loads)
            val mine = LakeTable.forLocation(s, t.location)
            (0 until appendsEach).foreach { i =>
              mine.append(Seq((1000L + w * 100 + i, s"w$w-$i"))
                .toDF("custkey", "name"))
            }
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers hung")
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    // serial outcome: base 10 rows + every append, one snapshot each
    assert(t.read().count() == 10 + writers * appendsEach)
    assert(t.meta.snapshots.size == 1 + writers * appendsEach)
    // linear history: each snapshot's parent is the previous snapshot
    val snaps = t.meta.snapshots.sortBy(_.snapshotId)
    snaps.sliding(2).foreach {
      case Seq(a, b) => assert(b.parentId.contains(a.snapshotId))
      case _ => ()
    }
    // row-lineage ids are unique across ALL rows despite the races
    val ids = t.readWithMetaColumns().select(col("$row_id")).collect()
      .map(_.getLong(0))
    assert(ids.length == ids.distinct.length,
      "colliding $row_id across concurrent appends")
  }

  test("racing appends inherit disjoint row-id ranges") {
    import s.implicits._
    val t = fresh()
    val writers = 4
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try {
            val mine = LakeTable.forLocation(s, t.location)
            (0 until 3).foreach { i =>
              mine.append((0 until 2).map(j => (5000L + w * 100 + i * 10 + j,
                s"w$w-$i-$j")).toDF("custkey", "name").coalesce(1))
            }
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers hung")
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    val m = t.meta
    val ranges = Meta.liveFiles(m, m.currentSnapshot.get)._1
      .map(f => (f.firstRowId.get, f.recordCount)).sorted
    // the ranges tile [0, nextRowId): disjoint, in commit order, no gap
    assert(ranges.map(_._1) == ranges.scanLeft(0L)(_ + _._2).init)
    assert(m.nextRowId == 10L + writers * 3 * 2)
    assert(t.readWithMetaColumns().select(col("$row_id")).collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until m.nextRowId))
  }

  test("optimize racing appends loses no rows and keeps lineage unique") {
    // The classic lakehouse race: compaction REPLACES files while
    // writers append new ones. The optimistic loop must converge to
    // the serial outcome — an optimize that loses to an append reloads
    // and re-selects files, never resurrecting replaced bytes or
    // dropping a concurrently appended row.
    import s.implicits._
    val t = fresh(10)
    (0 until 4).foreach { i =>
      t.append(Seq((2000L + i, s"pre$i")).toDF("custkey", "name"))
    }
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // 1 compactor × 3 rounds, 3 appenders × 3 appends
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          val mine = LakeTable.forLocation(s, t.location)
          (0 until 3).foreach(_ => mine.optimize())
        } catch { case e: Throwable => errs.add(e) }
      }
    })
    (0 until 3).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try {
            val mine = LakeTable.forLocation(s, t.location)
            (0 until 3).foreach { i =>
              mine.append(Seq((3000L + w * 100 + i, s"w$w-$i"))
                .toDF("custkey", "name"))
            }
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers hung")
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    val rows = t.read().select("custkey").collect().map(_.getLong(0)).toSet
    val expected = (0L until 10L).toSet ++ (0 until 4).map(2000L + _) ++
      (for (w <- 0 until 3; i <- 0 until 3) yield 3000L + w * 100 + i)
    assert(rows == expected,
      s"row set diverged: missing=${expected -- rows} extra=${rows -- expected}")
    val ids = t.readWithMetaColumns().select(col("$row_id")).collect()
      .map(_.getLong(0))
    assert(ids.length == ids.distinct.length,
      "colliding $row_id after optimize races")
  }

  test("append racing DML retries to serial semantics") {
    import s.implicits._
    val t = fresh(100)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          val mine = LakeTable.forLocation(s, t.location)
          mine.delete(col("custkey") < 50)
        } catch { case e: Throwable => errs.add(e) }
      }
    })
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          val mine = LakeTable.forLocation(s, t.location)
          (0 until 3).foreach { i =>
            mine.append(Seq((2000L + i, s"late-$i")).toDF("custkey", "name"))
          }
        } catch { case e: Throwable => errs.add(e) }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers hung")
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    // whatever the interleaving, the delete dropped exactly custkey<50
    // from the BASE rows (appends are >= 2000, untouched by re-run or
    // already-run delete alike) and all 3 appends landed
    assert(t.read(col("custkey") < 50).count() == 0)
    assert(t.read().count() == 50 + 3)
  }

  test("retry exhaustion surfaces the conflict instead of spinning") {
    import s.implicits._
    val t = fresh()
    // with retries DISABLED, simultaneous writers must produce at least
    // one 'gave up' failure (all load the same base; one CAS wins) —
    // this drives the real withCommitRetry exhaustion path, not a
    // hand-rolled Meta.commit
    t.setProperties(Map("commit_num_retries" -> "0"))
    val writers = 6
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(writers)
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val gaveUp = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try {
            LakeTable.forLocation(s, t.location)
              .append(Seq((3000L + w, s"x$w")).toDF("custkey", "name"))
            ok.incrementAndGet()
          } catch {
            case e: IllegalStateException => gaveUp.add(e.getMessage)
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers hung")
    // a fully serialized schedule (possible on a loaded box) produces
    // no conflict — nothing to assert then, but don't fail spuriously
    if (gaveUp.isEmpty) {
      assert(ok.get() == writers)
      cancel("writers serialized without a CAS conflict this run")
    }
    gaveUp.forEach(m => assert(
      m.contains("gave up after 0 commit-conflict retries"), m))
    // exactly the winners landed — losers left no partial commit
    assert(t.read(col("custkey") >= 3000L).count() == ok.get())
    // and the raw CAS still reports the typed conflict
    val stale = t.meta
    t.setProperties(Map("k" -> "v"))
    val e = intercept[IllegalStateException] { Meta.commit(stale) }
    assert(e.isInstanceOf[Meta.CommitConflictException])
    assert(e.getMessage.contains("stale metadata"))
  }

  test("invariant failures are NOT retried: fast-forward ancestry") {
    import s.implicits._
    val t = fresh()
    t.createBranch("dev")
    // diverge: both branches advance, so neither is the other's ancestor
    t.append(Seq((500L, "m")).toDF("custkey", "name"))
    t.append(Seq((600L, "d")).toDF("custkey", "name"), branch = "dev")
    val e = intercept[IllegalArgumentException] {
      t.fastForward("main", "dev")
    }
    assert(e.getMessage.contains("not a fast-forward"))
    // and the failed op committed nothing
    assert(t.meta.refs("main").snapshotId !=
      t.meta.refs("dev").snapshotId)
  }

  test("lost attempt's files are orphans and get collected") {
    import s.implicits._
    val t = fresh()
    t.append(Seq((700L, "winner")).toDF("custkey", "name"))
    // plant a losing attempt's on-disk residue: a data file and a
    // manifest that no snapshot references (exactly what a writer that
    // lost the CAS after writing leaves behind)
    val live = t.meta.currentSnapshot
      .map(snap => Meta.liveFiles(t.meta, snap)._1.head.path).get
    val loc = java.nio.file.Paths.get(t.location)
    val orphanData = loc.resolve("data/orphan-residue.parquet")
    Files.copy(loc.resolve(live), orphanData)
    Meta.writeManifest(t.location, "manifest-999-lost.json",
      Meta.Manifest(Nil, Nil, Nil, Nil))
    // a 1-hour cutoff protects the fresh residue (in-flight writers)…
    assert(t.removeOrphanFiles(olderThanMs = 3600 * 1000L).isEmpty)
    assert(Files.exists(orphanData))
    // …and a zero cutoff collects BOTH residue files, nothing live
    Thread.sleep(10)
    val removed = t.removeOrphanFiles(olderThanMs = 1L)
    assert(removed.exists(_.contains("orphan-residue.parquet")), removed)
    assert(removed.exists(_.contains("manifest-999-lost.json")), removed)
    assert(!Files.exists(orphanData))
    assert(t.read().count() == 11, "live data untouched")
  }

  test("DirLock commit guard: racing writers serialize to the same " +
      "outcome as the CAS default, and a crashed holder is reclaimed") {
    import s.implicits._
    // the lock-service seam for stores without atomic exclusive create:
    // same racing-appends workload as the CAS test, run under the
    // directory-lock guard — the serial outcome must be identical
    Meta.setCommitGuard(new Meta.CommitGuard.DirLock(ttlMs = 60000L))
    try {
      val t = fresh()
      val writers = 4
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(writers)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (0 until writers).foreach { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try {
              val mine = LakeTable.forLocation(s, t.location)
              (0 until 3).foreach { i =>
                mine.append(Seq((2000L + w * 100 + i, s"g$w-$i"))
                  .toDF("custkey", "name"))
              }
            } catch { case e: Throwable => errs.add(e) }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers hung")
      assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
      assert(t.read().count() == 10 + writers * 3)
      assert(t.meta.snapshots.size == 1 + writers * 3)
      // no lock residue after a clean run
      assert(!Files.exists(
        java.nio.file.Paths.get(t.location, "metadata", "commit.lock")))

      // crashed holder: plant a stale lock, backdate it past the TTL —
      // the next commit must reclaim it instead of wedging
      val t2 = fresh()
      Meta.setCommitGuard(new Meta.CommitGuard.DirLock(ttlMs = 500L))
      val lock = java.nio.file.Paths
        .get(t2.location, "metadata", "commit.lock")
      Files.createDirectory(lock)
      Files.write(lock.resolve("owner"), "dead-writer".getBytes("UTF-8"))
      Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000L))
      t2.append(Seq((3000L, "after-crash")).toDF("custkey", "name"))
      assert(t2.read().count() == 11)
      assert(!Files.exists(lock), "reclaimed lock must not linger")

      // an ACTIVE (fresh) foreign lock is respected: the acquire times
      // out into the standard conflict-retry path, not a wedge or a
      // stolen lock
      val t3 = fresh()
      Meta.setCommitGuard(
        new Meta.CommitGuard.DirLock(ttlMs = 60000L, acquireMs = 300L))
      val lock3 = java.nio.file.Paths
        .get(t3.location, "metadata", "commit.lock")
      Files.createDirectory(lock3)
      Files.write(lock3.resolve("owner"), "live-writer".getBytes("UTF-8"))
      val e = intercept[IllegalStateException] {
        t3.append(Seq((4000L, "blocked")).toDF("custkey", "name"))
      }
      assert(e.getMessage.contains("commit-conflict"),
        s"expected retry exhaustion through the conflict path: $e")
      assert(Files.exists(lock3), "a live foreign lock must survive")
    } finally Meta.setCommitGuard(Meta.CommitGuard.PosixCas)
  }

  test("DirLock heartbeat: a commit outliving the TTL is never reclaimed") {
    // Regression for the lease hole: without a heartbeat, any body
    // slower than ttlMs was reclaimed MID-COMMIT by a waiting writer —
    // on a store without atomic exclusive create, two writers would
    // publish concurrently. The heartbeat refreshes mtime at ttl/4, so
    // an alive holder never reads expired no matter how slow its body.
    // margins sized for a loaded CI box: the beat fires every ttl/4 =
    // 375 ms, so only a >1.5 s scheduler starvation of the daemon
    // thread could let the contender reclaim — not a 300 ms hiccup
    val guard = new Meta.CommitGuard.DirLock(ttlMs = 1500L, acquireMs = 1000L)
    val loc = Files.createTempDirectory("hb-").resolve("t").toString
    Files.createDirectories(Meta.metadataDir(loc))
    val contenderFailed =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    guard.withExclusive(loc) {
      // hold 2x the TTL — a contender arriving mid-hold must time out
      // through the conflict path, NOT reclaim the live lock
      val contender = new Thread(() => {
        try guard.withExclusive(loc)(())
        catch { case e: Throwable => contenderFailed.set(e) }
      })
      contender.start()
      Thread.sleep(3200L)
      contender.join(5000L)
      assert(contenderFailed.get() != null &&
        contenderFailed.get().isInstanceOf[Meta.CommitConflictException],
        s"contender should have timed out, got: ${contenderFailed.get()}")
      // the holder still validates — it was never displaced
      guard.validatePublish(loc)
    }
    // after release, the lock is free: a fresh acquire succeeds at once
    guard.withExclusive(loc)(())
  }

  test("heartbeat is owner-checked: a foreign stamp stops the beat") {
    // A displaced holder's heartbeat must NOT keep refreshing the path
    // — it would hold a successor's (possibly crashed) lock perpetually
    // unexpired and defeat TTL crash detection for every waiting
    // writer. Simulate displacement by re-stamping the held lock with
    // a foreign owner: the beat must stop touching it for good.
    val guard = new Meta.CommitGuard.DirLock(ttlMs = 800L, acquireMs = 500L)
    val loc = Files.createTempDirectory("hbstop-").resolve("t").toString
    Files.createDirectories(Meta.metadataDir(loc))
    guard.withExclusive(loc) {
      val lock = Meta.metadataDir(loc).resolve("commit.lock")
      Files.write(lock.resolve("owner"), "successor".getBytes("UTF-8"))
      // let any beat that already read OUR stamp land, and the next
      // one observe the foreign stamp and stop (beat period = 200 ms)
      Thread.sleep(500L)
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000L)
      Files.setLastModifiedTime(lock, old)
      Thread.sleep(700L) // >3 beat periods
      assert(Files.getLastModifiedTime(lock).toMillis == old.toMillis,
        "a displaced holder's heartbeat must not refresh a foreign lock")
    }
  }

  test("paused holder cannot publish: validatePublish rejects after " +
      "reclaim (fencing)") {
    // heartbeat=false simulates a paused process (a real pause stops
    // the heartbeat exactly like this): the holder crosses its TTL,
    // a second writer reclaims + re-acquires, and the paused holder's
    // publish must abort at validatePublish instead of clobbering.
    val guard = new Meta.CommitGuard.DirLock(ttlMs = 150L,
      acquireMs = 3000L, heartbeat = false)
    val loc = Files.createTempDirectory("fence-").resolve("t").toString
    Files.createDirectories(Meta.metadataDir(loc))
    intercept[Meta.CommitConflictException] {
      guard.withExclusive(loc) {
        Thread.sleep(500L) // paused past the TTL
        val usurper = new Thread(() => guard.withExclusive(loc) {
          guard.validatePublish(loc) // the NEW holder validates fine
        })
        usurper.start(); usurper.join(10000L)
        guard.validatePublish(loc) // we were reclaimed: must throw
      }
    }
    // validatePublish outside any hold is also a loud conflict
    intercept[Meta.CommitConflictException](guard.validatePublish(loc))
  }

  test("Meta.commit drives validatePublish before the physical publish") {
    import s.implicits._
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val probe = new Meta.CommitGuard {
      def withExclusive[A](location: String)(body: => A): A = body
      override def validatePublish(location: String): Unit =
        calls.incrementAndGet()
    }
    try {
      Meta.setCommitGuard(probe)
      val t = fresh()
      val before = calls.get()
      t.append(Seq((5000L, "fenced")).toDF("custkey", "name"))
      assert(calls.get() > before,
        "commit must re-validate the guard immediately before publish")
    } finally Meta.setCommitGuard(Meta.CommitGuard.PosixCas)
  }

  test("expired capture tombstones are swept on the next contention") {
    import s.implicits._
    val t = fresh()
    try {
      Meta.setCommitGuard(new Meta.CommitGuard.DirLock(ttlMs = 500L))
      val mdir = java.nio.file.Paths.get(t.location, "metadata")
      // a leaked tombstone (a captureAndDrop whose delete failed) plus
      // a crashed holder's stale lock to force the conflict path
      val tomb = mdir.resolve("commit.lock.reclaim-deadbeef")
      Files.createDirectory(tomb)
      Files.write(tomb.resolve("owner"), "leaked".getBytes("UTF-8"))
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000L)
      Files.setLastModifiedTime(tomb, old)
      val lock = mdir.resolve("commit.lock")
      Files.createDirectory(lock)
      Files.write(lock.resolve("owner"), "dead".getBytes("UTF-8"))
      Files.setLastModifiedTime(lock, old)
      t.append(Seq((6000L, "sweep")).toDF("custkey", "name"))
      assert(!Files.exists(tomb), "expired tombstone must be swept")
      assert(!Files.exists(lock), "stale lock must be reclaimed")
    } finally Meta.setCommitGuard(Meta.CommitGuard.PosixCas)
  }
}
