package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEnv.overlap]] is the concurrency primitive under the
  * streaming doors' per-batch action overlap (guide §2.6) — its
  * contract must hold exactly: both sides run, both results return,
  * and a failure on EITHER side surfaces (a swallowed append failure
  * would silently drop a lake commit).
  */
class SparkEnvSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  test("overlap returns both results") {
    assert(SparkEnv.overlap(1 + 1, "b") == ((2, "b")))
  }

  test("overlap really runs both sides (effects visible after return)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    SparkEnv.overlap(hits.incrementAndGet(), hits.incrementAndGet())
    assert(hits.get() == 2)
  }

  test("a failure on the calling-thread side propagates") {
    val ex = intercept[IllegalStateException] {
      SparkEnv.overlap(throw new IllegalStateException("fa boom"), 42)
    }
    assert(ex.getMessage == "fa boom")
  }

  test("a failure on the pooled side propagates") {
    val ex = intercept[IllegalStateException] {
      SparkEnv.overlap(42, throw new IllegalStateException("fb boom"))
    }
    assert(ex.getMessage == "fb boom")
  }

  test("a calling-side failure waits for the pooled side and carries " +
      "its failure as suppressed") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      SparkEnv.overlap(throw new IllegalStateException("fa boom"), {
        Thread.sleep(300)
        done.set(true)
        throw new IllegalArgumentException("fb boom")
      })
    }
    // the pooled side finished before the failure surfaced (a caller
    // retrying a batch must not race a still-running append) ...
    assert(done.get(), "fa's failure propagated while fb was still running")
    assert(ex.getMessage == "fa boom")
    // ... and its own failure is not lost
    assert(ex.getSuppressed.map(_.getMessage).toSeq == Seq("fb boom"))
  }

  test("overlapped Spark actions agree with sequential ones") {
    val df = s.range(1000).toDF("id").localCheckpoint(true)
    val (a, b) = SparkEnv.overlap(df.count(), df.filter("id % 2 = 0").count())
    assert(a == 1000L && b == 500L)
  }
}
