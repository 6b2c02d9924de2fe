package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r6 failure mode must stay dead: a query that throws has to be
  * LOUD in every artifact. Verify must leave a red sentinel in the
  * query's output slot (not an absent directory the driver's compare
  * silently skips), and a misspelt row name must fail instead of
  * quietly running fewer rows.
  */
class HarnessSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  test("a throwing query leaves a red _error sentinel, not a hole") {
    val out = java.nio.file.Files.createTempDirectory("harness-").toString
    val boom: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
      (_, _) => throw new IllegalStateException("deliberate test failure")
    val err = Verify.runOne(s, "broken_query", boom, sf, out)
    assert(err.exists(_.contains("deliberate test failure")))
    val dumped = s.read.parquet(s"$out/broken_query")
    assert(dumped.columns.toSeq == Seq("_error"))
    assert(dumped.head().getString(0).contains("deliberate test failure"))
  }

  test("a healthy query dumps its result and reports no error") {
    val out = java.nio.file.Files.createTempDirectory("harness-").toString
    val ok: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
      (sp, _) => sp.range(3).select(col("id"))
    assert(Verify.runOne(s, "ok_query", ok, sf, out).isEmpty)
    assert(s.read.parquet(s"$out/ok_query").count() == 3)
  }

  test("floor ledger round-trips under a comma-decimal default locale") {
    // The ledger is the cross-round grading substrate: a default locale
    // like de_DE once made `f"%.3f"` emit `0,123` — invalid JSON that
    // silently reset every accumulated floor on the next parse. The
    // serializer must be locale-invariant and the round trip lossless
    // (to 1e-3, the serialized precision).
    val prevLocale = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val existing = Map(
        "/d/sf0.1" -> Map("q_a" -> 1.234, "q_b" -> 0.5))
      val text = Bench.mergeFloorLedger(existing, "/d/sf0.1",
        Map("q_a" -> 0.9, "q_c" -> 12.345))
      assert(!text.contains("0,9"), s"comma decimal leaked: $text")
      val back = Bench.parseFloorLedger(text)
      val merged = back("/d/sf0.1")
      assert(merged("q_a") == 0.9)   // lowered floor wins
      assert(merged("q_b") == 0.5)   // untimed query keeps its floor
      assert(merged("q_c") == 12.345)
      // second round trip is a fixed point
      assert(Bench.parseFloorLedger(
        Bench.mergeFloorLedger(back, "/d/sf0.1", Map.empty)) == back)
      // keys are ESCAPED: a backslash/quote in SPARK_GRAFT_SF_DIR (a
      // Windows path) must round-trip, not corrupt the ledger
      val nasty = "C:\\testdata\\sf\"0.1\""
      val t2 = Bench.mergeFloorLedger(Map.empty, nasty, Map("q" -> 1.0))
      val b2 = Bench.parseFloorLedger(t2)
      assert(b2.contains(nasty), s"escaped key lost: $t2")
      assert(b2(nasty)("q") == 1.0)
    } finally java.util.Locale.setDefault(prevLocale)
  }

  test("a garbled floor ledger parses to empty instead of throwing") {
    // the comma-decimal corruption shape specifically
    assert(Bench.parseFloorLedger("""{"sf":{"q":0,5}}""").isEmpty)
    assert(Bench.parseFloorLedger("").isEmpty)
    assert(Bench.parseFloorLedger("not json at all").isEmpty)
  }

  test("row selection: empty means every row, an unknown name fails") {
    assert(SparkEntry.select(Nil).map(_.name) == SparkEntry.entries.map(_.name))
    assert(SparkEntry.select(Seq("stream_funnel", "q_set_ops", "q_set_ops"))
      .map(_.name) == Seq("q_set_ops", "stream_funnel"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q_set_ops", "q_set_opz", "lake_nope")))
    assert(e.getMessage.contains("unknown query name(s): lake_nope, q_set_opz"),
      e.getMessage)
  }
}
