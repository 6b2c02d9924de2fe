package graft

import graft.queries.{CoreQueries, LakeQueries, PipelineQueries, StreamQueries}
import org.scalatest.funsuite.AnyFunSuite

/** The registry's shape: every row is named once across the four query
  * modules, carries a DuckDB oracle, and is a streaming row exactly when
  * its name says so (Bench times `stream_*` rows before the batch
  * warm-up by that prefix alone).
  */
class RegistrySpec extends AnyFunSuite {
  private val modules = Seq(CoreQueries.entries, LakeQueries.entries,
    PipelineQueries.entries, StreamQueries.entries).map(_.map(_.name))

  test("the 233 row names are distinct across the four modules") {
    assert(modules.map(_.size).sum == 233)
    assert(modules.flatten.distinct.size == 233)
    assert(SparkEntry.queries.size == 233)
    assert(SparkEntry.oracleSql.size == 233)
  }

  test("every row has a non-blank oracle") {
    val blank = SparkEntry.entries.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"rows without an oracle: $blank")
    // A shared chain read before its object is initialized composes as
    // the word `null`; a chain spliced into a string without the `s`
    // interpolator leaves its `${` behind.
    val uninit = SparkEntry.entries.filter(q => "\\bnull\\b".r
      .findFirstIn(q.oracle).nonEmpty).map(_.name)
    assert(uninit.isEmpty, s"oracles with a null chain: $uninit")
    val raw = SparkEntry.entries.filter(_.oracle.contains("${")).map(_.name)
    assert(raw.isEmpty, s"oracles with an uninterpolated chain: $raw")
  }

  test("a row is named stream_* exactly when StreamQueries registers it") {
    val stream = StreamQueries.entries.map(_.name).toSet
    val misnamed = SparkEntry.entries.map(_.name)
      .filter(k => k.startsWith("stream_") != stream(k))
    assert(misnamed.isEmpty, s"stream prefix disagrees with module: $misnamed")
  }
}
