package graft

import graft.queries.{Q, RegistryState, StreamQueries}
import org.scalatest.funsuite.AnyFunSuite

/** The scenario memo's reset contract, which Bench's second stream pass
  * relies on: an ingest row runs its stream on the first call, reads
  * the memoized product without streaming on later calls, and after
  * `RegistryState.reset()` streams again into a fresh table with the same
  * answer. A row whose scenario escaped the reset would time a hot read
  * as its stream.
  */
class StreamRegistrySpec extends AnyFunSuite {
  import TestSpark._

  private val rows = Seq("stream_lake_ingest", "stream_quality_gate",
    "stream_vocab_growth")
  private def row(name: String): Q =
    StreamQueries.entries.find(_.name == name).get
  private def sortedRows(q: Q): Seq[String] =
    q.run(spark, sf).collect().map(_.toString).toSeq.sorted
  private def streamed(name: String): Boolean =
    StreamQueries.streamPhaseSecs.containsKey(name)

  rows.foreach { name =>
    test(s"$name streams once, then reads its memo until a reset") {
      val q = row(name)
      RegistryState.reset()
      StreamQueries.streamPhaseSecs.remove(name)
      val first = sortedRows(q)
      assert(streamed(name), "the first call ran no stream")
      assert(first.nonEmpty)

      StreamQueries.streamPhaseSecs.remove(name)
      assert(sortedRows(q) == first)
      assert(!streamed(name), "a call without a reset ran the stream again")

      RegistryState.reset()
      assert(sortedRows(q) == first)
      assert(streamed(name), "the call after a reset ran no stream")
    }
  }
}
