package graft.queries

import java.nio.file.{Files, Path, Paths}
import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The registry state's ownership contract: a reset deletes the
  * scenario directories it drops and keeps every input, a reset by row
  * name drops only the scenarios that row builds (so a report row keeps
  * reading its ingest row's scenario), and `close` leaves nothing of
  * the registry on disk.
  */
class RegistryStateSpec extends AnyFunSuite {
  import TestSpark._

  private def filled(dir: Path): String = {
    Files.write(dir.resolve("part"), Array[Byte](1, 2, 3))
    dir.toString
  }
  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  test("reset deletes the scenario directories and keeps the inputs") {
    val sc = RegistryState.scenario("spec_ingest", "d")(filled)
    val other = RegistryState.scenario("spec_other", "d")(filled)
    val in = RegistryState.input("specInput", "d")(filled)
    assert(RegistryState.scenario("spec_ingest", "d")(filled) == sc)
    assert(RegistryState.inputNames.contains("specInput"))

    RegistryState.reset(Set("spec_report"))
    assert(exists(sc) && exists(other), "a row that builds nothing dropped one")
    RegistryState.reset(Set("spec_ingest"))
    assert(!exists(sc) && exists(other))
    val rebuilt = RegistryState.scenario("spec_ingest", "d")(filled)
    assert(rebuilt != sc && exists(rebuilt))

    RegistryState.reset()
    assert(!exists(rebuilt) && !exists(other))
    assert(exists(in), "a reset deleted an input")
    assert(RegistryState.input("specInput", "d")(filled) == in)
  }

  test("a build that throws leaves no directory and is retried") {
    var dir: Option[Path] = None
    intercept[IllegalStateException] {
      RegistryState.input("specFailing", "d") { p =>
        dir = Some(p)
        throw new IllegalStateException("boom")
      }
    }
    assert(dir.exists(p => !Files.exists(p)))
    assert(exists(RegistryState.input("specFailing", "d")(filled)))
  }

  test("a report row's reset keeps the ingest scenario it reads") {
    def run(name: String): Long =
      StreamQueries.entries.find(_.name == name).get.run(spark, sf).count()
    def streamsIngest(body: => Unit): Boolean = {
      StreamQueries.streamPhaseSecs.remove("stream_curate_ingest")
      body
      StreamQueries.streamPhaseSecs.containsKey("stream_curate_ingest")
    }
    val n = run("stream_curate_report")
    assert(n > 0)
    assert(!streamsIngest {
      RegistryState.reset(Set("stream_curate_report"))
      assert(run("stream_curate_report") == n)
    }, "a report-row reset rebuilt the ingest scenario")
    assert(streamsIngest {
      RegistryState.reset(Set("stream_curate_ingest"))
      assert(run("stream_curate_report") == n)
    }, "an ingest-row reset kept the ingest scenario")
  }

  test("close leaves nothing of the registry on disk") {
    val root = RegistryState.root
    // a lake scenario table, stream inputs and a stream scenario
    Seq("lake_mor_update", "stream_sessions", "stream_lake_ingest")
      .foreach(name => graft.SparkEntry.queries(name)(spark, sf).count())
    val entries = Files.list(root)
    try assert(entries.count() > 0) finally entries.close()
    RegistryState.close()
    assert(!Files.exists(root))
    assert(RegistryState.inputNames.isEmpty)
  }
}
