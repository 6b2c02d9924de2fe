package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The one owner of the query registry's state: every memo a registry
  * row keeps across calls, and every directory those memos fill. Both
  * kinds are keyed by (name, dataset dir) and built on first use into
  * a fresh directory under one per-process root:
  *  - a [[scenario]] is the product of a timed stream (an ingest row's
  *    table, index or view). [[reset]] drops it and deletes its
  *    directory, so the row's next call streams again;
  *  - an [[input]] is setup that a reset keeps: stream source dirs,
  *    seed indexes, truth tables, persisted models and the lake rows'
  *    scenario tables. Its names are the timed-region exemptions
  *    [[graft.Bench]] stamps into its artifact ([[inputNames]]).
  *
  * [[close]] deletes the root, so nothing the registry creates outlives
  * the run; a JVM shutdown hook calls it for a process that ends
  * without (a test JVM, a run that throws). A later call starts a fresh
  * root.
  */
object RegistryState {

  /** One memo entry. It is built on the first `value` call, under the
    * entry's own lock rather than the map's, so a build may use other
    * entries (a scenario reads its inputs) and the stream threads a
    * build waits on may too. A build that throws leaves no directory
    * behind, and the next call builds again.
    */
  private final class Slot(name: String) {
    @volatile var dir: Option[Path] = None
    private var built: Option[Any] = None

    def value(build: Path => Any): Any = synchronized {
      built.getOrElse {
        val p = Files.createTempDirectory(root, s"$name-")
        dir = Some(p)
        val v = try build(p)
          catch { case e: Throwable => dir = None; delete(p); throw e }
        built = Some(v)
        v
      }
    }
  }

  private type Memo = ConcurrentHashMap[(String, String), Slot]
  private val scenarios = new Memo
  private val inputs = new Memo
  private var rootDir: Option[Path] = None
  sys.addShutdownHook(close())

  /** The directory every entry's directory lives in, created on first
    * use.
    */
  private[queries] def root: Path = synchronized {
    rootDir.getOrElse {
      val p = Files.createTempDirectory("graft-registry-")
      rootDir = Some(p)
      p
    }
  }

  private def memo(m: Memo, name: String, d: String)(build: Path => Any)
      : Any =
    m.computeIfAbsent((name, d), _ => new Slot(name)).value(build)

  /** Row `row`'s scenario over dataset `d`, built once per [[reset]]:
    * `build` fills a fresh directory and returns the product location
    * the row reads.
    */
  def scenario(row: String, d: String)(build: Path => String): String =
    memo(scenarios, row, d)(build).asInstanceOf[String]

  /** Input `name` over dataset `d`, built once per [[close]]. */
  def input[T](name: String, d: String)(build: Path => T): T =
    memo(inputs, name, d)(build).asInstanceOf[T]

  /** The names of the inputs built so far, sorted. */
  def inputNames: Seq[String] =
    inputs.keySet.asScala.toSeq.map(_._1).distinct.sorted

  /** Drop every scenario and delete its directory. */
  def reset(): Unit = drop(scenarios, _ => true)

  /** Drop the scenarios built by the named rows. A row that only reads
    * another row's scenario (a report row) names none, so it keeps it.
    */
  def reset(rows: Set[String]): Unit = drop(scenarios, rows)

  /** Drop every scenario and input and delete the root. */
  def close(): Unit = {
    drop(scenarios, _ => true)
    drop(inputs, _ => true)
    synchronized { rootDir.foreach(delete); rootDir = None }
  }

  private def drop(m: Memo, names: String => Boolean): Unit =
    m.keySet.asScala.toSeq.filter(k => names(k._1)).foreach { k =>
      Option(m.remove(k)).flatMap(_.dir).foreach(delete)
    }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) graft.lake.Writer.deleteRecursively(p)
}
