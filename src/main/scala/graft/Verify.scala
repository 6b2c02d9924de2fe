package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registry row's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Run one registry query and dump its result parquet; on failure
    * return the error message AND write a one-row `_error`-schema
    * sentinel in the query's place. Broken must be LOUD: r6's
    * stderr-only handling made 20 crashed queries vanish from
    * CORRECTNESS (no parquet → the driver's compare emitted no row at
    * all). The sentinel guarantees a visibly RED row (schema + hash
    * mismatch against any oracle) instead of a silently missing one.
    */
  def runOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, outDir: String): Option[String] =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      val msg = s"${e.getClass.getName}: ${e.getMessage}"
      try {
        import spark.implicits._
        Seq(msg).toDF("_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case _: Throwable => () }
      Some(msg)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Optional extra args: restrict to the named queries (an iteration
    // aid; the driver always passes exactly two args). A misspelt name
    // fails here, before any output is written.
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val spark = SparkEnv.session()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { row =>
      runOne(spark, row.name, row.run, sfDir, outDir)
        .foreach(msg => failures(row.name) = msg)
    }
    // full JSON string escape: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    import Bench.jstr
    val json = selected
      .map(row => s"${jstr(row.name)}: ${jstr(row.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: " +
          failures.keys.mkString(", "))
    spark.stop()
    graft.queries.RegistryState.close()
  }
}
