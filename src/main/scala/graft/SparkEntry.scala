package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{CoreQueries, LakeQueries, PipelineQueries, Q, StreamQueries}

/** Driver contract: the registry of named queries and their DuckDB
  * oracles (see SURVEY.md §7).
  *
  * The registry is assembled from per-area modules, each one list of
  * [[graft.queries.Q]] entries:
  *  - [[graft.queries.CoreQueries]] — the reference script's SELECT
  *    surface (joins/aggs/filters/scalar fns, SURVEY §2.2-2.5, §2.10);
  *  - [[graft.queries.LakeQueries]] — the Iceberg-v3 lake lifecycle:
  *    DML, time travel, branches and tags, maintenance;
  *  - [[graft.queries.PipelineQueries]] — the training-data operators:
  *    dedup, text, sampling, similarity, packing, composed pipelines;
  *  - [[graft.queries.StreamQueries]] — the streaming ingest doors. A
  *    row is named `stream_*` exactly when it comes from this module;
  *    Bench relies on the prefix to time streaming rows first.
  *
  * A `Q` pairs each name with the frame it builds and the ANSI SQL that
  * DuckDB runs on the same parquet tables, so no row exists without an
  * oracle. Names are unique across the four modules (`RegistrySpec`).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * = the federation aggregate, `iceberg_trino_sqldemo.sql:286-295`.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.CoreQueries.federationAgg(spark, "/root/testdata/sf0.001")

  /** Every registry row, in module order. */
  def entries: Seq[Q] =
    CoreQueries.entries ++ LakeQueries.entries ++
      PipelineQueries.entries ++ StreamQueries.entries

  /** Each row's frame builder, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(q => q.name -> q.run).toMap

  /** Each row's DuckDB oracle, by name. */
  def oracleSql: Map[String, String] =
    entries.map(q => q.name -> q.oracle).toMap

  /** The rows named in `names`, in registry order; every row when
    * `names` is empty. A name outside the registry fails, naming each
    * unknown one: a silent intersection would let a misspelt run report
    * on fewer rows than asked (and leave stale output beside them).
    */
  def select(names: Seq[String]): Seq[Q] = {
    val wanted = names.toSet
    val unknown = wanted -- entries.map(_.name)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    if (wanted.isEmpty) entries else entries.filter(q => wanted(q.name))
  }
}
