package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet test tables
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md). These stand in
  * for the reference's federated catalogs: `tpch.sf1.*`
  * (`iceberg_trino_sqldemo.sql:11,13`), `postgresql.demo.*` (`sql:36,291`),
  * `oracle.demo.nation` (`sql:37`), `snowflake_parallel.demo.region`
  * (`sql:38`). In production each would be `spark.read.format("jdbc")`;
  * offline they are parquet scans, which keeps the plans identical from
  * the join upward.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` stands in for the reference's TIMESTAMP(9) columns
    * (Iceberg v3, `sql:185-187`) but its PHYSICAL parquet type is the
    * driver's choice and has changed between fixture generations:
    * `timestamp[ns]` (arrives as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`, set in [[graft.SparkEnv]])
    * and `timestamp[us]` (arrives as TIMESTAMP_NTZ). Consumers must
    * never touch `ts` directly — go through the type-adaptive
    * [[graft.functions.TrinoFunctions.eventTime]].
    */
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
}

/** One registry row: its name, the Spark frame it builds from an sf
  * directory, and the ANSI SQL DuckDB runs on the same parquet tables to
  * check that frame. A row cannot be registered without its oracle.
  */
final case class Q(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String)
