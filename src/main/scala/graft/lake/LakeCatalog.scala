package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.Serialization
import scala.util.Try

/** Catalog → schema → table namespace over a warehouse directory
  * (`iceberg_trino_sqldemo.sql:6-9`: CREATE SCHEMA / USE), plus views and
  * materialized views (`sql:53-61`) and external-table registration
  * (`sql:276-281`).
  *
  * Names are `schema.table`. Tables live at `<warehouse>/<schema>/<table>`
  * unless registered from an external location.
  */
object LakeCatalog {
  private[lake] case class CatalogState(
      schemas: Map[String, String],            // name -> location
      external: Map[String, String],           // table -> location
      views: Map[String, String],              // name -> sql
      mviews: Map[String, MvDef])
  private[lake] case class MvDef(sql: String, location: String,
      refreshSchedule: Option[String])
}

class LakeCatalog(val spark: SparkSession, val warehouse: String) {
  import LakeCatalog.{CatalogState, MvDef}
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  private def statePath = Paths.get(warehouse, "_catalog.json")

  private def state: CatalogState =
    if (Files.exists(statePath))
      Serialization.read[CatalogState](
        new String(Files.readAllBytes(statePath), StandardCharsets.UTF_8))
    else CatalogState(Map.empty, Map.empty, Map.empty, Map.empty)

  private def save(s: CatalogState): Unit = {
    Files.createDirectories(statePath.getParent)
    val tmp = statePath.resolveSibling("_catalog.json.tmp")
    Files.write(tmp, Serialization.writePretty(s).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, statePath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- schemas (`sql:6-9`) -------------------------------------------

  def createSchema(name: String, location: Option[String] = None): Unit = {
    val loc = location.getOrElse(s"$warehouse/$name")
    Files.createDirectories(Paths.get(loc))
    save(state.copy(schemas = state.schemas + (name -> loc)))
  }

  def showCreateSchema(name: String): String = {
    val loc = state.schemas.getOrElse(name,
      throw new IllegalArgumentException(s"no schema $name"))
    s"CREATE SCHEMA $name\nWITH (\n   location = '$loc'\n)"
  }

  def schemaLocation(name: String): String =
    state.schemas.getOrElse(name, s"$warehouse/$name")

  def listSchemas: Seq[String] = state.schemas.keys.toSeq.sorted

  /** DROP SCHEMA [IF EXISTS] (`sql:4`, commented but declared surface).
    * Refuses a non-empty schema — same contract as Trino without
    * CASCADE: dropping data must be explicit, table by table.
    */
  def dropSchema(name: String): Boolean = {
    val existed = state.schemas.contains(name)
    if (existed) {
      val tables = listTables.filter(_.startsWith(s"$name."))
      require(tables.isEmpty,
        s"schema $name is not empty (${tables.take(3).mkString(", ")}); " +
          "drop its tables first")
      save(state.copy(schemas = state.schemas - name))
    }
    existed
  }

  // ---- tables ---------------------------------------------------------

  def tableLocation(name: String): String =
    state.external.getOrElse(name, {
      val parts = name.split("\\.", 2)
      if (parts.length == 2) s"${schemaLocation(parts(0))}/${parts(1)}"
      else s"$warehouse/default/$name"
    })

  def createTable(name: String, df: DataFrame,
      partitioning: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      replace: Boolean = false): LakeTable =
    LakeTable.create(spark, tableLocation(name), Right(df), partitioning,
      properties, replace)

  def createTable(name: String, schema: StructType,
      partitioning: Seq[String],
      properties: Map[String, String]): LakeTable =
    LakeTable.create(spark, tableLocation(name), Left(schema), partitioning,
      properties)

  def table(name: String): LakeTable =
    LakeTable.forLocation(spark, tableLocation(name))

  def tableExists(name: String): Boolean =
    Meta.currentVersion(tableLocation(name)).isDefined

  /** DROP TABLE IF EXISTS (`sql:272`). */
  def dropTable(name: String): Boolean = {
    val loc = tableLocation(name)
    val p = Paths.get(loc)
    val existed = Files.exists(p) && Meta.currentVersion(loc).isDefined
    if (existed) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
    }
    save(state.copy(external = state.external - name))
    existed
  }

  /** CALL register_table(schema, table, location) (`sql:276-281`):
    * attach an existing lake directory under a new name.
    */
  def registerTable(name: String, location: String): LakeTable = {
    require(Meta.currentVersion(location).isDefined,
      s"no lake table metadata at $location")
    save(state.copy(external = state.external + (name -> location)))
    table(name)
  }

  /** SHOW CREATE TABLE (`sql:42`). */
  def showCreateTable(name: String): String = {
    val t = table(name)
    val m = t.meta
    val cols = m.currentSchema.struct.fields.map { f =>
      val d = SchemaEvolution.defaultValue(f)
        .map(_ => s" DEFAULT '${f.metadata.getString(SchemaEvolution.DefaultKey)}'")
        .getOrElse("")
      s"   ${f.name} ${f.dataType.sql.toLowerCase}$d"
    }.mkString(",\n")
    val partitioning = m.defaultSpec.fields.map(pf => pf.transform match {
      case "identity" => s"'${pf.source}'"
      case Transforms_bucket(n) => s"'bucket(${pf.source}, $n)'"
      case tf => s"'$tf(${pf.source})'"
    })
    val props = Seq(
      s"   format = 'PARQUET'",
      s"   format_version = ${m.formatVersion}") ++
      (if (partitioning.nonEmpty)
        Seq(s"   partitioning = ARRAY[${partitioning.mkString(", ")}]")
      else Nil) ++
      m.properties.get("merge_mode").map(mm => s"   merge_mode = '$mm'")
    s"CREATE TABLE $name (\n$cols\n)\nWITH (\n${props.mkString(",\n")}\n)"
  }

  private object Transforms_bucket {
    private val B = """bucket\[(\d+)\]""".r
    def unapply(s: String): Option[Int] = s match {
      case B(n) => Some(n.toInt)
      case _ => None
    }
  }

  // ---- views (`sql:53-55, 85-96`) ------------------------------------

  /** CREATE OR REPLACE VIEW: stored SQL text, re-planned at every read.
    * The SQL may reference catalog tables by bare table name, metadata
    * tables as `<table>_snapshots` etc. and other views — [[plan]]
    * binds them at every read.
    */
  def createView(name: String, sql: String): Unit =
    save(state.copy(views = state.views + (name -> sql)))

  def readView(name: String): DataFrame = readView(name, Set.empty)

  /** [[plan]] binds no view in `reading` (the views being planned
    * around this read) again: a body may name its own view. */
  private def readView(name: String, reading: Set[String]): DataFrame = {
    val s = state
    val sql = s.views.get(name)
      .orElse(s.mviews.get(name).map(_.sql))
      .getOrElse(throw new IllegalArgumentException(s"no view $name"))
    // Materialized view with a valid materialization → serve the stored
    // table (`sql:60` REFRESH) — else plan the SQL.
    s.mviews.get(name) match {
      case Some(mv) if Meta.currentVersion(mv.location).isDefined =>
        LakeTable.forLocation(spark, mv.location).read()
      case _ => plan(sql, reading = reading + name)
    }
  }

  /** CREATE MATERIALIZED VIEW WITH refresh_schedule (`sql:57-61`); the
    * cron string is stored as a property (no in-engine scheduler).
    */
  def createMaterializedView(name: String, sql: String,
      refreshSchedule: Option[String] = None): Unit = {
    val loc = s"$warehouse/_mv/$name"
    save(state.copy(mviews = state.mviews +
      (name -> MvDef(sql, loc, refreshSchedule))))
    refreshMaterializedView(name) // initial materialization
  }

  /** REFRESH MATERIALIZED VIEW (`sql:60`). */
  def refreshMaterializedView(name: String): Unit = {
    val mv = state.mviews.getOrElse(name,
      throw new IllegalArgumentException(s"no materialized view $name"))
    LakeTable.create(spark, mv.location,
      Right(plan(mv.sql, reading = Set(name))), replace = true)
  }

  /** Public SQL entry point: plan an arbitrary SELECT over the
    * catalog's tables, their `<table>_snapshots`-style metadata tables
    * and its stored views, by bare name — the reference script's
    * `SELECT` statements run verbatim modulo catalog prefixes. Each
    * table binds as its current-snapshot read (so time travel, branches
    * and MoR deletes are all visible exactly as `table(n).read()` shows
    * them); a table name held in several schemas fails, naming them.
    */
  def sql(query: String): DataFrame = plan(query)

  /** The one SELECT binder, behind [[sql]], [[readView]] and
    * `GraftSql`'s SELECTs: every catalog table, `<table>_<kind>`
    * metadata table and stored view the text names — plus the caller's
    * `extra` bindings, which win a name clash — becomes a temp view
    * scoped to this call, then Spark SQL plans the text.
    *
    * Mentions are whole `[A-Za-z0-9_]+` tokens, not substrings: a view
    * over `orders` must not also bind (and read) `orders_2`, and
    * digit-leading names (`2024_sales`) stay whole. A bare table name
    * resolves as [[qualify]] says. A token may be a column or an alias,
    * so a binding that fails (several tables hold the name, or a view
    * body names a view this read is planning) is only reported if Spark
    * then finds no relation by that name.
    */
  private[lake] def plan(sql: String, schema: Option[String] = None,
      extra: Seq[(String, () => DataFrame)] = Nil,
      reading: Set[String] = Set.empty): DataFrame = {
    val s = state
    val all = tablesOf(s)
    val idents = "[A-Za-z0-9_]+".r.findAllIn(sql).toSeq.distinct.sorted
    // (token, metadata kind, candidate tables) for each token naming a
    // base table or a `<table>_<kind>` metadata table, whether or not
    // the base is named: `"t$snapshots"` is the one token `t_snapshots`
    val named = idents.flatMap { id =>
      val kinds = MetaTables.kinds.keys.toSeq.filter(k => id.endsWith(s"_$k"))
      ((id, None) +: kinds.map(k => (id.stripSuffix(s"_$k"), Some(k))))
        .map { case (short, kind) => (id, kind, candidates(short, schema, all)) }
    }.filter(_._3.nonEmpty)
    val bases = named.collect { case (id, None, Seq(_)) => id }
    // Meta-column reads are scoped to the table(s) that actually
    // reference a `$...` column — a statement-global flip would leak
    // $-columns into every other table's star expansion (schema drift
    // on t2.* while reading t1's lineage). A qualified `q.`$...``
    // attributes to table q directly or through a FROM/JOIN alias; an
    // unqualified `$...` attributes to the sole referenced base table
    // (with several tables it is ambiguous and fails resolution loudly).
    val metaQualifiers =
      "(\\w+)\\s*\\.\\s*`\\$".r.findAllMatchIn(sql).map(_.group(1)).toSet
    def wantsMeta(short: String): Boolean = sql.contains("`$") && (
      metaQualifiers.contains(short) ||
      metaQualifiers.exists(q => q != short &&
        (s"(?i)\\b$short\\s+(?:AS\\s+)?$q\\b").r.findFirstIn(sql).isDefined) ||
      (metaQualifiers.isEmpty && bases.size == 1))
    val tables = named.map { case (id, kind, cands) =>
      val n = cands.head
      id -> (() => kind match {
        case _ if cands.size > 1 => throw ambiguous(id, cands)
        case Some(k) => MetaTables(table(n), k)
        case None if wantsMeta(id) => table(n).readWithMetaColumns()
        case None => table(n).read()
      })
    }
    val views = (s.views.keySet ++ s.mviews.keySet -- reading)
      .filter(idents.contains).toSeq.sorted
      .map(v => v -> (() => readView(v, reading)))
    // Resolve every binding first: a view re-plans through this binder,
    // and its scoped views must come and go before ours exist.
    val (ok, failed) = (extra ++ tables ++ views).distinctBy(_._1)
      .map { case (n, f) => n -> Try(f()) }.partition(_._2.isSuccess)
    val frames = ok.map { case (n, df) => n -> df.get }
    // A session view under a bound name would be shadowed by — or
    // clobbered with — the catalog binding; fail loudly instead.
    frames.map(_._1).find(spark.catalog.tableExists(_)).foreach(n =>
      throw new IllegalStateException(
        s"session object `$n` shadows a catalog binding — drop or rename it"))
    // Resolution is eager in spark.sql, so dropping the views after
    // planning is safe for the returned (lazy) DataFrame.
    val created = scala.collection.mutable.Buffer[String]()
    try {
      frames.foreach { case (n, df) => df.createTempView(n); created += n }
      spark.sql(sql)
    } catch {
      case e: AnalysisException if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" =>
        val name = e.getMessageParameters.get("relationName").replace("`", "")
        throw failed.toMap.get(name).fold[Throwable](e)(_.failed.get)
    } finally created.foreach(spark.catalog.dropTempView(_))
  }

  /** A bare table name as every SELECT, time-travel read and row-level
    * change resolves it: one of [[candidates]] is the table; several
    * fail, naming each; none leaves `schema.name` for the caller.
    */
  private[lake] def qualify(name: String, schema: String): String =
    if (tableExists(s"$schema.$name")) s"$schema.$name"
    else candidates(name, None, listTables) match {
      case Seq() => s"$schema.$name"
      case Seq(one) => one
      case many => throw ambiguous(name, many)
    }

  /** The tables a bare name may mean: `schema.name` if that table
    * exists, else every table with that short name. */
  private def candidates(name: String, schema: Option[String],
      tables: Seq[String]): Seq[String] = {
    val held = tables.filter(_.split("\\.").last == name)
    schema.map(sc => s"$sc.$name").filter(held.contains).fold(held)(Seq(_))
  }

  private def ambiguous(name: String, tables: Seq[String]) =
    new IllegalArgumentException(
      s"table name '$name' is ambiguous: ${tables.mkString(", ")}")

  def listTables: Seq[String] = tablesOf(state)

  private def tablesOf(s: CatalogState): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val managed = s.schemas.toSeq.flatMap { case (schema, loc) =>
      val p = Paths.get(loc)
      if (!Files.isDirectory(p)) Nil
      else Files.list(p).iterator().asScala
        .filter(d => Meta.currentVersion(d.toString).isDefined)
        .map(d => s"$schema.${d.getFileName}").toSeq
    }
    (managed ++ s.external.keys).distinct.sorted
  }
}
