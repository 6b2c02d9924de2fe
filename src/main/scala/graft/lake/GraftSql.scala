package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statement-level SQL entry point: routes the Trino-flavored DDL/DML
  * statement shapes of the reference script
  * (`iceberg_trino_sqldemo.sql:1-295`) to the lake APIs, and SELECTs to
  * Spark SQL planning over call-scoped table bindings. With this a user
  * can replay the reference script as SQL text — `CREATE SCHEMA`,
  * CTAS `WITH (partitioning/format_version/merge_mode)`, INSERT/UPDATE/
  * DELETE/MERGE (incl. `@ branch`), ALTER TABLE ADD/DROP COLUMN +
  * `SET PROPERTIES partitioning`, branch DDL, `ALTER TABLE ... EXECUTE`
  * maintenance, `CALL system.*` procedures, metadata tables
  * (`"t$snapshots"`), metadata columns (`"$row_id"`), time travel
  * (`FOR VERSION AS OF`), and `TABLE(system.table_changes(...))`.
  *
  * Deliberately a statement ROUTER, not a SQL parser: each statement
  * family is recognized by shape and delegated to the existing typed
  * API (`LakeTable`, `LakeCatalog`); SELECT bodies are handed to
  * Catalyst after dialect rewrites (Trino double-quoted identifiers →
  * backticks, `JSON '…'` → `parse_json`, 9-digit `TIMESTAMP` literals →
  * epoch-nanos longs matching the ns-as-long column convention).
  * Federated sources (`tpch.sf1.nation`, `postgresql.demo.orders`) are
  * stand-ins registered via [[registerSource]] — mirroring how the
  * reference demo points at remote connectors.
  */
class GraftSql(val cat: LakeCatalog) {
  private val spark: SparkSession = cat.spark
  private var currentSchema: String = "default"
  // dotted source name -> session temp view name (registered up front so
  // nested plans — views, materialized-view refreshes — resolve too)
  private val sources = scala.collection.mutable.LinkedHashMap[String, String]()

  /** Register a federated source table under its dotted connector name
    * (the stand-in for a remote catalog). Session-scoped by design: the
    * view must outlive single statements so stored views/mviews over
    * sources can be re-planned later.
    */
  def registerSource(name: String, df: DataFrame): Unit = {
    val view = "_src_" + name.replace('.', '_')
    df.createOrReplaceTempView(view)
    sources(name) = view
  }

  // ---- statement dispatch --------------------------------------------

  /** A statement plus a literal-masked shadow copy: every character
    * inside a single-quoted string is replaced by `_` (same length,
    * quotes kept, `''` escapes handled). Dispatch regexes run against
    * the MASKED text — so a literal containing `WHERE`, `VALUES`,
    * parens or `AND` can never split a statement in the wrong place —
    * while capture groups are extracted from the ORIGINAL by position,
    * preserving literal content for the statement handlers.
    */
  private case class Stmt(orig: String) {
    val masked: String = {
      val out = orig.toCharArray
      var i = 0
      var inStr = false
      while (i < out.length) {
        val c = out(i)
        if (!inStr) { if (c == '\'') inStr = true }
        else if (c == '\'') {
          if (i + 1 < out.length && out(i + 1) == '\'') {
            out(i) = '_'; out(i + 1) = '_'; i += 1
          } else inStr = false
        } else out(i) = '_'
        i += 1
      }
      new String(out)
    }
  }

  /** Anchored statement-shape matcher over [[Stmt]]: matches the masked
    * text, yields groups from the original.
    */
  private class Shape(p: String) {
    private val r = java.util.regex.Pattern.compile("(?is)" + p)
    def unapplySeq(s: Stmt): Option[Seq[String]] = {
      val m = r.matcher(s.masked)
      if (!m.matches()) None
      else Some((1 to m.groupCount()).map(i =>
        if (m.start(i) < 0) null else s.orig.substring(m.start(i), m.end(i))))
    }
  }

  private object Rx {
    def re(p: String) = new Shape(p)
    val setSession = re("""SET\s+SESSION\b.*""")
    val createSchema =
      re("""CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w."]+)(?:\s+WITH\s*\((.*)\))?""")
    val showCreateSchema = re("""SHOW\s+CREATE\s+SCHEMA\s+([\w."]+)""")
    val dropSchema =
      re("""DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([\w."]+)""")
    val showSchemas = re("""SHOW\s+SCHEMAS""")
    val showTables = re("""SHOW\s+TABLES(?:\s+FROM\s+([\w."]+))?""")
    val use = re("""USE\s+([\w."]+)""")
    val ctas =
      re("""CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+([\w.]+)\s*(?:WITH\s*\((.*?)\)\s*)?AS\s+(SELECT.*)""")
    val dropTable = re("""DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)""")
    val showCreateTable = re("""SHOW\s+CREATE\s+TABLE\s+([\w.]+)""")
    val analyze = re("""ANALYZE\s+([\w.]+)""")
    val showStats = re("""SHOW\s+STATS\s+FOR\s+([\w.]+)""")
    val createMView =
      re("""CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+(\w+)\s*(?:WITH\s*\((.*?)\)\s*)?AS\s+(.*)""")
    val refreshMView = re("""REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)""")
    val createView =
      re("""CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*)""")
    val insert =
      re("""INSERT\s+INTO\s+([\w.]+)\s*(?:@\s*(\w+)\s*)?(?:\(([^)]*)\)\s*)?((?:VALUES|SELECT).*)""")
    val update =
      re("""UPDATE\s+([\w.]+)\s*(?:@\s*(\w+)\s*)?\s+SET\s+(.*?)\s+WHERE\s+(.*)""")
    val delete =
      re("""DELETE\s+FROM\s+([\w.]+)\s*(?:@\s*(\w+)\s*)?(?:\s+WHERE\s+(.*))?""")
    val addColumn =
      re("""ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)\s+([\w]+(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)(?:\s+DEFAULT\s+(.*))?""")
    val dropColumn = re("""ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+(\w+)""")
    val renameColumn =
      re("""ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)""")
    val setPartitioning =
      re("""ALTER\s+TABLE\s+([\w.]+)\s+SET\s+PROPERTIES\s+partitioning\s*=\s*ARRAY\s*\[(.*)\]""")
    val createBranch =
      re("""CREATE\s+BRANCH\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+IN\s+TABLE\s+([\w.]+)""")
    val dropBranch =
      re("""DROP\s+BRANCH\s+(IF\s+EXISTS\s+)?(\w+)\s+IN\s+TABLE\s+([\w.]+)""")
    val showBranches = re("""SHOW\s+BRANCHES\s+FROM\s+TABLE\s+([\w.]+)""")
    val fastForward =
      re("""ALTER\s+BRANCH\s+(\w+)\s+IN\s+TABLE\s+([\w.]+)\s+FAST\s+FORWARD\s+TO\s+(\w+)""")
    val execMaint =
      re("""ALTER\s+TABLE\s+([\w.]+)\s+EXECUTE\s+(expire_snapshots|remove_orphan_files)\s*\(\s*retention_threshold\s*=>\s*'(\w+)'\s*\)""")
    val execOptimizeSize =
      re("""ALTER\s+TABLE\s+([\w.]+)\s+EXECUTE\s+optimize\s*\(\s*file_size_threshold\s*=>\s*'(\w+)'\s*\)""")
    val execOptimizeWhere =
      re("""ALTER\s+TABLE\s+([\w.]+)\s+EXECUTE\s+optimize\s+WHERE\s+"\$file_modified_time"\s*(>=?)\s*(.*)""")
    val callRollback =
      re("""CALL\s+system\.rollback_to_snapshot\s*\(\s*'(\w+)'\s*,\s*'(\w+)'\s*,\s*(\d+)\s*\)""")
    val callRegister =
      re("""CALL\s+system\.register_table\s*\((.*)\)""")
    val merge =
      re("""MERGE\s+INTO\s+([\w.]+)(?:\s+AS\s+(\w+))?\s+USING\s+([\w.]+)(?:\s+AS\s+(\w+))?\s+ON\s+(.*?)\s+(WHEN\s+.*)""")
    val select = re("""(?:SELECT|WITH)\b.*""")
  }

  /** Execute one statement; returns the result rows for queries/SHOW
    * statements and an empty frame for DDL/DML.
    */
  def execute(statement: String): DataFrame = {
    val stmt = stripComments(statement).trim.stripSuffix(";").trim
    if (stmt.isEmpty) return spark.emptyDataFrame
    Stmt(stmt) match {
      case Rx.setSession() => spark.emptyDataFrame
      case Rx.createSchema(name, props) =>
        val location = Option(props).flatMap(p =>
          "(?i)location\\s*=\\s*'([^']*)'".r.findFirstMatchIn(p)
            .map(_.group(1)))
          // s3://-style demo locations have no local analog — warehouse-
          // relative layout applies unless the location is a real path
          .filter(loc => !loc.contains("://"))
        cat.createSchema(lastSegment(name), location)
        spark.emptyDataFrame
      case Rx.showCreateSchema(name) =>
        oneString("Create Schema", cat.showCreateSchema(lastSegment(name)))
      case Rx.use(name) =>
        currentSchema = lastSegment(name); spark.emptyDataFrame
      case Rx.dropSchema(ifExists, name) =>
        val existed = cat.dropSchema(lastSegment(name))
        require(existed || ifExists != null, s"no schema $name")
        spark.emptyDataFrame
      case Rx.showSchemas() =>
        oneStringCol("Schema", cat.listSchemas)
      case Rx.showTables(from) =>
        val sc = Option(from).map(lastSegment).getOrElse(currentSchema)
        oneStringCol("Table", cat.listTables
          .filter(_.startsWith(s"$sc.")).map(_.split("\\.").last))
      case Rx.ctas(orReplace, name, props, sel) =>
        val (partitioning, properties) = parseTableProps(Option(props))
        cat.createTable(resolve(name, create = true), select(sel),
          partitioning, properties, replace = orReplace != null)
        spark.emptyDataFrame
      case Rx.dropTable(ifExists, name) =>
        val existed = cat.dropTable(resolve(name, create = true))
        require(existed || ifExists != null, s"no table $name")
        spark.emptyDataFrame
      case Rx.showCreateTable(name) =>
        oneString("Create Table", cat.showCreateTable(resolve(name)))
      case Rx.analyze(name) =>
        table(name).analyze(); table(name).showStats()
      case Rx.showStats(name) => table(name).showStats()
      case Rx.createMView(name, props, sel) =>
        val schedule = Option(props).flatMap(p =>
          "(?i)refresh_schedule\\s*=\\s*'([^']*)'".r.findFirstMatchIn(p)
            .map(_.group(1)))
        cat.createMaterializedView(name, rewrite(sel), schedule)
        spark.emptyDataFrame
      case Rx.refreshMView(name) =>
        cat.refreshMaterializedView(name); spark.emptyDataFrame
      case Rx.createView(name, sel) =>
        // stored REWRITTEN: the catalog's own planner (and this router)
        // can then re-plan it without Trino-dialect knowledge
        cat.createView(name, rewrite(sel)); spark.emptyDataFrame
      case Rx.insert(name, branch, cols, body) =>
        val df = insertSource(Option(cols), body)
        table(name).append(df, branchOf(branch))
        spark.emptyDataFrame
      case Rx.update(name, branch, sets, where) =>
        val assignments = splitTopLevel(sets, ',').map { a =>
          val Array(c, e) = a.split("=", 2)
          c.trim -> expr(rewrite(e.trim))
        }.toMap
        table(name).update(expr(rewrite(where)), assignments, branchOf(branch))
        spark.emptyDataFrame
      case Rx.delete(name, branch, where) =>
        val cond = Option(where).map(w => expr(rewrite(w))).getOrElse(lit(true))
        table(name).delete(cond, branchOf(branch))
        spark.emptyDataFrame
      case Rx.addColumn(name, colName, tpe, default) =>
        table(name).addColumn(colName, sqlType(tpe),
          Option(default).map(stripQuotes))
        spark.emptyDataFrame
      case Rx.dropColumn(name, colName) =>
        table(name).dropColumn(colName); spark.emptyDataFrame
      case Rx.renameColumn(name, from, to) =>
        table(name).renameColumn(from, to); spark.emptyDataFrame
      case Rx.setPartitioning(name, fields) =>
        table(name).setPartitioning(
          splitTopLevel(fields, ',').map(stripQuotes))
        spark.emptyDataFrame
      case Rx.createBranch(ifNot, branch, name) =>
        val t = table(name)
        if (!t.meta.refs.contains(branch)) t.createBranch(branch)
        else require(ifNot != null, s"branch $branch exists")
        spark.emptyDataFrame
      case Rx.dropBranch(ifExists, branch, name) =>
        val t = table(name)
        if (t.meta.refs.contains(branch)) t.dropBranch(branch)
        else require(ifExists != null, s"no branch $branch")
        spark.emptyDataFrame
      case Rx.showBranches(name) =>
        table(name).metaTable("refs").filter(col("type") === "BRANCH")
      case Rx.fastForward(target, name, source) =>
        table(name).fastForward(target, source); spark.emptyDataFrame
      case Rx.execMaint(name, proc, threshold) =>
        val ms = parseDuration(threshold)
        if (proc.equalsIgnoreCase("expire_snapshots"))
          table(name).expireSnapshots(ms)
        else table(name).removeOrphanFiles(ms)
        spark.emptyDataFrame
      case Rx.execOptimizeSize(name, size) =>
        table(name).optimize(fileSizeThresholdBytes = parseSize(size))
        spark.emptyDataFrame
      case Rx.execOptimizeWhere(name, op, rhs) =>
        // evaluate the cutoff expression once on the driver, then prune
        // candidate files by mtime — the filtered-optimize shape
        val cutoffMs = spark.sql(
          s"SELECT CAST(CAST(${rewrite(rhs)} AS TIMESTAMP) AS DOUBLE) * 1000")
          .head().getDouble(0).toLong
        table(name).optimize(filePredicate = Some((_, mtime) =>
          if (op == ">") mtime > cutoffMs else mtime >= cutoffMs))
        spark.emptyDataFrame
      case Rx.callRollback(schema, tname, snapId) =>
        cat.table(s"$schema.$tname").rollback(snapId.toLong)
        spark.emptyDataFrame
      case Rx.callRegister(args) =>
        def arg(k: String) =
          (s"(?i)$k\\s*=>\\s*'([^']*)'").r.findFirstMatchIn(args)
            .getOrElse(throw new IllegalArgumentException(
              s"register_table: missing $k")).group(1)
        cat.registerTable(s"${arg("schema_name")}.${arg("table_name")}",
          arg("table_location"))
        spark.emptyDataFrame
      case Rx.merge(tgt, tgtAlias, src, srcAlias, on, whens) =>
        executeMerge(tgt, Option(tgtAlias), src, Option(srcAlias), on, whens)
        spark.emptyDataFrame
      case Rx.select() => select(stmt)
      case other => throw new IllegalArgumentException(
        s"unsupported statement: ${other.orig.linesIterator.next()}")
    }
  }

  /** Run a multi-statement script (';'-separated, `--` comments). */
  def executeScript(script: String): Seq[DataFrame] =
    splitStatements(script).map(execute)

  // ---- SELECT planning -----------------------------------------------

  /** Dialect rewrites that need no table knowledge — applied to stored
    * view bodies and DML sub-expressions as well.
    */
  private def rewrite(sql: String): String = {
    var s = sql
    // registered federated sources by dotted name
    sources.foreach { case (dotted, view) =>
      s = s.replaceAll("(?<![\\w.])" + java.util.regex.Pattern.quote(dotted) +
        "(?![\\w.])", view)
    }
    s = rewriteQuotedIdents(s)
    // the reference script's `SELECT ... ASC ORDER BY name` typo
    // (`sql:44`): a dangling ASC directly before ORDER BY is dropped
    // (SURVEY §2.5 L1 — treat as plain ORDER BY)
    s = "(?i)\\bASC\\s+(ORDER\\s+BY)".r.replaceAllIn(s, "$1")
    // MySQL-style date_format patterns (Trino dialect, `sql:87`) ->
    // Java patterns for Spark's codegen'd date_format
    s = "(?i)(date_format\\s*\\([^,()]+,\\s*)'([^']*%[^']*)'".r
      .replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
        m.group(1) + "'" +
          graft.functions.TrinoFunctions.mysqlToJavaPattern(m.group(2)) + "'"))
    // JSON '...' literal -> parse_json (variant column convention)
    s = "(?i)JSON\\s*('(?:[^'])*')".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(s"parse_json(${m.group(1)})"))
    // 9-digit-fraction TIMESTAMP literal -> epoch-nanos long (ns columns
    // are LongType per the ns-as-long convention; Spark would truncate
    // the literal to micros)
    s = "(?i)TIMESTAMP\\s*'(\\d{4}-\\d{2}-\\d{2})[ T](\\d{2}:\\d{2}:\\d{2})\\.(\\d{9})'"
      .r.replaceAllIn(s, m => {
        val inst = java.time.Instant.parse(s"${m.group(1)}T${m.group(2)}Z")
        (inst.getEpochSecond * 1000000000L + m.group(3).toLong).toString
      })
    s
  }

  /** Trino strings are single-quoted and identifiers double-quoted, so
    * a double quote OUTSIDE a string literal always wraps an identifier
    * — but double quotes INSIDE a string (a JSON literal) are content.
    * One string-aware pass maps `"t$snapshots"` to the `t_snapshots`
    * metadata-view convention and every other quoted identifier to
    * backticks.
    */
  private def rewriteQuotedIdents(s: String): String = {
    val metaRef = "(\\w+)\\$(\\w+)".r
    val out = new StringBuilder
    var i = 0
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') { inStr = !inStr; out.append(c); i += 1 }
      else if (c == '"' && !inStr) {
        val j = s.indexOf('"', i + 1)
        require(j > i, s"unterminated identifier quote in: $s")
        out.append(s.substring(i + 1, j) match {
          case metaRef(t, k) => s"${t}_$k"
          case other => s"`$other`"
        })
        i = j + 1
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Plan a SELECT: dialect-rewrite, bind each versioned read and
    * change feed under a name unique to its version or range, and let
    * [[LakeCatalog.plan]] bind the tables and views the text names
    * (a bare name resolves in the current schema first) and plan it.
    */
  private def select(raw: String): DataFrame = {
    val binds = scala.collection.mutable.LinkedHashMap[String, () => DataFrame]()
    var s = rewrite(raw)
    // TABLE(system.table_changes(...)) -> bound change-feed view
    s = "(?is)TABLE\\s*\\(\\s*system\\.table_changes\\s*\\((.*?)\\)\\s*\\)".r
      .replaceAllIn(s, m => {
        val args = m.group(1)
        def arg(k: String) =
          (s"(?i)$k\\s*=>\\s*'?([\\w]+)'?").r.findFirstMatchIn(args)
            .getOrElse(throw new IllegalArgumentException(
              s"table_changes: missing $k")).group(1)
        val (sc, tn) = (arg("schema_name"), arg("table_name"))
        val (from, to) =
          (arg("start_snapshot_id").toLong, arg("end_snapshot_id").toLong)
        // range in the view name: one statement may diff two ranges over
        // the SAME table — a per-table name would silently collapse both
        // references onto whichever binding was registered last
        val view = s"_chg_${tn}_${from}_$to"
        binds(view) = () => cat.table(s"$sc.$tn").changes(from, to)
        view
      })
    // t FOR TIMESTAMP AS OF TIMESTAMP '...' -> wall-clock time travel
    // (runs before the FOR VERSION rewrite; keyed by the instant so two
    // timestamps over one table bind independently)
    s = "(?i)(\\w+)\\s+FOR\\s+TIMESTAMP\\s+AS\\s+OF\\s+TIMESTAMP\\s*'([^']+)'".r
      .replaceAllIn(s, m => {
        val t = m.group(1)
        val ms = parseUtcMillis(m.group(2))
        val view = s"_tst_${t}_$ms"
        binds(view) = () => table(t).asOfTime(ms)
        view
      })
    // t FOR VERSION AS OF <snapshot id | 'branch'> -> versioned view.
    // Version in the view name: the standard snapshot-compare shape
    // reads the same table at two versions in one statement; keying by
    // table alone would rewrite both references to one binding.
    s = "(?i)(\\w+)\\s+FOR\\s+VERSION\\s+AS\\s+OF\\s+(\\d+|'\\w+')".r
      .replaceAllIn(s, m => {
        val t = m.group(1)
        val ver = m.group(2)
        val view = s"_ver_${t}_" + ver.replaceAll("\\W", "")
        binds(view) = () =>
          if (ver.startsWith("'")) table(t).readRef(stripQuotes(ver))
          else table(t).asOf(ver.toLong)
        view
      })
    cat.plan(s, Some(currentSchema), binds.toSeq)
  }

  // ---- INSERT / MERGE ------------------------------------------------

  private def insertSource(cols: Option[String], body: String): DataFrame = {
    val colNames = cols.map(splitTopLevel(_, ',').map(_.trim))
    body.trim.take(6).toUpperCase match {
      case "VALUES" =>
        val names = colNames.getOrElse(throw new IllegalArgumentException(
          "INSERT ... VALUES requires an explicit column list"))
        spark.sql(
          s"SELECT * FROM ( ${rewrite(body)} ) AS _ins(${names.mkString(", ")})")
      case _ =>
        val df = select(body)
        colNames.map(ns => df.toDF(ns: _*)).getOrElse(df)
    }
  }

  /** Upsert-shaped MERGE: equi-keys from ON; the SET list and the
    * matched condition are rewritten onto [[LakeTable.merge]]'s joined-
    * frame convention — target-alias references become bare target
    * columns, source-alias references become `src_`-prefixed columns —
    * so `SET c = l.c` (take source), `SET c = b.c` (keep target) and
    * mixed expressions (`b.name != l.name`) all mean what they say.
    * `WHEN NOT MATCHED THEN INSERT` maps to insert-all. Anything beyond
    * that shape is rejected loudly rather than silently misread.
    */
  private def executeMerge(tgt: String, tgtAlias: Option[String],
      src: String, srcAlias: Option[String], on: String, whens: String)
      : Unit = {
    val sourceDf = sources.get(src).map(spark.table)
      .getOrElse(table(src).read())
    val tgtNames = (tgtAlias.toSeq :+ tgt.split("\\.").last).distinct
    val srcNames = (srcAlias.toSeq :+ src.split("\\.").last).distinct
    def quoted(a: String) = java.util.regex.Pattern.quote(a)
    // Alias resolution BEFORE stripping (stripping both sides first
    // cannot distinguish `c = l.c` from `c = b.c`): source refs map to
    // the joined frame's src_ prefix, target refs to bare columns.
    def resolveRefs(e: String): String = {
      val s1 = srcNames.foldLeft(e)((acc, a) =>
        acc.replaceAll(s"(?i)\\b${quoted(a)}\\.(\\w+)", "src_$1"))
      tgtNames.foldLeft(s1)((acc, a) =>
        acc.replaceAll(s"(?i)\\b${quoted(a)}\\.", ""))
    }
    val keys = splitTopLevel(
      on.trim.stripPrefix("(").stripSuffix(")"), '&') // AND handled below
      .flatMap(_.split("(?i)\\bAND\\b")).map(_.trim).filter(_.nonEmpty)
      .map { c =>
        val m = "(?i)(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)".r
          .findFirstMatchIn(c).getOrElse(
            throw new IllegalArgumentException(s"MERGE ON must be equi-join: $c"))
        require(m.group(2) == m.group(4),
          s"MERGE ON must join same-named key columns: $c")
        m.group(2)
      }
    val matched =
      "(?is)WHEN\\s+MATCHED(?:\\s+AND\\s+(.*?))?\\s+THEN\\s+UPDATE\\s+SET\\s+(.*?)(?=WHEN\\s+NOT\\s+MATCHED|$)"
        .r.findFirstMatchIn(whens)
    val notMatched = "(?i)WHEN\\s+NOT\\s+MATCHED".r.findFirstIn(whens).isDefined
    val whenMatchedSet = matched.map { m =>
      splitTopLevel(m.group(2).trim, ',').map { a =>
        val Array(c, e) = a.split("=", 2)
        val colName = tgtNames.foldLeft(c.trim)((acc, a0) =>
          acc.replaceAll(s"(?i)^${quoted(a0)}\\.", "")).trim
        colName -> expr(rewrite(resolveRefs(e.trim)))
      }.toMap
    }
    val matchedCondition =
      matched.flatMap(m => Option(m.group(1)))
        .map(c => expr(rewrite(resolveRefs(c))))
    table(tgt).merge(sourceDf, keys,
      matchedCondition = matchedCondition,
      whenMatchedSet = whenMatchedSet,
      whenNotMatchedInsert = notMatched)
  }

  // ---- helpers --------------------------------------------------------

  private def table(name: String): LakeTable = cat.table(resolve(name))

  /** bare -> as a SELECT binds it ([[LakeCatalog.qualify]]), or the
    * current schema for CREATE and DROP; schema.table kept;
    * catalog.schema.table -> catalog prefix dropped (single-process
    * engine, one catalog).
    */
  private def resolve(name: String, create: Boolean = false): String =
    name.replace("\"", "").split("\\.").toSeq match {
      case Seq(t) if create => s"$currentSchema.$t"
      case Seq(t) => cat.qualify(t, currentSchema)
      case Seq(sc, t) => s"$sc.$t"
      case parts => parts.takeRight(2).mkString(".")
    }

  private def branchOf(branch: String): String =
    Option(branch).getOrElse("main")

  private def lastSegment(name: String): String =
    name.replace("\"", "").split("\\.").last

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1)
    else t
  }

  private def oneString(colName: String, value: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    Seq(value).toDF(colName)
  }

  private def oneStringCol(colName: String, values: Seq[String]): DataFrame = {
    val sp = spark
    import sp.implicits._
    values.toDF(colName)
  }

  private def sqlType(t: String): DataType =
    t.trim.toLowerCase match {
      case v if v.startsWith("varchar") || v == "string" => StringType
      case "json" | "variant" => VariantType
      case "timestamp(9)" => LongType // ns-as-long convention
      case ts if ts.startsWith("timestamp") => TimestampType
      case "int" | "integer" => IntegerType
      case "bigint" => LongType
      case "smallint" => ShortType
      case "tinyint" => ByteType
      case "double" => DoubleType
      case "real" | "float" => FloatType
      case "boolean" => BooleanType
      case "date" => DateType
      case d if d.startsWith("decimal") =>
        val m = "decimal\\((\\d+)\\s*,\\s*(\\d+)\\)".r.findFirstMatchIn(d)
          .getOrElse(throw new IllegalArgumentException(s"bad type: $t"))
        DecimalType(m.group(1).toInt, m.group(2).toInt)
      case other => throw new IllegalArgumentException(s"unsupported type: $other")
    }

  private def parseTableProps(props: Option[String])
      : (Seq[String], Map[String, String]) = {
    val p = props.getOrElse("")
    val partitioning =
      "(?i)partitioning\\s*=\\s*ARRAY\\s*\\[(.*?)\\]".r.findFirstMatchIn(p)
        .map(m => splitTopLevel(m.group(1), ',').map(stripQuotes))
        .getOrElse(Nil)
    val scalarProps = Seq("merge_mode", "format", "format_version",
      "sorted_by").flatMap { k =>
      (s"(?i)$k\\s*=\\s*('[^']*'|\\d+)").r.findFirstMatchIn(p)
        .map(m => k -> stripQuotes(m.group(1)))
    }.toMap
    (partitioning, scalarProps)
  }

  /** `'2026-01-01 12:00:00[.fff][ UTC]'` -> epoch millis (UTC). */
  private def parseUtcMillis(x: String): Long = {
    val cleaned = x.trim.replaceAll("(?i)\\s+(UTC|Z)$", "")
    java.time.LocalDateTime.parse(cleaned.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }

  private def parseDuration(d: String): Long = {
    val m = "(\\d+)\\s*([dhms])".r.findFirstMatchIn(d.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(s"bad duration: $d"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "d" => n * 24 * 3600 * 1000
      case "h" => n * 3600 * 1000
      case "m" => n * 60 * 1000
      case "s" => n * 1000
    }
  }

  private def parseSize(s: String): Long = {
    val m = "(\\d+)\\s*(GB|MB|KB|B)".r.findFirstMatchIn(s.toUpperCase)
      .getOrElse(throw new IllegalArgumentException(s"bad size: $s"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "GB" => n << 30
      case "MB" => n << 20
      case "KB" => n << 10
      case "B" => n
    }
  }

  /** Split on `sep` outside quotes/parens (VALUES rows, SET lists). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var inStr = false
    s.foreach { ch =>
      if (ch == '\'') inStr = !inStr
      if (!inStr) {
        if (ch == '(' || ch == '[') depth += 1
        if (ch == ')' || ch == ']') depth -= 1
      }
      if (ch == sep && depth == 0 && !inStr) { out += cur.toString; cur.clear() }
      else cur.append(ch)
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def stripComments(sql: String): String =
    sql.linesIterator.map { line =>
      var inStr = false
      var cut = line.length
      var i = 0
      while (i < line.length - 1 && cut == line.length) {
        if (line(i) == '\'') inStr = !inStr
        if (!inStr && line(i) == '-' && line(i + 1) == '-') cut = i
        i += 1
      }
      line.substring(0, cut)
    }.mkString("\n")

  private[lake] def splitStatements(script: String): Seq[String] =
    splitTopLevel(stripComments(script).replace("\n", " \n"), ';')
      .filter(_.trim.nonEmpty)
}
