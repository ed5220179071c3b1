package graft.sources

import org.apache.spark.sql.{AnalysisException, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, SupervisingCommand, UnresolvedWith}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}

import scala.jdk.CollectionConverters._

/** SQL statement surface over [[LogTable]] — the interface the
  * reference's users actually hold: its ENTIRE query catalog is Trino
  * SQL against the Iceberg table (reference README.md:125-168).
  * Tables are addressed by their registered SQL name ([[register]], or
  * CREATE TABLE under [[setWarehouse]]).
  *
  * Every statement Spark's parser handles is FORWARDED to a
  * session-scoped [[GraftCatalog]] — Spark's parser, analyzer and
  * row-level planner, no second dialect — with only its names
  * rewritten to the tables' roots (`<cat>.`<root>``):
  *
  * {{{
  * CREATE TABLE [IF NOT EXISTS] t (...)      forwarded (root <wh>/t),
  *   [PARTITIONED BY (...)]                    then t registers
  * DROP TABLE [IF EXISTS] t                  forwarded (PURGE), then t
  *                                             and its views drop
  * ALTER TABLE t ADD | RENAME | DROP COLUMN,
  *   ALTER COLUMN c TYPE ...                 forwarded; any other ALTER
  *                                             (RENAME TO, SET LOCATION)
  *                                             refuses
  * ALTER TABLE t SET | UNSET TBLPROPERTIES   kept: Spark reserves
  *                                             `owner`; one commit
  * UPDATE t ... | DELETE FROM t ...          forwarded
  * MERGE INTO t ... USING ...                forwarded as MERGE WITH
  *                                             SCHEMA EVOLUTION INTO
  * INSERT INTO t [(cols)] <query>            kept: LogTable.append,
  *                                             which writes the first
  *                                             schema (the catalog
  *                                             refuses schema-less
  *                                             tables)
  * CALL proc(t, ...)                         forwarded to the catalog's
  *                                             procedure table
  * CREATE | DROP MATERIALIZED VIEW v,        kept: [[MaterializedView]]
  *   CALL refresh_mv(v) | refresh_mv_full(v)
  * anything else (queries, EXPLAIN)          forwarded through the
  *                                             resolver below
  * }}}
  *
  * Queries, INSERT's source query and every forwarded statement go
  * through one resolver over Spark's parsed plan (subqueries and CTE
  * bodies included): a registered table name (matched
  * case-insensitively, unless a CTE of that name is in scope) reads
  * the catalog's CURRENT snapshot, so `SELECT COUNT(*) FROM t` is
  * answered from the manifest by the scan's aggregate pushdown; a
  * materialized view's name reads the view; `t VERSION AS OF 3 |
  * '<tag>' | '<branch>'` and `t TIMESTAMP AS OF <epoch-ms |
  * 'yyyy-MM-dd HH:mm:ss' UTC>` (Spark reads a bare number there
  * differently) time-travel through the catalog (a name that is both
  * a tag and a branch reads the tag); a bare registered name as
  * `table_changes`' first argument is its root. `t@v3` / `t@<name>` is
  * sugar for `t VERSION AS OF 3 | '<name>'` (in a MERGE source,
  * `(FROM t VERSION AS OF …)`), rewritten in the text outside string
  * literals because Spark's lexer rejects `@`. The table functions are
  * Spark's, registered with the catalog
  * ([[graft.GraftExtensions.tableFunctions]]).
  *
  * Forwarded DML has Spark's (and Trino's) semantics: MERGE evaluates
  * its WHEN clauses in textual order, ON may be any condition, SET may
  * assign the ON column, and an unaliased target keeps resolving
  * `t.col` (it is aliased by its own name). `UPDATE SET *` / `INSERT *`
  * with a new source column add it to the table; column-level SET and
  * `INSERT (cols) VALUES` do not. Group-based rewrites commit under the
  * catalog's `rlo-*` operation names. Forwarded CALL arguments bind by
  * Spark's rules (its binder checks types, quoted arguments follow SQL
  * escaping, omitted trailing ones take defaults, an unknown mode
  * refuses); the summary is always the target table's current snapshot
  * (for clone and expire_branch too, not the clone's or the branch's).
  * DML, DDL and CALL return a one-row summary (version, operation,
  * n_files, total_rows); their analysis and parse errors surface as
  * IllegalArgumentException (the original as its cause), as do
  * unsupported shapes here — never a silent misparse into a different
  * statement. A query's errors are Spark's own.
  */
object GraftSql {

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, LogTable]()

  /** Materialized views by SQL name (Trino's CREATE MATERIALIZED VIEW
    * surface — the reference's users run Trino, reference
    * README.md:125-168): each holds its own state LogTable under the
    * warehouse and refreshes incrementally via CALL refresh_mv. */
  private val mvRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, MaterializedView]()

  private def mview(name: String): MaterializedView = {
    val v = mvRegistry.get(name)
    require(v != null, s"no materialized view '$name' (CREATE MATERIALIZED VIEW first)")
    v
  }

  @volatile private var warehousePath: Option[String] = None

  /** Root directory under which `CREATE TABLE <name>` places tables
    * (warehouse/name) — the catalog-location knob of a real
    * deployment. */
  def setWarehouse(path: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    warehousePath = Some(path)
  }

  /** Register `table` under a SQL name: view `<name>` (the current
    * snapshot) plus its `<name>_<suffix>` metadata views
    * ([[LogTable.metadataTables]]) for plain `spark.sql`, and a name
    * [[exec]] reads and writes through the catalog by its root (so a
    * branch handle, which shares main's root, refuses). */
  def register(name: String, table: LogTable): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid table name '$name'")
    require(!table.isBranchHandle, s"cannot register branch handle '$name' (register main)")
    registry.put(name, table)
    table.registerViews(name)
  }

  /** Forget a registered name (views stay until the session drops them). */
  def unregister(name: String): Unit = registry.remove(name)

  /** The LogTable behind a registered name (error if absent), resolved
    * as reads resolve it ([[registeredName]]). */
  def table(name: String): LogTable = {
    val t = registry.get(registeredName(name))
    require(t != null, s"no registered LogTable '$name' (register(name, table) first)")
    t
  }

  /** The registered spelling of `name` — exact first, else
    * case-insensitively, the one rule every read and write target
    * resolves by — or `name` itself when nothing is registered under
    * it. */
  private def registeredName(name: String): String =
    keyOf(registry, name).getOrElse(name)

  private def keyOf[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
      name: String): Option[String] =
    if (m.containsKey(name)) Some(name)
    else m.keySet.asScala.find(_.equalsIgnoreCase(name))

  /** Execute one statement. DML / DDL / CALL return a one-row summary
    * frame (version, operation, n_files, total_rows); queries return
    * their result. Only registered tables are valid mutation targets. */
  def exec(spark: SparkSession, sql: String): DataFrame = {
    val stmt = sql.trim.stripSuffix(";").trim
    stmt match {
      case CreateMvRe(ifNotExists, name, select, base, groupBy) =>
        execCreateMv(spark, ifNotExists != null, name, select, base, groupBy)
      case DropMvRe(ifExists, name) => execDropMv(spark, ifExists != null, name)
      case AlterPropsRe(name, verb, list) =>
        execAlterProps(spark, registeredName(name), verb, list)
      case _ => stmt.takeWhile(!_.isWhitespace).toUpperCase match {
        case "INSERT" => execInsert(spark, stmt)
        case "CALL" => call(spark, stmt)
        case "CREATE" | "DROP" | "ALTER" | "UPDATE" | "DELETE" | "MERGE" =>
          forward(spark, stmt)
        case _ => run(spark, stmt)
      }
    }
  }

  // ----------------------------------------------------- materialized views

  private val CreateMvRe =
    ("""(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(\w+)""" +
      """\s+AS\s+SELECT\s+(.+?)\s+FROM\s+(\w+)\s+GROUP\s+BY\s+(.+)$""").r

  /** `CREATE MATERIALIZED VIEW [IF NOT EXISTS] <name> AS SELECT <keys
    * and aggregates> FROM <registered table> GROUP BY <keys>` — the
    * Trino MV surface over [[MaterializedView]]. The select list is
    * restricted to what incremental maintenance can actually sustain:
    * bare group-key columns plus `count(*) | sum(e) | min(e) | max(e)
    * | avg(e) | approx_count_distinct(e) AS alias` (each stored as
    * mergeable partial state — avg as fused sum+count, the distinct
    * count as an HLL sketch). The
    * view's state table lands under the warehouse at `<wh>/<name>`,
    * readable as SQL view `<name>` and refreshed by
    * `CALL refresh_mv(<name>)`. */
  private def execCreateMv(spark: SparkSession, ifNotExists: Boolean,
      name: String, select: String, base: String, groupBy: String): DataFrame = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid view name '$name'")
    val baseT = table(base)
    val keys = scala.collection.mutable.ListBuffer[String]()
    val aggs = scala.collection.mutable.ListBuffer[MvAgg]()
    val AggItem = ("""(?is)^(count|sum|min|max|avg|approx_count_distinct)""" +
      """\s*\(\s*(.+?)\s*\)\s+AS\s+(\w+)$""").r
    splitTopLevel(select, ',').map(_.trim).filter(_.nonEmpty).foreach {
      case AggItem(fn, arg, alias) => fn.toLowerCase match {
        case "count" =>
          require(arg.trim == "*" || arg.trim == "1",
            s"only count(*) is incrementally mergeable; got count($arg)")
          aggs += MvAgg.Count(alias)
        case "sum" => aggs += MvAgg.Sum(alias, expr(arg))
        case "min" => aggs += MvAgg.Min(alias, expr(arg))
        case "max" => aggs += MvAgg.Max(alias, expr(arg))
        // avg stores fused sum+count state, approx_count_distinct an
        // HLL sketch — both merge; readers see ratio / estimate
        case "avg" => aggs += MvAgg.Avg(alias, expr(arg))
        case "approx_count_distinct" =>
          aggs += MvAgg.ApproxDistinct(alias, expr(arg))
      }
      case c if c.matches("\\w+") => keys += c
      case other => throw new IllegalArgumentException(
        s"unsupported select item '$other' in CREATE MATERIALIZED VIEW " +
          "(supported: group-key columns, and count(*)/sum(e)/min(e)/" +
          "max(e)/avg(e)/approx_count_distinct(e) AS alias)")
    }
    val gkeys = splitTopLevel(groupBy, ',').map(_.trim).filter(_.nonEmpty)
    require(gkeys.forall(_.matches("\\w+")),
      s"GROUP BY must list bare column names; got '${groupBy.trim}'")
    require(gkeys.map(_.toLowerCase).toSet == keys.map(_.toLowerCase).toSet,
      s"GROUP BY keys (${gkeys.mkString(", ")}) must match the select " +
        s"list's bare columns (${keys.mkString(", ")})")
    val wh = warehousePath.getOrElse(throw new IllegalStateException(
      "no warehouse configured: GraftSql.setWarehouse(path) before CREATE"))
    val root = java.nio.file.Paths.get(wh).resolve(name).toString
    val exists = mvRegistry.containsKey(name) ||
      java.nio.file.Files.exists(java.nio.file.Paths.get(root))
    if (exists) require(ifNotExists, s"materialized view '$name' already exists (at $root)")
    // create, or re-open existing state (the definition is validated
    // against the recorded schema inside MaterializedView.apply)
    val mv = MaterializedView(spark, baseT, root, keys.toSeq, aggs.toSeq)
    mvRegistry.put(name, mv)
    summarizeMv(spark, name)
  }

  private def summarizeMv(spark: SparkSession, name: String): DataFrame = {
    val mv = mview(name)
    mv.read().createOrReplaceTempView(name)
    summary(spark, mv.table.snapshot())
  }

  private val DropMvRe =
    """(?is)^DROP\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?(\w+)$""".r

  /** `DROP MATERIALIZED VIEW [IF EXISTS] v`: unregister, drop the SQL
    * view, delete the state directory (PURGE, as DROP TABLE). */
  private def execDropMv(spark: SparkSession, ifExists: Boolean,
      name: String): DataFrame = {
    val v = mvRegistry.remove(name)
    val root = Option(v).map(_.table.root).orElse(
      warehousePath.map(w => java.nio.file.Paths.get(w).resolve(name).toString)
        .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    require(root.nonEmpty || ifExists,
      s"no such materialized view '$name'")
    spark.catalog.dropTempView(name)
    root.foreach(r => LogTable.deleteRecursively(java.nio.file.Paths.get(r)))
    summary(spark, 0L, "drop-materialized-view", 0L, 0L)
  }

  // ----------------------------------------------------------------- INSERT

  private val InsertRe =
    """(?is)^INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\))?\s*(.+)$""".r

  private def execInsert(spark: SparkSession, stmt: String): DataFrame =
    stmt match {
      case InsertRe(raw, colList, query) =>
        val name = registeredName(raw)
        val t = table(name)
        val df = run(spark, query.trim)
        val renamed = Option(colList) match {
          case Some(cl) if cl.trim.nonEmpty =>
            val names = cl.split(",").map(_.trim)
            require(names.length == df.columns.length,
              s"INSERT column list has ${names.length} names but the query " +
                s"produces ${df.columns.length} columns")
            df.toDF(names.toIndexedSeq: _*)
          case _ => df
        }
        summarize(spark, name, t.append(renamed))
      case _ => throw new IllegalArgumentException(
        s"unsupported INSERT shape: $stmt (expected INSERT INTO <table> [(cols)] <query>)")
    }

  // ------------------------------------------------------ forwarded DDL/DML

  /** The catalog name GraftSql registers [[GraftCatalog]] under in each
    * session it runs in. Targets are addressed by absolute root, so
    * the catalog's warehouse is never consulted. */
  private val CatalogName = "graft_sql"


  /** A statement Spark parses: its verb phrase, target name, and tail. */
  private val ForwardRe = ("""(?is)^(CREATE\s+TABLE(?:\s+IF\s+NOT\s+EXISTS)?|""" +
    """DROP\s+TABLE(?:\s+IF\s+EXISTS)?|ALTER\s+TABLE|UPDATE|DELETE\s+FROM|""" +
    """MERGE\s+INTO)\s+(\w+)(.*)$""").r

  /** The ALTER tails forwarded: column changes only. A catalog-level
    * `RENAME TO` or `SET LOCATION` would move the table out from under
    * its registered name. */
  private val AlterColumnRe =
    """(?is)^\s+(?:(?:ADD|DROP)\s+COLUMNS?|RENAME\s+COLUMN|ALTER\s+COLUMN)\b.*$""".r

  /** Run `stmt` through Spark's parser against the catalog, with only
    * its target rewritten: a registered name to its table's root, an
    * unregistered CREATE/DROP name to `<warehouse>/<name>`, either made
    * absolute. The target must be catalog-qualified — a registered
    * temp view of the same name would otherwise shadow it, and Spark
    * refuses DML on views. */
  private def forward(spark: SparkSession, stmt: String): DataFrame = {
    val (phrase, name, tail) = stmt match {
      case ForwardRe(p, n, t) => (p, registeredName(n), t)
      case _ => throw new IllegalArgumentException(s"unsupported statement shape: $stmt")
    }
    val verb = phrase.takeWhile(!_.isWhitespace).toUpperCase
    require(verb != "ALTER" || AlterColumnRe.matches(tail),
      s"unsupported ALTER shape: $stmt (expected ADD | RENAME | DROP COLUMN, " +
        "ALTER COLUMN, or SET | UNSET TBLPROPERTIES)")
    if (verb == "DROP" && !registry.containsKey(name) && warehousePath.isEmpty) {
      // nothing registered and nowhere to look: IF EXISTS is a no-op
      require(phrase.toUpperCase.endsWith("EXISTS"),
        s"no such table '$name' (neither registered nor under the warehouse)")
      return dropped(spark, name)
    }
    val root = rootOf(name, Set("CREATE", "DROP")(verb), phrase)
    // DML written without an alias keeps resolving `name.col`
    val alias = """^\s*(\w+)""".r.findFirstMatchIn(tail).map(_.group(1).toUpperCase) match {
      case Some(w) if !Set("SET", "WHERE", "USING")(w) => ""
      case _ if Set("UPDATE", "DELETE", "MERGE")(verb) => s" AS $name"
      case _ => ""
    }
    // `SET *` / `INSERT *` add new source columns, as the merge API did
    val head = if (verb == "MERGE") "MERGE WITH SCHEMA EVOLUTION INTO" else phrase
    runOnCatalog(spark, s"$head $CatalogName.`${root.replace("`", "``")}`$alias$tail")
    verb match {
      case "DROP" => dropped(spark, name)
      case v =>
        if (v == "CREATE" && !registry.containsKey(name))
          register(name, LogTable(spark, root))
        summarize(spark, name, table(name).snapshot())
    }
  }

  /** The absolute root `name` addresses: its registered table's, or —
    * for a statement that may create or drop it (`orWarehouse`) —
    * `<warehouse>/<name>`. */
  private def rootOf(name: String, orWarehouse: Boolean, what: String): String = {
    val root =
      if (registry.containsKey(name) || !orWarehouse) table(name).root
      else java.nio.file.Paths.get(warehousePath.getOrElse(throw new IllegalStateException(
        s"no warehouse configured: GraftSql.setWarehouse(path) before $what")))
        .resolve(name).toString
    absolute(root)
  }

  private def absolute(root: String): String =
    java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString

  /** Run a rewritten statement through the resolver, Spark's errors as
    * IllegalArgumentException. */
  private def runOnCatalog(spark: SparkSession, sql: String): Unit =
    try run(spark, sql)
    catch { case e: AnalysisException => throw new IllegalArgumentException(e.getMessage, e) }

  /** Forget a dropped table's name and its views. */
  private def dropped(spark: SparkSession, name: String): DataFrame = {
    unregister(name)
    (name +: LogTable.metadataTables.map(m => s"${name}_${m._1}"))
      .foreach(spark.catalog.dropTempView)
    summary(spark, 0L, "drop-table", 0L, 0L)
  }

  private val AlterPropsRe =
    """(?is)^ALTER\s+TABLE\s+(\w+)\s+(SET|UNSET)\s+TBLPROPERTIES\s*\((.+)\)$""".r

  /** `ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ...)` / `UNSET
    * TBLPROPERTIES ('k', ...)`: the one ALTER form parsed here, because
    * Spark's parser refuses keys it reserves (`owner`, `location`, ...)
    * while the manifest's property map has none. The whole list
    * commits as one snapshot. */
  private def execAlterProps(spark: SparkSession, name: String, verb: String,
      list: String): DataFrame = {
    val items = splitTopLevel(list, ',').filter(_.nonEmpty)
    val snap =
      if (verb.equalsIgnoreCase("UNSET")) table(name).unsetProperties(items.map(unquote))
      else table(name).setProperties(items.map { kv =>
        val cut = kv.indexOf('=')
        require(cut > 0, s"expected 'key' = 'value' in TBLPROPERTIES, got '$kv'")
        unquote(kv.take(cut)) -> unquote(kv.drop(cut + 1))
      }.toMap)
    summarize(spark, name, snap)
  }

  // ------------------------------------------------------------------- CALL

  private val CallRe = """(?is)^CALL\s+(\w+)\s*\((.*)\)$""".r

  /** `CALL proc(t, args...)`: the MV refreshes run here (they address
    * the MV registry); any other forwards as `CALL <cat>.system.proc(
    * '`<root of t>`', args...)` — a bare-identifier argument (merge_mor's
    * key) as a string literal, anything else byte for byte. */
  private def call(spark: SparkSession, stmt: String): DataFrame = {
    val (proc, name, args) = stmt match {
      case CallRe(p, a) if a.trim.nonEmpty =>
        val all = splitTopLevel(a, ',')
        (p.toLowerCase, registeredName(unquote(all.head)), all.tail)
      case _ => throw new IllegalArgumentException(
        s"unsupported CALL shape: $stmt (expected CALL <proc>(<table>, ...))")
    }
    proc match {
      case "refresh_mv" => mview(name).refreshOrFull(); summarizeMv(spark, name)
      case "refresh_mv_full" => mview(name).fullRefresh(); summarizeMv(spark, name)
      case _ =>
        val root = rootOf(name, proc == "import_iceberg", proc)
        val target = s"`${root.replace("`", "``")}`"
          .replace("\\", "\\\\").replace("'", "\\'")
        val lits = args.map(a =>
          if (a.matches("[A-Za-z_]\\w*") && !a.equalsIgnoreCase("NULL")) s"'$a'" else a)
        runOnCatalog(spark,
          s"CALL $CatalogName.system.$proc(${(s"'$target'" +: lits).mkString(", ")})")
        // a changed spec (or a new table) needs a handle that adopts it
        if (proc == "evolve_spec" || proc == "import_iceberg")
          register(name, LogTable(spark, root))
        summarize(spark, name, table(name).snapshot())
    }
  }

  // -------------------------------------------------------------- resolver

  /** Run one statement through Spark's parser with GraftSql's names
    * resolved ([[resolveNames]]), as `spark.sql` runs its plan — after
    * registering the catalog, and the table functions beside it, in
    * the session (once). */
  private def run(spark: SparkSession, sql: String): DataFrame = {
    val key = s"spark.sql.catalog.$CatalogName"
    if (spark.conf.getOption(key).isEmpty) {
      spark.conf.set(s"$key.warehouse", System.getProperty("java.io.tmpdir"))
      spark.conf.set(key, classOf[GraftCatalog].getName)
      graft.GraftExtensions.register(spark)
    }
    GraftBridge.ofRows(spark,
      resolveNames(GraftBridge.parsePlan(spark, atSugar(sql)), Set.empty))
  }

  /** Rewrite a parsed plan's names, into subqueries, CTE bodies and
    * supervised plans (EXPLAIN): a registered table becomes its catalog
    * relation (time travel kept on it), a materialized view its read
    * plan, each aliased by its name; `table_changes`' bare registered
    * first argument becomes its root. `ctes` (lower-cased) are the CTE
    * names in scope, which shadow registered names. */
  private def resolveNames(plan: LogicalPlan, ctes: Set[String]): LogicalPlan =
    plan match {
      case w: UnresolvedWith =>
        val names = w.cteRelations.map(_._1.toLowerCase)
        w.copy(child = resolveNames(w.child, ctes ++ names),
          cteRelations = w.cteRelations.zipWithIndex.map { case ((n, body, depth), i) =>
            val visible = if (w.allowRecursion) names else names.take(i)
            (n, resolveNames(body, ctes ++ visible).asInstanceOf[SubqueryAlias], depth)
          })
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, _) =>
        lookup(registry, u.multipartIdentifier, ctes).fold(tt: LogicalPlan)(t =>
          SubqueryAlias(u.multipartIdentifier.head,
            tt.copy(relation = onCatalog(u, t), timestamp = ts.map(utcAsOf))))
      case u: UnresolvedRelation =>
        lookup(registry, u.multipartIdentifier, ctes).map(onCatalog(u, _))
          .orElse(lookup(mvRegistry, u.multipartIdentifier, ctes)
            .map(_.read().queryExecution.analyzed))
          .fold(u: LogicalPlan)(SubqueryAlias(u.multipartIdentifier.head, _))
      case f @ UnresolvedTableValuedFunction(Seq(fn), (a: UnresolvedAttribute) +: rest, _)
          if fn.equalsIgnoreCase("table_changes") =>
        lookup(registry, a.nameParts, ctes).fold(f)(t =>
          f.copy(functionArgs = Literal(absolute(t.root)) +: rest))
      case c: SupervisingCommand => c.withTransformedSupervisedPlan(resolveNames(_, ctes))
      case p => p.mapChildren(resolveNames(_, ctes)).transformExpressions {
        case e: SubqueryExpression => e.withNewPlan(resolveNames(e.plan, ctes))
      }
    }

  /** The registered entry a single-part name (not a CTE in scope)
    * names: exact spelling first, else case-insensitively. */
  private def lookup[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
      parts: Seq[String], ctes: Set[String]): Option[V] = parts match {
    case Seq(n) if !ctes(n.toLowerCase) => keyOf(m, n).flatMap(k => Option(m.get(k)))
    case _ => None
  }

  private def onCatalog(u: UnresolvedRelation, t: LogTable): UnresolvedRelation =
    u.copy(multipartIdentifier = Seq(CatalogName, absolute(t.root)))

  /** `TIMESTAMP AS OF` keeps GraftSql's meaning: bare digits are
    * epoch-ms and a quoted 'yyyy-MM-dd HH:mm:ss' is UTC (Spark would
    * read seconds, and the session zone). */
  private def utcAsOf(e: Expression): Expression = e match {
    case Literal(ms, IntegerType | LongType) =>
      Literal(ms.asInstanceOf[Number].longValue * 1000L, TimestampType)
    case Literal(s, _: StringType) =>
      Literal(java.time.LocalDateTime.parse(s.toString.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L, TimestampType)
    case other => other
  }

  /** A single-quoted literal (`''` escapes a quote; an unterminated
    * one runs to the end), or `<name>@v<N>` / `<name>@<ref>`. Literals
    * match first, so a token inside one is data. */
  private val AtRe =
    """'(?:[^']++|'')*+(?:'|\z)|(\w+)@(?:v(\d+)(?![\w.-])|([A-Za-z0-9._-]+))""".r
  private val UsingRe = """(?i)\bUSING\s+\z""".r

  /** `t@v3` / `t@<name>` → `t VERSION AS OF 3 | '<name>'` for a
    * registered `t` outside string literals — `(FROM t VERSION AS OF
    * …)` as a MERGE source, which takes no temporal clause. */
  private def atSugar(sql: String): String =
    AtRe.replaceSomeIn(sql, m =>
      Option(m.group(1)).filter(n => lookup(registry, Seq(n), Set.empty).nonEmpty).map { n =>
        val tt = s"$n VERSION AS OF " + Option(m.group(2)).getOrElse(s"'${m.group(3)}'")
        scala.util.matching.Regex.quoteReplacement(
          if (UsingRe.findFirstIn(sql.substring(0, m.start)).nonEmpty) s"(FROM $tt)" else tt)
      })

  // -------------------------------------------------------------- utilities

  /** One-row result frame for DML/CALL, and the moment the registered
    * views flip to the new snapshot (a SQL user's next SELECT sees the
    * mutation, like any database). */
  private def summarize(spark: SparkSession, name: String, snap: Snapshot): DataFrame = {
    registry.get(name).registerViews(name)
    summary(spark, snap)
  }

  private def summary(spark: SparkSession, snap: Snapshot): DataFrame =
    summary(spark, snap.version, snap.operation, snap.files.size.toLong, snap.totalRows)

  private def summary(spark: SparkSession, version: Long, operation: String,
      nFiles: Long, totalRows: Long): DataFrame = {
    import spark.implicits._
    Seq((version, operation, nFiles, totalRows))
      .toDF("version", "operation", "n_files", "total_rows")
  }

  /** Strip one pair of matching single or double quotes. */
  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && (t.head == '\'' || t.head == '"') && t.last == t.head)
      t.substring(1, t.length - 1)
    else t
  }

  /** Split on `sep` at paren/quote depth 0 (SET lists, CALL args). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val parts = scala.collection.mutable.ListBuffer[String]()
    val cur = new StringBuilder
    var depth = 0; var inStr = false
    s.foreach {
      case '\'' => inStr = !inStr; cur += '\''
      case '(' if !inStr => depth += 1; cur += '('
      case ')' if !inStr => depth -= 1; cur += ')'
      case c if c == sep && depth == 0 && !inStr => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.toSeq.map(_.trim)
  }
}
