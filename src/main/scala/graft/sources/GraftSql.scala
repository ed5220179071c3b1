package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** SQL statement surface over [[LogTable]] — the interface the
  * reference's users actually hold: its ENTIRE query catalog is Trino
  * SQL against the Iceberg table (reference README.md:125-168), and
  * Iceberg there means `MERGE INTO` / `UPDATE` / `DELETE` /
  * `FOR VERSION AS OF` reach the same snapshot machinery the writers
  * use. graft's mutations were Scala-API-only; this object closes the
  * gap with a deliberately small statement router:
  *
  *   - `CREATE TABLE [IF NOT EXISTS] t (col TYPE, ...)
  *        [PARTITIONED BY (day(c) | hour(c) | truncate(n, c) |
  *         bucket(n, c) | c, ...)]`  → [[LogTable.declareSchema]] under
  *     the configured [[setWarehouse]] root (hidden-partition
  *     transforms exactly as Iceberg DDL)
  *   - `DROP TABLE [IF EXISTS] t` — unregisters AND deletes the
  *     table's directory (DROP ... PURGE semantics; there is no
  *     shared catalog holding a tombstone)
  *   - `INSERT INTO t <query>`                     → [[LogTable.append]]
  *   - `UPDATE t SET c = e, ... [WHERE p]`         → [[LogTable.update]]
  *   - `DELETE FROM t [WHERE p]`                   → [[LogTable.delete]]
  *   - `ALTER TABLE t ADD COLUMN c <t> | RENAME COLUMN a TO b
  *        | DROP COLUMN a | ALTER COLUMN c TYPE <t>` → schema evolution
  *   - `MERGE INTO t [a] USING <src> [b] ON a.k = b.k
  *        WHEN MATCHED [AND c] THEN DELETE
  *        WHEN MATCHED [AND c] THEN UPDATE SET * | SET c = e, ...
  *        WHEN NOT MATCHED THEN INSERT * | INSERT (cols) VALUES (...)
  *        WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE`
  *                                                 → [[LogTable.merge]]
  *   - `CREATE MATERIALIZED VIEW [IF NOT EXISTS] v AS SELECT <keys,
  *        count(*)/sum/min/max AS alias> FROM t GROUP BY <keys>` —
  *     an incrementally-maintained rollup ([[MaterializedView]]) whose
  *     state lands under the warehouse; `CALL refresh_mv(v)` folds only
  *     base rows appended since the last refresh (across row-changing
  *     base ops it retracts through the CDC changelog when every
  *     aggregate can — else a full rebuild;
  *     `CALL refresh_mv_full(v)` forces one); `DROP MATERIALIZED VIEW`
  *   - `CALL compact(t) | expire(t, n) | expire_older_than(t, ms, n)
  *        | rollback(t, v) | clone(t, '<path>' [, v]) | remove_orphans(t) | recluster(t, c, n)
  *        | create_ref(t, name [, v]) | create_branch(t, name)
  *        | fast_forward(t, name)`                 → maintenance API
  *   - anything else → `spark.sql` after time-travel rewriting:
  *     `table_changes(t, from [, to])` (the CDC changelog as a table
  *     function, Delta/Iceberg style),
  *     `t@v3` (version), `t@<ref>` (tag), `t@<branch>` (branch head),
  *     `t VERSION AS OF 3`, `t TIMESTAMP AS OF <epoch-ms |
  *     'yyyy-MM-dd HH:mm:ss' UTC>` all become snapshot-scoped temp
  *     views, so time travel composes with arbitrary SELECT syntax.
  *     Iceberg-seam table functions rewrite the same way:
  *     `iceberg_scan(path [, id | 'ref'])`, `iceberg_snapshots(path)`,
  *     `iceberg_stats(path)`, `iceberg_partition_stats(path)`,
  *     `rest_view(uri, ns, view)`.
  *
  * Everything routes to the EXISTING copy-on-write machinery — the
  * parser only extracts (table, condition, clause) and hands Catalyst
  * the condition text via `expr`, so SQL-issued mutations are
  * byte-equal to the API calls (SqlSurfaceSpec proves it).
  *
  * Restrictions (documented, loud): MERGE clause conditions reference
  * target columns via the target alias and source columns via the
  * source alias (rewritten to the merge API's `src_` convention);
  * matched DELETE is evaluated before matched UPDATE (the clause
  * precedence of [[LogTable.merge]]); `UPDATE SET *` / `INSERT *` are
  * the only matched-update/insert forms (the merge replaces whole
  * rows). Unsupported shapes throw IllegalArgumentException — never a
  * silent misparse into a different statement.
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

  /** Register `table` under a SQL name: the current snapshot becomes
    * view `<name>` plus `<name>_history` / `<name>_files` /
    * `<name>_partitions` metadata views, and the name becomes a valid
    * DML target for [[exec]]. */
  def register(name: String, table: LogTable): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid table name '$name'")
    registry.put(name, table)
    table.registerViews(name)
  }

  /** Forget a registered name (views stay until the session drops them). */
  def unregister(name: String): Unit = registry.remove(name)

  /** The LogTable behind a registered name (error if absent). */
  def table(name: String): LogTable = {
    val t = registry.get(name)
    require(t != null, s"no registered LogTable '$name' (register(name, table) first)")
    t
  }

  /** Execute one statement. DML / CALL return a one-row summary frame
    * (version, operation, n_files, total_rows); queries return their
    * result. Statements are routed by their first keyword; only
    * registered tables are valid mutation targets. */
  def exec(spark: SparkSession, sql: String): DataFrame = {
    val stmt = sql.trim.stripSuffix(";").trim
    val head = stmt.takeWhile(!_.isWhitespace).toUpperCase
    head match {
      case "CREATE" => execCreate(spark, stmt)
      case "DROP" => execDrop(spark, stmt)
      case "INSERT" => execInsert(spark, stmt)
      case "UPDATE" => execUpdate(spark, stmt)
      case "DELETE" => execDelete(spark, stmt)
      case "MERGE" => execMerge(spark, stmt)
      case "ALTER" => execAlter(spark, stmt)
      case "CALL" => execCall(spark, stmt)
      case _ =>
        // the catalog's first query (`SELECT COUNT(*) FROM api`,
        // reference README.md:128) answers from MANIFEST ARITHMETIC —
        // zero data files opened, zero Spark jobs; at 100 TB this is
        // O(manifest) vs a full scan
        metaCount(spark, stmt) match {
          case Some(df) => df
          case None =>
            // query path: refresh each registered table's data view to
            // the CURRENT snapshot (registration-time views would hide
            // commits that happened since), then rewrite time travel
            refreshViews()
            spark.sql(rewriteTimeTravel(spark, stmt))
        }
    }
  }

  private val CountRe =
    """(?is)^SELECT\s+COUNT\(\s*\*\s*\)(?:\s+AS\s+(\w+))?\s+FROM\s+(\w+)$""".r

  /** Metadata fast path for the exact `SELECT COUNT(*) FROM <t>`
    * shape over a registered table ([[LogTable.countMeta]]); the
    * result is column-named exactly as spark.sql would name it
    * (`count(1)`, or the alias), so callers cannot tell the fast path
    * from the scan — except by its speed. Any other query shape (or
    * an unregistered name) falls through to the real scan. */
  private def metaCount(spark: SparkSession, stmt: String): Option[DataFrame] =
    stmt match {
      case CountRe(alias, name) if registry.containsKey(name) &&
          table(name).snapshot().eqDeletes.isEmpty =>
        // (outstanding equality deletes make the manifest count
        // unknowable — fall through to the real scan)
        import spark.implicits._
        val colName = Option(alias).getOrElse("count(1)")
        Some(Seq(table(name).countMeta()).toDF(colName))
      case _ => None
    }

  /** Point every registered table's data view at its current snapshot. */
  private def refreshViews(): Unit = {
    registry.forEach((name, t) => t.read().createOrReplaceTempView(name))
    mvRegistry.forEach((name, v) => v.read().createOrReplaceTempView(name))
  }

  // ------------------------------------------------------------------- DDL

  /** `CREATE TABLE [IF NOT EXISTS] <name> (col TYPE, ...)
    * [PARTITIONED BY (specs)]` — the whole lifecycle starts in SQL,
    * like the reference's init-setup.py:159-173: the declared schema
    * commits as table metadata (appends validate against it from the
    * first row), partition specs accept Iceberg-style hidden
    * transforms, and the new table registers for DML immediately. */
  private def execCreate(spark: SparkSession, stmt: String): DataFrame = {
    CreateMvRe.findFirstMatchIn(stmt) match {
      case Some(m) => return execCreateMv(spark, m)
      case None =>
    }
    val head = """(?is)^CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(\w+)\s*\(""".r
      .findFirstMatchIn(stmt).getOrElse(throw new IllegalArgumentException(
        s"unsupported CREATE shape: $stmt (expected CREATE TABLE [IF NOT " +
          "EXISTS] <name> (col TYPE, ...) [PARTITIONED BY (...)], or " +
          "CREATE MATERIALIZED VIEW [IF NOT EXISTS] <name> AS SELECT ... " +
          "FROM <table> GROUP BY ...)"))
    val ifNotExists = head.group(1) != null
    val name = head.group(2)
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid table name '$name'")
    // balanced-paren scan: column types themselves carry parens
    // (DECIMAL(12,2)), so a regex cannot find the list's close
    val open = head.end - 1
    var depth = 0; var i = open; var close = -1
    while (i < stmt.length && close < 0) {
      stmt.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    require(close > open, s"unbalanced column list in: $stmt")
    val colsDdl = stmt.substring(open + 1, close).trim
    val rest = stmt.substring(close + 1).trim
    val (partCols, transforms) =
      if (rest.isEmpty) (Seq.empty[String], Seq.empty[Transform])
      else {
        val pm = """(?is)^PARTITIONED\s+BY\s*\((.+)\)$""".r.findFirstMatchIn(rest)
          .getOrElse(throw new IllegalArgumentException(
            s"unsupported CREATE TABLE tail: '$rest'"))
        parsePartitionSpecs(pm.group(1))
      }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(colsDdl)
    val wh = warehousePath.getOrElse(throw new IllegalStateException(
      "no warehouse configured: GraftSql.setWarehouse(path) before CREATE TABLE"))
    val root = java.nio.file.Paths.get(wh).resolve(name).toString
    val exists = registry.containsKey(name) ||
      java.nio.file.Files.exists(java.nio.file.Paths.get(root))
    if (exists) {
      require(ifNotExists, s"table '$name' already exists (at $root)")
      if (!registry.containsKey(name)) register(name, LogTable(spark, root))
      return summarize(spark, name, table(name).snapshot())
    }
    val t = LogTable(spark, root, partitionBy = partCols, hiddenBy = transforms)
    val snap = t.declareSchema(schema)
    register(name, t)
    summarize(spark, name, snap)
  }

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
  private def execCreateMv(spark: SparkSession,
      m: scala.util.matching.Regex.Match): DataFrame = {
    val ifNotExists = m.group(1) != null
    val name = m.group(2)
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid view name '$name'")
    val baseT = table(m.group(4))
    val keys = scala.collection.mutable.ListBuffer[String]()
    val aggs = scala.collection.mutable.ListBuffer[MvAgg]()
    val AggItem = ("""(?is)^(count|sum|min|max|avg|approx_count_distinct)""" +
      """\s*\(\s*(.+?)\s*\)\s+AS\s+(\w+)$""").r
    splitTopLevel(m.group(3), ',').map(_.trim).filter(_.nonEmpty).foreach {
      case AggItem(fn, arg, alias) => fn.toLowerCase match {
        case "count" =>
          require(arg.trim == "*" || arg.trim == "1",
            s"only count(*) is incrementally mergeable; got count($arg)")
          aggs += MvAgg.Count(alias)
        case "sum" => aggs += MvAgg.Sum(alias, org.apache.spark.sql.functions.expr(arg))
        case "min" => aggs += MvAgg.Min(alias, org.apache.spark.sql.functions.expr(arg))
        case "max" => aggs += MvAgg.Max(alias, org.apache.spark.sql.functions.expr(arg))
        // avg stores fused sum+count state, approx_count_distinct an
        // HLL sketch — both merge; readers see ratio / estimate
        case "avg" => aggs += MvAgg.Avg(alias, org.apache.spark.sql.functions.expr(arg))
        case "approx_count_distinct" =>
          aggs += MvAgg.ApproxDistinct(alias, org.apache.spark.sql.functions.expr(arg))
      }
      case c if c.matches("\\w+") => keys += c
      case other => throw new IllegalArgumentException(
        s"unsupported select item '$other' in CREATE MATERIALIZED VIEW " +
          "(supported: group-key columns, and count(*)/sum(e)/min(e)/" +
          "max(e)/avg(e)/approx_count_distinct(e) AS alias)")
    }
    val gkeys = splitTopLevel(m.group(5), ',').map(_.trim).filter(_.nonEmpty)
    require(gkeys.forall(_.matches("\\w+")),
      s"GROUP BY must list bare column names; got '${m.group(5).trim}'")
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
    mv.read().createOrReplaceTempView(name)
    summarizeMv(spark, name)
  }

  private def summarizeMv(spark: SparkSession, name: String): DataFrame = {
    val mv = mview(name)
    mv.read().createOrReplaceTempView(name)
    val snap = mv.table.snapshot()
    import spark.implicits._
    Seq((snap.version, snap.operation, snap.files.size.toLong, snap.totalRows))
      .toDF("version", "operation", "n_files", "total_rows")
  }

  /** Partition specs: Iceberg transform DDL (`day(c)`, `hour(c)`,
    * `truncate(n, c)`, `bucket(n, c)`) become hidden transforms; bare
    * names become hive-style identity partition columns. */
  private[sources] def parsePartitionSpecs(specs: String): (Seq[String], Seq[Transform]) = {
    val plain = scala.collection.mutable.ListBuffer[String]()
    val trans = scala.collection.mutable.ListBuffer[Transform]()
    val OneArg = """(?i)^(day|hour|year|month)\s*\(\s*(\w+)\s*\)$""".r
    val TwoArg = """(?i)^(bucket|mbucket|xxbucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)$""".r
    splitTopLevel(specs, ',').map(_.trim).filter(_.nonEmpty).foreach {
      case OneArg(kind, c) =>
        trans += (kind.toLowerCase match {
          case "day" => Transform.day(c)
          case "hour" => Transform.hour(c)
          case "year" => Transform.year(c)
          case _ => Transform.month(c)
        })
      case TwoArg(kind, n, c) =>
        // `bucket` on the SQL surfaces IS the Iceberg-spec murmur3
        // bucket (what a user of the reference's ecosystem means by
        // bucket DDL — SPJ-reportable and Iceberg-exportable);
        // `xxbucket` names the legacy xxhash64 kind explicitly
        trans += (if (kind.equalsIgnoreCase("xxbucket")) Transform.bucket(n.toInt, c)
          else if (kind.equalsIgnoreCase("truncate")) Transform.truncate(n.toLong, c)
          else Transform.mbucket(n.toInt, c))
      case c if c.matches("\\w+") => plain += c
      case other => throw new IllegalArgumentException(
        s"unsupported partition spec '$other' (supported: day(c), hour(c), " +
          "year(c), month(c), truncate(n, c), bucket(n, c), or a bare " +
          "column name)")
    }
    (plain.toSeq, trans.toSeq)
  }

  private val DropRe =
    """(?is)^DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?(\w+)$""".r

  private val DropMvRe =
    """(?is)^DROP\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?(\w+)$""".r

  /** `DROP MATERIALIZED VIEW [IF EXISTS] v`: unregister, drop the SQL
    * view, delete the state directory (PURGE, as DROP TABLE). */
  private def execDropMv(spark: SparkSession, ifExists: String,
      name: String): DataFrame = {
    val v = mvRegistry.remove(name)
    val root = Option(v).map(_.table.root).orElse(
      warehousePath.map(w => java.nio.file.Paths.get(w).resolve(name).toString)
        .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    require(root.nonEmpty || ifExists != null,
      s"no such materialized view '$name'")
    spark.catalog.dropTempView(name)
    root.foreach(r => LogTable.deleteRecursively(java.nio.file.Paths.get(r)))
    import spark.implicits._
    Seq((0L, "drop-materialized-view", 0L, 0L))
      .toDF("version", "operation", "n_files", "total_rows")
  }

  /** `DROP TABLE [IF EXISTS] t`: unregister, drop the SQL views, and
    * DELETE the table directory — PURGE semantics (with no shared
    * catalog there is nowhere to keep a tombstone; time travel dies
    * with the manifests, exactly like Iceberg's DROP TABLE PURGE). */
  private def execDrop(spark: SparkSession, stmt: String): DataFrame =
    stmt match {
      case DropMvRe(ifExists, name) => execDropMv(spark, ifExists, name)
      case DropRe(ifExists, name) =>
        val t = registry.get(name)
        val root = Option(t).map(_.root).orElse(
          warehousePath.map(w => java.nio.file.Paths.get(w).resolve(name).toString)
            .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
        require(root.nonEmpty || ifExists != null,
          s"no such table '$name' (neither registered nor under the warehouse)")
        unregister(name)
        Seq("", "_history", "_files", "_partitions", "_deletes")
          .foreach(s => spark.catalog.dropTempView(s"$name$s"))
        root.foreach(r => LogTable.deleteRecursively(java.nio.file.Paths.get(r)))
        import spark.implicits._
        Seq((0L, "drop-table", 0L, 0L))
          .toDF("version", "operation", "n_files", "total_rows")
      case _ => throw new IllegalArgumentException(
        s"unsupported DROP shape: $stmt (expected DROP TABLE [IF EXISTS] <name>)")
    }

  // ------------------------------------------------------------- statements

  private val InsertRe =
    """(?is)^INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\))?\s*(.+)$""".r

  private def execInsert(spark: SparkSession, stmt: String): DataFrame =
    stmt match {
      case InsertRe(name, colList, query) =>
        val t = table(name)
        // the query may read another registered table — see its
        // current snapshot, not the registration-time view
        refreshViews()
        val df = spark.sql(query.trim)
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

  private val UpdateRe =
    """(?is)^UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$""".r

  private def execUpdate(spark: SparkSession, stmt: String): DataFrame =
    stmt match {
      case UpdateRe(name, setPart, wherePart) =>
        val t = table(name)
        val sets = splitTopLevel(setPart, ',').map { a =>
          val i = a.indexOf('=')
          require(i > 0, s"malformed SET assignment '$a'")
          val k = a.substring(0, i).trim
          require(k.matches("[A-Za-z_][A-Za-z0-9_]*"), s"malformed SET column '$k'")
          k -> expr(a.substring(i + 1).trim)
        }.toMap
        val cond = Option(wherePart).map(w => expr(w.trim)).getOrElse(lit(true))
        summarize(spark, name, t.update(cond, sets))
      case _ => throw new IllegalArgumentException(
        s"unsupported UPDATE shape: $stmt (expected UPDATE <table> SET c = e, ... [WHERE p])")
    }

  private val DeleteRe =
    """(?is)^DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+))?$""".r

  private def execDelete(spark: SparkSession, stmt: String): DataFrame =
    stmt match {
      case DeleteRe(name, wherePart) =>
        val t = table(name)
        val cond = Option(wherePart).map(w => expr(w.trim)).getOrElse(lit(true))
        summarize(spark, name, t.delete(cond))
      case _ => throw new IllegalArgumentException(
        s"unsupported DELETE shape: $stmt (expected DELETE FROM <table> [WHERE p])")
    }

  // ------------------------------------------------------------------ MERGE

  private def execMerge(spark: SparkSession, stmt: String): DataFrame = {
    val p = new MergeParser(stmt)
    val name = p.target
    val t = table(name)
    refreshViews() // the USING source may read a registered table
    val sourceDf = spark.sql(p.sourceQuery)

    // clause conditions arrive alias-qualified; the merge API wants
    // target columns bare and source columns src_-prefixed
    def xlate(cond: String): Column = expr(
      cond.replaceAll(s"(?i)\\b${java.util.regex.Pattern.quote(p.sourceAlias)}\\.(\\w+)", "src_$1")
        .replaceAll(s"(?i)\\b${java.util.regex.Pattern.quote(p.targetAlias)}\\.(\\w+)", "$1"))
    // NMBS conditions see only the target row — no src_ rewrite to do,
    // but a source-alias reference there is a user error; fail loudly
    def xlateTargetOnly(cond: String): Column = {
      require(!cond.matches(s"(?is).*\\b${java.util.regex.Pattern.quote(p.sourceAlias)}\\..*"),
        s"NOT MATCHED BY SOURCE condition cannot reference the source ($cond)")
      expr(cond.replaceAll(
        s"(?i)\\b${java.util.regex.Pattern.quote(p.targetAlias)}\\.(\\w+)", "$1"))
    }

    val matchedUpdateWhen: Option[Column] = p.updateWhen match {
      case None if p.hasUpdate => None                // unconditional SET *
      case None => Some(lit(false))                   // no update clause at all
      case Some(c) => Some(xlate(c))
    }
    val matchedDeleteWhen: Option[Column] =
      if (!p.hasDelete) None
      else Some(p.deleteWhen.map(xlate).getOrElse(lit(true)))
    val nmbsDelete: Option[Column] =
      if (!p.hasNmbsDelete) None
      else Some(p.nmbsWhen.map(xlateTargetOnly).getOrElse(lit(true)))

    // column-level SET assignments evaluate over the matched pair —
    // same alias translation as clause conditions (target bare,
    // source as src_<name>)
    val matchedSet: Option[Map[String, Column]] =
      p.updateSets.map(_.map { case (k, e) => k -> xlate(e) }.toMap)
    // INSERT VALUES expressions see only the SOURCE row: source-alias
    // refs become bare source columns; a target ref is a user error
    def xlateSourceOnly(e: String): Column = {
      require(!e.matches(s"(?is).*\\b${java.util.regex.Pattern.quote(p.targetAlias)}\\..*"),
        s"INSERT VALUES expressions see only the source row ($e)")
      expr(e.replaceAll(
        s"(?i)\\b${java.util.regex.Pattern.quote(p.sourceAlias)}\\.(\\w+)", "$1"))
    }
    val insertValues: Option[Map[String, Column]] =
      p.insertSpec.map(_.map { case (c, e) => c -> xlateSourceOnly(e) }.toMap)

    // Without WHEN NOT MATCHED THEN INSERT, unmatched source rows must
    // NOT be inserted — the merge API always inserts, so pre-filter the
    // source to keys that exist in the target (left_semi, one pass).
    val source =
      if (p.hasInsert) sourceDf
      else sourceDf.join(t.read().select(col(p.key)), Seq(p.key), "left_semi")

    summarize(spark, name, t.merge(source, p.key,
      matchedUpdateWhen = matchedUpdateWhen,
      matchedDeleteWhen = matchedDeleteWhen,
      notMatchedBySourceDelete = nmbsDelete,
      matchedSet = matchedSet,
      insertValues = insertValues))
  }

  /** Hand-rolled MERGE tokenizer: regexes cannot balance the source
    * subquery's parentheses, so the statement is walked once —
    * target [alias], USING source [alias], ON key equality, then the
    * WHEN-clause list. Every unsupported shape throws with the
    * offending fragment. */
  private final class MergeParser(stmt: String) {
    // NOTE: Scala initializes fields in declaration order — _target /
    // _targetAlias must be declared BEFORE the `rest` initializer that
    // assigns them, or their `= _` default would null them back out.
    private var _target: String = _
    private var _targetAlias: String = _
    private var rest = {
      val m = """(?is)^MERGE\s+INTO\s+(\w+)(?:\s+AS)?(?:\s+(\w+))?\s+USING\s+""".r
        .findFirstMatchIn(stmt)
        .getOrElse(throw new IllegalArgumentException(
          s"unsupported MERGE shape: $stmt (expected MERGE INTO <table> [alias] USING ...)"))
      _target = m.group(1)
      _targetAlias = Option(m.group(2)).getOrElse(m.group(1))
      stmt.substring(m.end)
    }
    def target: String = _target
    def targetAlias: String = _targetAlias

    // --- source: (subquery) | view-name, then required alias
    val sourceQuery: String = {
      val s = rest.trim
      if (s.startsWith("(")) {
        var depth = 0; var i = 0; var end = -1
        while (i < s.length && end < 0) {
          s.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) end = i
            case _ =>
          }
          i += 1
        }
        require(end > 0, s"unbalanced parentheses in MERGE source: $s")
        val q = s.substring(1, end).trim
        rest = s.substring(end + 1)
        q
      } else {
        val m = """(?s)^(\w+)""".r.findFirstMatchIn(s).getOrElse(
          throw new IllegalArgumentException(s"cannot parse MERGE source from: $s"))
        rest = s.substring(m.end)
        s"SELECT * FROM ${m.group(1)}"
      }
    }
    val sourceAlias: String = {
      val m = """(?is)^\s*(?:AS\s+)?(\w+)\s+ON\s+""".r.findFirstMatchIn(rest)
        .getOrElse(throw new IllegalArgumentException(
          "MERGE needs a source alias and an ON clause: USING <src> <alias> ON ..."))
      require(!m.group(1).equalsIgnoreCase("ON"),
        "MERGE source needs an explicit alias (USING <src> <alias> ON ...)")
      rest = rest.substring(m.end)
      m.group(1)
    }

    // --- ON <a>.<k> = <b>.<k>: single-key equality, both sides the same
    // column name (the key-based contract of LogTable.merge)
    val key: String = {
      val upTo = rest.toUpperCase.indexOf("WHEN ")
      require(upTo > 0, "MERGE needs at least one WHEN clause")
      val on = rest.substring(0, upTo).trim
      rest = rest.substring(upTo)
      val OnRe = """(?is)^(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)$""".r
      on match {
        case OnRe(a1, c1, a2, c2) =>
          require(c1.equalsIgnoreCase(c2),
            s"MERGE ON must equate the SAME key column on both sides (got $c1 / $c2)")
          val aliases = Set(a1.toLowerCase, a2.toLowerCase)
          require(aliases == Set(_targetAlias.toLowerCase, sourceAlias.toLowerCase),
            s"MERGE ON must reference the target and source aliases (got $on)")
          c1
        case _ => throw new IllegalArgumentException(
          s"unsupported MERGE ON condition: '$on' (expected <t>.<key> = <s>.<key>)")
      }
    }

    // --- WHEN clauses
    var hasUpdate = false; var updateWhen: Option[String] = None
    /** Column-level `UPDATE SET c = e, ...` assignments (None = `SET *`
      * whole-row replace). */
    var updateSets: Option[Seq[(String, String)]] = None
    var hasDelete = false; var deleteWhen: Option[String] = None
    var hasInsert = false
    /** Column-level `INSERT (cols) VALUES (exprs)` (None = `INSERT *`). */
    var insertSpec: Option[Seq[(String, String)]] = None
    var hasNmbsDelete = false; var nmbsWhen: Option[String] = None
    locally {
      // split on each WHEN keyword (clause bodies cannot contain WHEN —
      // conditions with a nested CASE WHEN are out of scope, loudly)
      val clauses = """(?i)\bWHEN\b""".r.split(rest).map(_.trim).filter(_.nonEmpty)
      val MatchedUp = """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+(.+)$""".r
      val MatchedDel = """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE$""".r
      val NotMatched = """(?is)^NOT\s+MATCHED\s+THEN\s+INSERT\s+(.+)$""".r
      val Nmbs = """(?is)^NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE$""".r
      val InsCols = """(?is)^\(\s*([^)]*?)\s*\)\s*VALUES\s*\((.*)\)$""".r
      clauses.foreach {
        case MatchedUp(c, sets) =>
          require(!hasUpdate, "at most one WHEN MATCHED ... UPDATE clause")
          hasUpdate = true; updateWhen = Option(c).map(_.trim)
          val s = sets.trim
          if (s != "*") {
            updateSets = Some(splitTopLevel(s, ',').map { a =>
              val i = a.indexOf('=')
              require(i > 0, s"malformed MERGE SET assignment '$a'")
              val k = a.substring(0, i).trim
              // alias-qualified LHS (t.col) binds to the target column
              val bare = k.split("\\.").last
              require(bare.matches("[A-Za-z_][A-Za-z0-9_]*"),
                s"malformed MERGE SET column '$k'")
              bare -> a.substring(i + 1).trim
            })
          }
        case MatchedDel(c) =>
          require(!hasDelete, "at most one WHEN MATCHED ... DELETE clause")
          hasDelete = true; deleteWhen = Option(c).map(_.trim)
        case NotMatched(ins) =>
          require(!hasInsert, "at most one WHEN NOT MATCHED ... INSERT clause")
          hasInsert = true
          val s = ins.trim
          if (s != "*") s match {
            case InsCols(colList, valList) =>
              val cs = colList.split(",").map(_.trim).filter(_.nonEmpty)
                .map(_.split("\\.").last).toSeq
              val vs = splitTopLevel(valList, ',').map(_.trim)
              require(cs.nonEmpty && cs.size == vs.size,
                s"INSERT column list has ${cs.size} names but ${vs.size} values")
              require(cs.map(_.toLowerCase).distinct.size == cs.size,
                s"duplicate column in INSERT list: ${cs.mkString(", ")}")
              insertSpec = Some(cs.zip(vs))
            case other => throw new IllegalArgumentException(
              s"unsupported MERGE INSERT shape: INSERT $other (supported: " +
                "INSERT * | INSERT (cols) VALUES (exprs))")
          }
        case Nmbs(c) =>
          require(!hasNmbsDelete, "at most one NOT MATCHED BY SOURCE clause")
          hasNmbsDelete = true; nmbsWhen = Option(c).map(_.trim)
        case other => throw new IllegalArgumentException(
          s"unsupported MERGE clause: WHEN $other (supported: MATCHED [AND c] THEN " +
            "UPDATE SET * | SET c = e, ... | DELETE; NOT MATCHED THEN INSERT * | " +
            "INSERT (cols) VALUES (...); NOT MATCHED BY SOURCE [AND c] THEN DELETE)")
      }
      require(hasUpdate || hasDelete || hasInsert || hasNmbsDelete,
        "MERGE needs at least one WHEN clause")
    }
  }

  // ------------------------------------------------------------------ ALTER

  // column groups take DOTTED paths: add/drop/retype/rename route to
  // the struct-field evolution DDL (top-level names delegate back)
  private val AlterRenameRe =
    """(?is)^ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+([\w.]+)\s+TO\s+(\w+)$""".r
  private val AlterDropRe =
    """(?is)^ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+([\w.]+)$""".r
  private val AlterTypeRe =
    """(?is)^ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+([\w.]+)\s+TYPE\s+(\w+)$""".r
  private val AlterAddRe =
    """(?is)^ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+([\w.]+)\s+([\w()\s,]+?)$""".r

  private val AlterSetPropsRe =
    """(?is)^ALTER\s+TABLE\s+(\w+)\s+SET\s+TBLPROPERTIES\s*\((.+)\)$""".r
  private val AlterUnsetPropsRe =
    """(?is)^ALTER\s+TABLE\s+(\w+)\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)$""".r

  private def unquote(s: String): String = {
    val t = s.trim
    if ((t.startsWith("'") && t.endsWith("'")) ||
        (t.startsWith("\"") && t.endsWith("\"")))
      t.substring(1, t.length - 1)
    else t
  }

  private def execAlter(spark: SparkSession, stmt: String): DataFrame =
    stmt match {
      case AlterSetPropsRe(name, kvList) =>
        val kvs = splitTopLevel(kvList, ',').map(_.trim).filter(_.nonEmpty)
          .map { kv =>
            val cut = kv.indexOf('=')
            require(cut > 0, s"expected 'key' = 'value' in TBLPROPERTIES, got '$kv'")
            unquote(kv.substring(0, cut)) -> unquote(kv.substring(cut + 1))
          }.toMap
        summarize(spark, name, table(name).setProperties(kvs))
      case AlterUnsetPropsRe(name, keyList) =>
        val keys = splitTopLevel(keyList, ',').map(_.trim).filter(_.nonEmpty)
          .map(unquote)
        summarize(spark, name, table(name).unsetProperties(keys))
      case AlterRenameRe(name, from, to) =>
        summarize(spark, name, table(name).renameField(from, to))
      case AlterDropRe(name, colName) =>
        summarize(spark, name, table(name).dropField(colName))
      case AlterTypeRe(name, colName, tpe) =>
        val dt = org.apache.spark.sql.types.StructType
          .fromDDL(s"x $tpe").head.dataType
        summarize(spark, name, table(name).widenField(colName, dt))
      case AlterAddRe(name, colName, tpe) =>
        val dt = org.apache.spark.sql.types.StructType
          .fromDDL(s"x $tpe").head.dataType
        summarize(spark, name, table(name).addField(colName, dt))
      case _ => throw new IllegalArgumentException(
        s"unsupported ALTER shape: $stmt (expected ALTER TABLE <t> ADD COLUMN " +
          "<c> <type> | RENAME COLUMN <a> TO <b> | DROP COLUMN <a> | " +
          "ALTER COLUMN <c> TYPE <t> | SET TBLPROPERTIES ('k'='v', ...) | " +
          "UNSET TBLPROPERTIES ('k', ...))")
    }

  // ------------------------------------------------------------------- CALL

  private val CallRe = """(?is)^CALL\s+(\w+)\s*\((.*)\)$""".r

  private def execCall(spark: SparkSession, stmt: String): DataFrame =
    stmt match {
      case CallRe(proc, argStr) =>
        val args = splitTopLevel(argStr, ',').map(_.trim).filter(_.nonEmpty)
          .map(a => if ((a.startsWith("'") && a.endsWith("'")) ||
            (a.startsWith("\"") && a.endsWith("\""))) a.substring(1, a.length - 1) else a)
        def t = table(args.head)
        // materialized-view procedures target the MV registry, not a
        // table; summarized over the view's own state snapshot
        proc.toLowerCase match {
          case "refresh_mv" =>
            mview(args.head).refreshOrFull()
            return summarizeMv(spark, args.head)
          case "refresh_mv_full" =>
            mview(args.head).fullRefresh()
            return summarizeMv(spark, args.head)
          case _ =>
        }
        val snap = proc.toLowerCase match {
          // CALL compact(t [, '<part-col>', '<value>']) — the scoped
          // form is Delta's OPTIMIZE ... WHERE: maintenance bounded to
          // one partition's files
          case "compact" =>
            if (args.length >= 3)
              t.compact(where = Some(p => p.get(args(1)).contains(args(2))))
            else t.compact()
          case "expire" => t.expire(keepLast = args(1).toInt)
          // branch-scoped retention: CALL expire_branch(t, '<branch>',
          // <keep_last>) — a busy WAP branch accumulates a snapshot
          // per audited batch; this drops its old intermediates while
          // the fork-point base (and main's lineage) stay intact
          case "expire_branch" =>
            t.branch(args(1)).expire(keepLast = args(2).toInt)
          case "expire_older_than" =>
            t.expireOlderThan(args(1).toLong,
              keepLast = if (args.length > 2) args(2).toInt else 1)
          case "rollback" => t.rollback(args(1).toLong)
          // CALL clone(t, '<dest-path>' [, <version>]) — shallow clone:
          // zero-copy snapshot table at dest (see LogTable.cloneTo)
          case "clone" =>
            val c = t.cloneTo(args(1),
              if (args.length > 2) args(2).toLong else t.currentVersion)
            c.snapshot()
          // CALL remove_orphans(t [, 'dry_run']) — the dry-run form
          // reports what the sweep WOULD reclaim, touching nothing
          case "remove_orphans" =>
            t.removeOrphans(dryRun =
              args.length > 1 && args(1).equalsIgnoreCase("dry_run"))
            t.snapshot()
          // merge-on-read delete: CALL delete_mor(t, '<predicate>') —
          // the SQL route to position deletes (plain DELETE stays COW,
          // the bulk-delete default; this is the frequent-small-delete
          // path, folded later by CALL compact)
          case "delete_mor" => t.deleteMor(expr(args(1)))
          // merge-on-read upsert: CALL merge_mor(t, <key>, '<source
          // query>') — position-marks matched rows + appends the batch
          // (plain MERGE stays COW; this is the frequent-small-upsert
          // path, folded later by CALL compact)
          case "merge_mor" =>
            refreshViews()
            t.mergeMor(spark.sql(args(2)), args(1))
          // equality delete: CALL delete_eq(t, '<keys query>') — key
          // tombstones with ZERO table I/O (the CDC shape; deleteMor
          // scans to find positions, this does not)
          case "delete_eq" =>
            refreshViews()
            t.deleteEq(spark.sql(args(1)))
          // equality upsert: CALL upsert_eq(t, <key>, '<source query>')
          // — tombstone + append in one commit, O(source)
          case "upsert_eq" =>
            refreshViews()
            t.upsertEq(spark.sql(args(2)), args(1))
          case "recluster" => t.recluster(args(1), args(2).toInt)
          // CALL set_sort_order(t, 'c1,c2') — declared write sort
          // order; '' clears
          case "set_sort_order" => t.setSortOrder(
            if (args.length > 1)
              args(1).split(",").map(_.trim).toSeq.filter(_.nonEmpty)
            else Nil)
          // CALL analyze(t [, 'c1,c2...']) — NDV stats for the CBO
          case "analyze" => t.analyze(
            if (args.length > 1)
              args(1).split(",").map(_.trim).toSeq.filter(_.nonEmpty)
            else Nil)
          // CALL recluster_z(t, 'c1,c2[,c3...]', n)
          case "recluster_z" => t.reclusterZ(
            args(1).split(",").map(_.trim).toSeq.filter(_.nonEmpty),
            args(2).toInt)
          case "create_ref" =>
            t.createRef(args(1),
              if (args.length > 2) args(2).toLong else t.currentVersion)
            t.snapshot()
          case "create_branch" => { t.createBranch(args(1)); t.snapshot() }
          case "fast_forward" => t.fastForward(args(1))
          // partition-spec evolution: CALL evolve_spec(t, 'day(ts_us),
          // kind') — same spec grammar as CREATE TABLE PARTITIONED BY;
          // empty spec un-partitions. Old files keep their layout
          // (conservatively scanned); the registry takes the fresh
          // handle so later statements write the NEW layout.
          case "evolve_spec" =>
            val (pc, tf) =
              if (args.length > 1 && args(1).trim.nonEmpty)
                parsePartitionSpecs(args(1))
              else (Nil, Nil)
            val evolved = t.evolveSpec(pc, tf)
            register(args.head, evolved)
            evolved.snapshot()
          // CALL export_iceberg(t, '<dest-path>' [, 'history']) — REAL
          // Iceberg v2 metadata at dest ([[IcebergExport]]); the
          // 'history' form exports every live snapshot
          // (foreign time travel); untranslatable states refuse there
          case "export_iceberg" =>
            IcebergExport.export(t, args(1),
              history = args.length > 2 && args(2).equalsIgnoreCase("history"))
            t.snapshot()
          // CALL export_statistics(t, '<dest-path>') — Puffin NDV
          // statistics for the CURRENT snapshot of an already-exported
          // table ([[IcebergStatistics]]; the compute_table_stats
          // maintenance pass — refuses when the export lags the table)
          case "export_statistics" =>
            IcebergStatistics.exportStatistics(t, args(1))
            t.snapshot()
          // CALL import_iceberg(newName, '<src-path>') — adopt an
          // Iceberg v2 table as a graft table under the warehouse and
          // register it ([[IcebergImport]]; zero-copy, files borrowed
          // in place)
          case "import_iceberg" =>
            val wh = warehousePath.getOrElse(throw new IllegalStateException(
              "no warehouse configured: GraftSql.setWarehouse(path) " +
                "before import_iceberg"))
            val root = java.nio.file.Paths.get(wh).resolve(args.head).toString
            require(!registry.containsKey(args.head) &&
              !java.nio.file.Files.exists(java.nio.file.Paths.get(root)),
              s"table '${args.head}' already exists (at $root)")
            val imp = IcebergImport.importTable(spark, args(1), root)
            register(args.head, imp)
            imp.snapshot()
          case other => throw new IllegalArgumentException(
            s"unknown procedure '$other' (supported: analyze, compact, " +
              "expire, expire_branch, expire_older_than, rollback, " +
              "remove_orphans, delete_mor, merge_mor, delete_eq, " +
              "upsert_eq, recluster, create_ref, create_branch, " +
              "fast_forward, evolve_spec, clone, export_iceberg, " +
              "export_statistics, import_iceberg, refresh_mv, " +
              "refresh_mv_full)")
        }
        summarize(spark, args.head, snap)
      case _ => throw new IllegalArgumentException(
        s"unsupported CALL shape: $stmt (expected CALL <proc>(<table>, ...))")
    }

  // ------------------------------------------------------------ time travel

  /** Rewrite time-travel references into snapshot-scoped temp views:
    * `t@v3` / `t@<ref-or-branch>` / `t VERSION AS OF 3` /
    * `t TIMESTAMP AS OF <epoch-ms | 'yyyy-MM-dd HH:mm:ss'>` (UTC).
    * Only registered table names rewrite; anything else passes through
    * untouched. Replacement is by MATCH SPAN, and a match STARTING
    * inside a single-quoted string literal is data, never a table
    * reference — `WHERE note = 'see t@v1'` survives byte-identical
    * (a `TIMESTAMP AS OF '...'` match starts outside its literal and
    * legitimately spans into it). */
  private def rewriteTimeTravel(spark: SparkSession, stmt: String): String = {
    val lits = literalSpans(stmt)
    def inLiteral(i: Int): Boolean = lits.exists(r => i >= r._1 && i < r._2)
    val repls = scala.collection.mutable.ListBuffer[(Int, Int, String)]()
    def bind(start: Int, end: Int, token: String, name: String,
        df: => DataFrame): Unit =
      if (!inLiteral(start) && registry.containsKey(name)) {
        val view = s"${name}__at_" +
          java.lang.Integer.toHexString(token.hashCode).replace('-', 'n')
        df.createOrReplaceTempView(view)
        repls += ((start, end, view))
      }
    // t@v3 | t@name  (version / ref / branch)
    for (m <- """(\w+)@(v(\d+)|[A-Za-z0-9._-]+)""".r.findAllMatchIn(stmt)) {
      val (name, suffix) = (m.group(1), m.group(2))
      bind(m.start, m.end, m.matched, name, {
        val t = table(name)
        if (suffix.matches("v\\d+")) t.timeTravel(suffix.substring(1).toLong)
        else if (t.refs.exists(_._1 == suffix)) t.readRef(suffix)
        else if (t.branches.contains(suffix)) t.branch(suffix).read()
        else throw new IllegalArgumentException(
          s"'$suffix' is neither vN, a ref, nor a branch of '$name'")
      })
    }
    // t VERSION AS OF 3
    for (m <- """(?i)(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)""".r.findAllMatchIn(stmt))
      bind(m.start, m.end, m.matched, m.group(1),
        table(m.group(1)).timeTravel(m.group(2).toLong))
    // table_changes(t, from [, to]) — the CDC changelog as a table
    // function (Delta's table_changes / Iceberg's changelog view):
    // rows + _change_type + _commit_version over (from, to]
    for (m <- """(?i)(?<![A-Za-z0-9_])table_changes\s*\(\s*(\w+)\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)"""
        .r.findAllMatchIn(stmt)) {
      val name = m.group(1)
      bind(m.start, m.end, m.matched, name, {
        val t = table(name)
        t.readCdc(m.group(2).toLong,
          Option(m.group(3)).map(_.toLong).getOrElse(t.currentVersion))
      })
    }
    // iceberg_rest_scan('<uri>', '<ns>', '<table>' [, <snapshot-id>])
    // — read a table served by an Iceberg REST catalog endpoint
    // directly in SQL: the LoadTableResult comes over HTTP, the scan
    // runs from the wire-carried metadata.
    for (m <- ("""(?i)(?<![A-Za-z0-9_])iceberg_rest_scan\s*\(\s*'([^']+)'\s*,\s*'([^']+)'""" +
        """\s*,\s*'([^']+)'\s*(?:,\s*(?:(\d+)|'([^']+)')\s*)?\)""")
        .r.findAllMatchIn(stmt))
      if (!inLiteral(m.start)) {
        val view = "iceberg_rest_scan__at_" +
          java.lang.Integer.toHexString(m.matched.hashCode).replace('-', 'n')
        IcebergRead.readRest(spark, m.group(1), m.group(2), m.group(3),
            Option(m.group(4)).map(_.toLong),
            refAsOf = Option(m.group(5)))
          .createOrReplaceTempView(view)
        repls += ((m.start, m.end, view))
      }
    // iceberg_snapshots('<path>') — the snapshot log of an Iceberg
    // table as a table function (DuckDB's convention): one row per
    // snapshot with id/timestamp/operation/manifest-list, the
    // discovery step before an iceberg_scan(path, id) time travel
    for (m <- """(?i)(?<![A-Za-z0-9_])iceberg_snapshots\s*\(\s*'([^']+)'\s*\)"""
        .r.findAllMatchIn(stmt))
      if (!inLiteral(m.start)) {
        val view = "iceberg_snapshots__at_" +
          java.lang.Integer.toHexString(m.matched.hashCode).replace('-', 'n')
        IcebergRead.snapshots(spark, m.group(1)).createOrReplaceTempView(view)
        repls += ((m.start, m.end, view))
      }
    // iceberg_stats('<path>') — the current snapshot's recorded Puffin
    // NDV statistics as (col_name, ndv) rows (empty when none)
    for (m <- """(?i)(?<![A-Za-z0-9_])iceberg_stats\s*\(\s*'([^']+)'\s*\)"""
        .r.findAllMatchIn(stmt))
      if (!inLiteral(m.start)) {
        val view = "iceberg_stats__at_" +
          java.lang.Integer.toHexString(m.matched.hashCode).replace('-', 'n')
        import spark.implicits._
        IcebergStatistics.ndvStats(m.group(1)).toSeq.sorted
          .toDF("col_name", "ndv").createOrReplaceTempView(view)
        repls += ((m.start, m.end, view))
      }
    // iceberg_partition_stats('<path>') — the current snapshot's
    // registered partition-statistics file (the spec's CBO rollup);
    // refuses when none is registered (absence is a fact)
    for (m <- """(?i)(?<![A-Za-z0-9_])iceberg_partition_stats\s*\(\s*'([^']+)'\s*\)"""
        .r.findAllMatchIn(stmt))
      if (!inLiteral(m.start)) {
        val view = "iceberg_pstats__at_" +
          java.lang.Integer.toHexString(m.matched.hashCode).replace('-', 'n')
        IcebergRead.partitionStats(spark, m.group(1))
          .createOrReplaceTempView(view)
        repls += ((m.start, m.end, view))
      }
    // rest_view('<catalog-uri>', '<namespace>', '<view>') — execute a
    // REST-catalog view's current SQL representation (dialect-gated:
    // spark only from this surface) as a table function
    for (m <- """(?i)(?<![A-Za-z0-9_])rest_view\s*\(\s*'([^']+)'\s*,\s*'([^']+)'\s*,\s*'([^']+)'\s*\)"""
        .r.findAllMatchIn(stmt))
      if (!inLiteral(m.start)) {
        val view = "rest_view__at_" +
          java.lang.Integer.toHexString(m.matched.hashCode).replace('-', 'n')
        IcebergRead.readRestView(spark, m.group(1), m.group(2), m.group(3))
          .createOrReplaceTempView(view)
        repls += ((m.start, m.end, view))
      }
    // iceberg_scan('<path>' [, <snapshot-id> | '<ref>']) — read an
    // Iceberg v2 table (an export of ours, or a foreign one within
    // the supported subset) directly in SQL: DuckDB's iceberg_scan
    // convention; a numeric second arg time-travels by snapshot id, a
    // quoted one resolves through the metadata's refs map (tags)
    for (m <- """(?i)(?<![A-Za-z0-9_])iceberg_scan\s*\(\s*'([^']+)'\s*(?:,\s*(?:(\d+)|'([^']+)')\s*)?\)"""
        .r.findAllMatchIn(stmt))
      if (!inLiteral(m.start)) {
        val view = "iceberg_scan__at_" +
          java.lang.Integer.toHexString(m.matched.hashCode).replace('-', 'n')
        val snapId = Option(m.group(2)).map(_.toLong)
          .orElse(Option(m.group(3)).map(r =>
            IcebergRead.refSnapshot(m.group(1), r)))
        IcebergRead.read(spark, m.group(1), snapId)
          .createOrReplaceTempView(view)
        repls += ((m.start, m.end, view))
      }
    // t TIMESTAMP AS OF 1704067200000 | 'yyyy-MM-dd HH:mm:ss' (UTC)
    for (m <- """(?i)(\w+)\s+TIMESTAMP\s+AS\s+OF\s+(\d+|'[^']+')""".r.findAllMatchIn(stmt)) {
      val ts = m.group(2) match {
        case q if q.startsWith("'") =>
          java.time.LocalDateTime.parse(q.substring(1, q.length - 1).replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        case n => n.toLong
      }
      bind(m.start, m.end, m.matched, m.group(1),
        table(m.group(1)).timeTravelAsOf(ts))
    }
    // apply right-to-left so earlier spans stay valid
    val sb = new StringBuilder(stmt)
    repls.sortBy(-_._1).foreach { case (s0, e0, v) => sb.replace(s0, e0, v) }
    sb.toString
  }

  /** [start, end) spans of single-quoted string literals (`''` is the
    * in-literal escape, as ANSI SQL). An unterminated literal extends
    * to end-of-statement — conservatively treated as literal. */
  private def literalSpans(s: String): Seq[(Int, Int)] = {
    val spans = scala.collection.mutable.ListBuffer[(Int, Int)]()
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\'') {
        val st = i
        i += 1
        var done = false
        while (i < s.length && !done) {
          if (s.charAt(i) == '\'') {
            if (i + 1 < s.length && s.charAt(i + 1) == '\'') i += 2
            else { done = true; i += 1 }
          } else i += 1
        }
        spans += ((st, i))
      } else i += 1
    }
    spans.toSeq
  }

  // -------------------------------------------------------------- utilities

  /** One-row result frame for DML/CALL, and the moment the registered
    * views flip to the new snapshot (a SQL user's next SELECT sees the
    * mutation, like any database). */
  private def summarize(spark: SparkSession, name: String, snap: Snapshot): DataFrame = {
    registry.get(name).registerViews(name)
    import spark.implicits._
    Seq((snap.version, snap.operation, snap.files.size.toLong, snap.totalRows))
      .toDF("version", "operation", "n_files", "total_rows")
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
