package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces, Table, TableCatalog, TableChange, TableWritePrivilege}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform => STransform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._

/** A Spark [[TableCatalog]] over a warehouse directory of LogTables —
  * the catalog half of the reference's deployment (reference
  * init-setup.py:84-130 registers its Iceberg REST catalog so users
  * address tables as `catalog.namespace.table`), re-expressed as a
  * first-class Spark catalog plugin:
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  * CREATE TABLE graft.logs.api (ts_us BIGINT, op STRING)
  *   PARTITIONED BY (days(ts_us), bucket(16, op))
  * INSERT INTO graft.logs.api SELECT ...
  * SELECT op, count(*) FROM graft.logs.api WHERE ts_us > ... GROUP BY op
  * }}}
  *
  * — CREATE/CTAS/INSERT/INSERT OVERWRITE/SELECT/ALTER/DROP all run
  * through SPARK'S OWN parser, analyzer and permission seams; no
  * bespoke SQL dialect in the path. GraftSql's statements land here
  * too — CREATE/DROP, ALTER column changes, UPDATE/DELETE/MERGE, CALL,
  * and every query's registered names with their `VERSION AS OF` /
  * `TIMESTAMP AS OF` time travel: it registers this catalog under a
  * session-scoped name and rewrites each registered name to an
  * absolute-root identifier (`cat.`/abs/root``, which [[tableDir]]
  * resolves as-is). Namespaces
  * are warehouse subdirectories; a table is any directory with a
  * `_graft_log` manifest dir; the partition spec rides in the
  * manifest (persisted spec), so `loadTable` reconstructs the exact
  * layout every session.
  *
  * Reads come back through [[GraftTable]]'s pushdown scan (manifest
  * file skipping + parquet row-group pruning); writes route through
  * [[LogTable]]'s commit machinery via the V1Write bridge, so CHECK
  * constraints, schema evolution, hidden layout derivation and
  * optimistic concurrency hold for SQL writers too. */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catName: String = _
  private var warehouse: Path = _

  // ---------------------------------------------------------- functions
  // The partition-transform V2 functions (bucket/hours/days/truncate).
  // Spark's V2ScanPartitioning rule resolves a scan's reported
  // KeyGroupedPartitioning transforms through the TABLE'S catalog as a
  // FunctionCatalog — without this seam every reported bucket/hours
  // key silently degrades to "unknown partitioning" and
  // storage-partitioned joins never engage.

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] = {
    if (namespace.nonEmpty && !Files.isDirectory(nsDir(namespace)))
      throw new NoSuchNamespaceException((catName +: namespace).toSeq)
    GraftFunctions.names.map(Identifier.of(namespace, _)).toArray
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>")
    warehouse = Paths.get(wh)
    Files.createDirectories(warehouse)
    ()
  }
  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active
  private def nsDir(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)(_.resolve(_))
  private def tableDir(ident: Identifier): Path =
    nsDir(ident.namespace).resolve(ident.name)
  private def isTable(p: Path): Boolean = LogTable.exists(p.toString)

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      (catName +: namespace).toSeq)
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally stream.close()
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val root = tableDir(ident)
    if (!isTable(root)) {
      // METADATA tables (Iceberg's `db.table.history` convention):
      // `cat.ns.t.history|files|partitions|deletes|refs|snapshots|
      // manifests|entries` resolve when the identifier's namespace
      // tail is a table — rows come straight from manifest metadata,
      // planned as a LocalRelation
      if (ident.namespace.nonEmpty) {
        val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
        val proot = tableDir(parent)
        if (isTable(proot)) {
          val t = LogTable(spark, proot.toString)
          // BRANCH handles (Iceberg's `db.table.branch_<name>`
          // convention): `cat.ns.t.branch_audit` reads the branch head
          // and takes INSERT INTO — with CALL create_branch /
          // fast_forward this is write-audit-publish in pure catalog
          // SQL (a stream lands on the branch, an audit query reads
          // it, main adopts it atomically; main's readers see nothing
          // in between)
          if (ident.name.toLowerCase.startsWith("branch_")) {
            val bname = ident.name.substring("branch_".length)
            if (t.branches.contains(bname))
              return handle(proot, t.branch(bname).snapshot(),
                writable = true, branch = Some(bname))
          }
          // the changelog handle is a REAL partitioned relation (the
          // per-commit CDC planner), not a driver-collected LocalScan
          if (ident.name.equalsIgnoreCase("changes")) {
            val head = t.snapshot()
            if (head.schemaJson.nonEmpty)
              return new GraftChangesTable(proot.toString,
                GraftCdcUtil.schemaWith(LogTable.parseSchema(head.schemaJson)))
          }
          val suffix = ident.name.toLowerCase
          LogTable.metadataTables.find(_._1 == suffix).foreach { m =>
            return new GraftLocalTable(s"${parent.name}.$suffix", m._2(t))
          }
        }
      }
      throw new NoSuchTableException(ident)
    }
    handle(root, LogTable(spark, root.toString).snapshot(), writable = true)
  }

  /** A handle reading `snap`, typed by that snapshot's recorded schema
    * (empty before the first commit). */
  private def handle(root: Path, snap: Snapshot, writable: Boolean = false,
      pinned: Boolean = false, branch: Option[String] = None): Table =
    new GraftTable(root.toString,
      if (snap.schemaJson.nonEmpty) LogTable.parseSchema(snap.schemaJson)
      else new StructType(), snap, writable, pinned, branch)

  /** Statement targets (INSERT/UPDATE/DELETE/MERGE: Spark loads them
    * with write privileges) report every column nullable. LogTable
    * never enforces NOT NULL (appends validate types ignoring
    * nullability, and the first writer's incidental flag sticks), so
    * the planner must accept the NULLs LogTable does — e.g. the
    * unlisted columns of a MERGE `INSERT (cols) VALUES (...)`. Reads
    * keep the recorded schema. */
  override def loadTable(ident: Identifier,
      writePrivileges: util.Set[TableWritePrivilege]): Table =
    loadTable(ident) match {
      case g: GraftTable => g.nullable
      case other => other
    }

  /** SQL time travel, through Spark's own `FOR VERSION AS OF` /
    * `FOR TIMESTAMP AS OF` clauses: the returned handle is pinned to
    * ONE snapshot (batch-read only, writes refused) and carries that
    * snapshot's OWN schema — a pre-evolution version reads with its
    * historical columns. `version` accepts a snapshot number, a named
    * ref (Iceberg tag) or a branch: `VERSION AS OF 'prod'`. A name that
    * is both a tag and a branch reads the tag. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tableDir(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val t = LogTable(spark, root.toString)
    val tagged = version.toLongOption
      .orElse(t.refs.collectFirst { case (`version`, v) => v })
    // a BRANCH name resolves to the branch's CURRENT HEAD (a live
    // read-only view of the branch lineage, not a pinned snapshot —
    // Iceberg's `VERSION AS OF 'branch'` semantics); tags stay pinned
    if (tagged.isEmpty && t.branches.contains(version))
      return handle(root, t.branch(version).snapshot(), branch = Some(version))
    val v = tagged.getOrElse(t.refVersion(version))
    require(t.versions.contains(v),
      s"table ${ident.name} has no snapshot v$v (versions: ${t.versions.mkString(", ")})")
    handle(root, t.snapshot(v), pinned = true)
  }

  /** `timestamp` arrives in MICROseconds (Spark's contract for this
    * overload); resolves to the latest snapshot committed at or before
    * it ([[LogTable.versionAsOf]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = tableDir(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val t = LogTable(spark, root.toString)
    handle(root, t.snapshot(t.versionAsOf(timestamp / 1000L)), pinned = true)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[STransform],
      properties: util.Map[String, String]): Table = {
    val root = tableDir(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    val (partCols, hidden) = parseTransforms(partitions)
    Files.createDirectories(root.getParent)
    val t = LogTable(spark, root.toString,
      partitionBy = partCols, hiddenBy = hidden)
    t.declareSchema(schema)
    loadTable(ident)
  }

  /** Spark partition transforms → LogTable's spec: identity columns
    * become hive layout; the rest map through [[Transform.named]]
    * (hidden transforms, pruned through by the scan). Spark's parser
    * emits both the canonical forms (`days(c)`) and generic applies
    * (`day(c)`); the shared vocabulary takes both. */
  private def parseTransforms(ts: Array[STransform]): (Seq[String], Seq[Transform]) = {
    def col(t: STransform): String = t.arguments.collectFirst {
      case r: NamedReference => r.fieldNames.mkString(".")
    }.getOrElse(throw new IllegalArgumentException(
      s"partition transform $t needs a column reference"))
    def num(t: STransform): Option[Long] = t.arguments.collectFirst {
      case l: Literal[_] if l.value().isInstanceOf[Number] =>
        l.value().asInstanceOf[Number].longValue()
    }
    ts.toSeq.partitionMap { t =>
      if (t.name.equalsIgnoreCase("identity")) Left(col(t))
      else Right(Transform.named(t.name, num(t), col(t)).getOrElse(
        throw new UnsupportedOperationException(
          s"unsupported partition transform $t (supported: identity " +
            "columns, days, hours, years, months, bucket(n, c), " +
            "xxbucket(n, c), truncate(n, c))")))
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tableDir(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val t = LogTable(spark, root.toString)
    changes.foreach {
      case r: TableChange.RenameColumn =>
        t.renameField(r.fieldNames.mkString("."), r.newName)
      // nested paths route to the struct-field evolution DDL — SQL
      // `ALTER TABLE t ADD COLUMN s.x DOUBLE` etc. work via Spark's
      // own multi-part field-name parsing
      case d: TableChange.DeleteColumn =>
        t.dropField(d.fieldNames.mkString("."))
      case u: TableChange.UpdateColumnType =>
        t.widenField(u.fieldNames.mkString("."), u.newDataType())
      case a: TableChange.AddColumn =>
        t.addField(a.fieldNames.mkString("."), a.dataType())
      // ALTER TABLE SET/UNSET TBLPROPERTIES through Spark's own DDL —
      // the same manifest-carried property map as the Scala API
      case p: TableChange.SetProperty =>
        t.setProperties(Map(p.property -> p.value))
      case p: TableChange.RemoveProperty =>
        t.unsetProperties(Seq(p.property))
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $other (supported: ADD COLUMN, " +
          "RENAME COLUMN, DROP COLUMN, widening ALTER COLUMN TYPE, " +
          "SET/UNSET TBLPROPERTIES)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = tableDir(ident)
    if (!isTable(root)) false
    else { LogTable.deleteRecursively(root); true }
  }

  /** Manifests pin ABSOLUTE file paths (readers never list
    * directories), so a rename moves the directory and then re-roots
    * every manifest's path strings — an offline metadata rewrite, the
    * one operation that touches committed manifests (a table being
    * renamed has no live concurrent writers by contract, as with every
    * catalog's rename). The replacement is anchored on `"<oldRoot>/`
    * (quote + trailing slash), which can only match path fields. */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = tableDir(from)
    val dst = tableDir(to)
    if (!isTable(src)) throw new NoSuchTableException(from)
    if (isTable(dst)) throw new TableAlreadyExistsException(to)
    Files.createDirectories(dst.getParent)
    Files.move(src, dst)
    val walk = Files.walk(dst)
    try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".manifest.json"))
      .foreach { m =>
        val txt = Files.readString(m)
        Files.writeString(m,
          txt.replace("\"" + src.toString + "/", "\"" + dst.toString + "/"))
      }
    finally walk.close()
  }

  // --------------------------------------------------------- procedures

  /** Maintenance procedures through SPARK'S OWN `CALL` statement
    * (`CALL <catalog>.system.compact('ns.table')`) — the planner
    * parses, binds parameter types, fills defaults, casts and accepts
    * named arguments (`keep_last => 5`); this catalog only resolves
    * names and runs the table API (reference init-setup.py:159-173
    * drives its maintenance through catalog SQL the same way). This is
    * the ONE procedure table: GraftSql's `CALL proc(t, ...)` forwards
    * here with `t` rewritten to its root. The table argument is a
    * multipart identifier (`'ns.t'`, `'ns.`t.x`'`; a backquoted
    * absolute path names a root directly). Signatures, defaults after
    * `=`:
    *
    * {{{
    * compact(table, part_col = NULL, value = NULL)  both or neither
    * expire(table, keep_last)
    * expire_older_than(table, older_than_ms, keep_last = 1)
    * expire_branch(table, branch, keep_last)
    * rollback(table, version)
    * remove_orphans(table, mode = NULL)             mode: 'dry_run'
    * recluster(table, column, n_files)
    * recluster_z(table, columns, n_files)           columns: 'c1,c2'
    * analyze(table, columns = '')                   '' = every column
    * set_sort_order(table, columns = '')            '' clears
    * create_ref(table, name, version = NULL)        NULL = current
    * create_branch(table, name)
    * fast_forward(table, name)
    * clone(table, dest, version = NULL)             NULL = current
    * delete_mor(table, predicate)
    * merge_mor(table, key, source_query)
    * delete_eq(table, keys_query)
    * upsert_eq(table, key, source_query)
    * evolve_spec(table, spec)                       '' un-partitions
    * export_iceberg(table, dest, mode = NULL)       mode: 'history'
    * export_statistics(table, dest)
    * import_iceberg(table, src)                     table must not exist
    * }}}
    *
    * A mode a procedure does not know refuses (never a silent fallback
    * to the default behaviour). */
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{DataType, LongType, StringType}

  /** The table argument (slot 0) as an identifier. */
  private def ident(in: InternalRow): Identifier = {
    val parts = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseMultipartIdentifier(str(in, 0))
    Identifier.of(parts.init.toArray, parts.last)
  }

  private def resolve(in: InternalRow): LogTable = {
    val id = ident(in)
    if (!isTable(tableDir(id))) throw new NoSuchTableException(id)
    LogTable(spark, tableDir(id).toString)
  }

  private def opt(in: InternalRow, i: Int): Option[String] =
    if (in.isNullAt(i)) None else Some(in.getUTF8String(i).toString)
  private def str(in: InternalRow, i: Int): String = opt(in, i).getOrElse(
    throw new IllegalArgumentException(s"procedure argument ${i + 1} is NULL"))
  private def optLong(in: InternalRow, i: Int): Option[Long] =
    if (in.isNullAt(i)) None else Some(in.getLong(i))
  private def cols(in: InternalRow, i: Int): Seq[String] =
    str(in, i).split(",").map(_.trim).toSeq.filter(_.nonEmpty)
  /** An optional mode argument: NULL is the default, `known` (any
    * case) the one alternative, anything else refuses. */
  private def mode(in: InternalRow, i: Int, known: String): Boolean =
    opt(in, i).exists { m =>
      require(m.equalsIgnoreCase(known), s"unknown mode '$m' (supported: '$known')")
      true
    }

  private def string(n: String, default: String = null): ProcedureParameter =
    param(n, StringType, default)
  private def bigint(n: String, default: String = null): ProcedureParameter =
    param(n, LongType, default)
  private def param(n: String, t: DataType, default: String): ProcedureParameter = {
    val b = ProcedureParameter.in(n, t)
    Option(default).fold(b)(b.defaultValue).build()
  }

  /** A procedure over `(table, params...)`; `default` on a trailing
    * parameter is SQL Spark evaluates when the call omits it. */
  private def proc(name0: String, params: ProcedureParameter*)(
      run: InternalRow => Any): UnboundProcedure = new UnboundProcedure {
    override def name(): String = name0
    override def description(): String = s"graft maintenance procedure $name0"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = name0
      override def description(): String = s"graft maintenance procedure $name0"
      override def parameters(): Array[ProcedureParameter] =
        (string("table") +: params).toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        run(input)
        java.util.Collections.emptyIterator()
      }
    }
  }

  private lazy val procedures: Map[String, UnboundProcedure] = Seq(
    // the scoped form is Delta's OPTIMIZE ... WHERE: maintenance
    // bounded to one partition value's files
    proc("compact", string("part_col", "NULL"), string("value", "NULL")) { in =>
      (opt(in, 1), opt(in, 2)) match {
        case (None, None) => resolve(in).compact()
        case (Some(c), Some(v)) =>
          resolve(in).compact(where = Some(p => p.get(c).contains(v)))
        case _ => throw new IllegalArgumentException(
          "compact takes both part_col and value, or neither")
      }
    },
    proc("expire", bigint("keep_last")) { in =>
      resolve(in).expire(keepLast = in.getLong(1).toInt)
    },
    proc("expire_older_than", bigint("older_than_ms"), bigint("keep_last", "1")) { in =>
      resolve(in).expireOlderThan(in.getLong(1), keepLast = in.getLong(2).toInt)
    },
    // branch-scoped retention: a busy WAP branch accumulates a snapshot
    // per audited batch; this drops its old intermediates while the
    // fork-point base (and main's lineage) stay intact
    proc("expire_branch", string("branch"), bigint("keep_last")) { in =>
      resolve(in).branch(str(in, 1)).expire(keepLast = in.getLong(2).toInt)
    },
    proc("rollback", bigint("version")) { in => resolve(in).rollback(in.getLong(1)) },
    // the 'dry_run' mode is VACUUM DRY RUN: report what the sweep
    // WOULD reclaim, touching nothing
    proc("remove_orphans", string("mode", "NULL")) { in =>
      resolve(in).removeOrphans(dryRun = mode(in, 1, "dry_run"))
    },
    proc("recluster", string("column"), bigint("n_files")) { in =>
      resolve(in).recluster(str(in, 1), in.getLong(2).toInt)
    },
    // n-D z-order over a comma-separated column list
    proc("recluster_z", string("columns"), bigint("n_files")) { in =>
      resolve(in).reclusterZ(cols(in, 1), in.getLong(2).toInt)
    },
    // NDV stats for the CBO
    proc("analyze", string("columns", "''")) { in => resolve(in).analyze(cols(in, 1)) },
    // declared write sort order
    proc("set_sort_order", string("columns", "''")) { in =>
      resolve(in).setSortOrder(cols(in, 1))
    },
    proc("create_ref", string("name"), bigint("version", "NULL")) { in =>
      val t = resolve(in)
      t.createRef(str(in, 1), optLong(in, 2).getOrElse(t.currentVersion))
    },
    proc("create_branch", string("name")) { in => resolve(in).createBranch(str(in, 1)) },
    proc("fast_forward", string("name")) { in => resolve(in).fastForward(str(in, 1)) },
    // shallow clone: zero-copy snapshot table at dest (LogTable.cloneTo)
    proc("clone", string("dest"), bigint("version", "NULL")) { in =>
      val t = resolve(in)
      t.cloneTo(str(in, 1), optLong(in, 2).getOrElse(t.currentVersion))
    },
    // merge-on-read delete: the route to position deletes (plain
    // DELETE stays COW, the bulk-delete default; this is the
    // frequent-small-delete path, folded later by compact)
    proc("delete_mor", string("predicate")) { in =>
      resolve(in).deleteMor(org.apache.spark.sql.functions.expr(str(in, 1)))
    },
    // merge-on-read upsert: position-marks matched rows + appends the
    // batch (plain MERGE stays COW; folded later by compact)
    proc("merge_mor", string("key"), string("source_query")) { in =>
      resolve(in).mergeMor(spark.sql(str(in, 2)), str(in, 1))
    },
    // equality delete: key tombstones with ZERO table I/O (the CDC
    // shape; delete_mor scans to find positions, this does not)
    proc("delete_eq", string("keys_query")) { in =>
      resolve(in).deleteEq(spark.sql(str(in, 1)))
    },
    // equality upsert: tombstone + append in one commit, O(source)
    proc("upsert_eq", string("key"), string("source_query")) { in =>
      resolve(in).upsertEq(spark.sql(str(in, 2)), str(in, 1))
    },
    // partition-spec evolution, same spec grammar as CREATE TABLE
    // PARTITIONED BY (`'day(ts_us), kind'`); old files keep their
    // layout (conservatively scanned), later writers adopt the new one
    proc("evolve_spec", string("spec")) { in =>
      val spec = str(in, 1)
      val (pc, tf) = if (spec.trim.nonEmpty) Transform.parseSpecs(spec) else (Nil, Nil)
      resolve(in).evolveSpec(pc, tf)
    },
    // REAL Iceberg v2 metadata for the current snapshot
    // (IcebergExport); the 'history' mode exports every live snapshot
    // (foreign time travel); untranslatable states refuse there
    proc("export_iceberg", string("dest"), string("mode", "NULL")) { in =>
      IcebergExport.export(resolve(in), str(in, 1), history = mode(in, 2, "history"))
    },
    // Puffin NDV statistics for the CURRENT snapshot of an
    // already-exported table (the compute_table_stats maintenance
    // pass; refuses when the export lags the table — IcebergStatistics)
    proc("export_statistics", string("dest")) { in =>
      IcebergStatistics.exportStatistics(resolve(in), str(in, 1))
    },
    // adopt an Iceberg v2 table as a fresh table (IcebergImport;
    // zero-copy, the files are borrowed in place)
    proc("import_iceberg", string("src")) { in =>
      val id = ident(in)
      if (isTable(tableDir(id)))
        throw new IllegalArgumentException(
          s"table ${id} already exists — import into a fresh name")
      IcebergImport.importTable(spark, str(in, 1), tableDir(id).toString)
    }
  ).map(p => p.name() -> p).toMap

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procedures.keys.toArray.sorted.map(n => Identifier.of(Array("system"), n))

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    procedures.getOrElse(ident.name.toLowerCase,
      throw new UnsupportedOperationException(
        s"unknown procedure '${ident.name}' (supported: " +
          s"${procedures.keys.toSeq.sorted.mkString(", ")})"))

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val stream = Files.list(warehouse)
    try stream.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally stream.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      (catName +: namespace).toSeq)
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
    finally stream.close()
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (namespace.nonEmpty && !Files.isDirectory(nsDir(namespace)))
      throw new NoSuchNamespaceException((catName +: namespace).toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(nsDir(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are directories; there is no metadata to alter")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) false
    else {
      if (!cascade) {
        val stream = Files.list(dir)
        val empty = try !stream.iterator().hasNext finally stream.close()
        require(empty, s"namespace ${namespace.mkString(".")} is not empty " +
          "(use CASCADE)")
      }
      LogTable.deleteRecursively(dir)
      true
    }
  }
}
