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
  * bespoke SQL dialect in the path. GraftSql's CREATE/DROP, ALTER
  * column changes and UPDATE/DELETE/MERGE land here too: it registers this catalog under
  * a session-scoped name and forwards each statement with its target
  * rewritten to an absolute-root identifier (`cat.`/abs/root``,
  * which [[tableDir]] resolves as-is). Namespaces
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
  private def isTable(p: Path): Boolean =
    Files.isDirectory(p.resolve("_graft_log"))

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
            if (t.branches.contains(bname)) {
              val head = t.branch(bname).snapshot()
              val schema =
                if (head.schemaJson.nonEmpty) LogTable.parseSchema(head.schemaJson)
                else new StructType()
              return new GraftTable(proot.toString, schema,
                writable = true, branchName = Some(bname))
            }
          }
          // the changelog handle is a REAL partitioned relation (the
          // per-commit CDC planner), not a driver-collected LocalScan
          if (ident.name.equalsIgnoreCase("changes")) {
            val head = t.snapshot()
            if (head.schemaJson.nonEmpty)
              return new GraftChangesTable(proot.toString,
                GraftCdcUtil.schemaWith(LogTable.parseSchema(head.schemaJson)))
          }
          val df = ident.name.toLowerCase match {
            case "history" => Some(t.history())
            case "files" => Some(t.filesTable())
            case "partitions" => Some(t.partitionsTable())
            case "deletes" => Some(t.deletesTable())
            case "refs" => Some(t.refsTable())
            // the Iceberg-conventional trio every operator dashboard
            // queries — LocalScan projections of the manifest
            case "snapshots" => Some(t.snapshotsTable())
            case "manifests" => Some(t.manifestsTable())
            case "entries" => Some(t.entriesTable())
            case _ => None
          }
          df.foreach(d => return new GraftLocalTable(
            s"${parent.name}.${ident.name.toLowerCase}", d))
        }
      }
      throw new NoSuchTableException(ident)
    }
    val t = LogTable(spark, root.toString) // adopts the persisted spec
    val snap = t.snapshot()
    val schema =
      if (snap.schemaJson.nonEmpty) LogTable.parseSchema(snap.schemaJson)
      else new StructType()
    new GraftTable(root.toString, schema, writable = true)
  }

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
    * historical columns. `version` accepts a snapshot number or a
    * named ref (Iceberg tag): `VERSION AS OF 'prod'`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tableDir(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val t = LogTable(spark, root.toString)
    // a BRANCH name resolves to the branch's CURRENT HEAD (a live
    // read-only view of the branch lineage, not a pinned snapshot —
    // Iceberg's `VERSION AS OF 'branch'` semantics); tags stay pinned
    version.toLongOption match {
      case None if t.branches.contains(version) =>
        val head = t.branch(version).snapshot()
        val schema =
          if (head.schemaJson.nonEmpty) LogTable.parseSchema(head.schemaJson)
          else new StructType()
        return new GraftTable(root.toString, schema,
          writable = false, branchName = Some(version))
      case _ => ()
    }
    val v = version.toLongOption.getOrElse(t.refVersion(version))
    require(t.versions.contains(v),
      s"table ${ident.name} has no snapshot v$v (versions: ${t.versions.mkString(", ")})")
    pinned(root.toString, t, v)
  }

  /** `timestamp` arrives in MICROseconds (Spark's contract for this
    * overload); resolves to the latest snapshot committed at or before
    * it — [[LogTable.timeTravelAsOf]] semantics. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = tableDir(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val t = LogTable(spark, root.toString)
    val tsMs = timestamp / 1000L
    val vs = t.versions.filter(v => v > 0L && t.snapshot(v).timestampMs <= tsMs)
    require(vs.nonEmpty,
      s"table ${ident.name} has no snapshot committed at or before " +
        s"epoch-ms $tsMs")
    pinned(root.toString, t, vs.max)
  }

  private def pinned(root: String, t: LogTable, v: Long): Table = {
    val snap = t.snapshot(v)
    val schema =
      if (snap.schemaJson.nonEmpty) LogTable.parseSchema(snap.schemaJson)
      else new StructType()
    new GraftTable(root, schema, writable = false, pinnedVersion = Some(v))
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
    * parses, binds parameter types, and evaluates arguments; this
    * catalog only resolves names and runs the table API (the same
    * calls GraftSql's embedded CALL surface routes to, reference
    * init-setup.py:159-173 drives its maintenance through catalog SQL
    * the same way). */
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{DataType, LongType, StringType}

  private def resolve(name: String): LogTable = {
    val parts = name.split('.')
    val ident = Identifier.of(parts.init, parts.last)
    if (!isTable(tableDir(ident))) throw new NoSuchTableException(ident)
    LogTable(spark, tableDir(ident).toString)
  }

  private def proc(name0: String, params: (String, DataType)*)(
      run: InternalRow => Unit): UnboundProcedure = new UnboundProcedure {
    override def name(): String = name0
    override def description(): String = s"graft maintenance procedure $name0"
    override def bind(inputType: org.apache.spark.sql.types.StructType)
        : BoundProcedure = new BoundProcedure {
      override def name(): String = name0
      override def description(): String = s"graft maintenance procedure $name0"
      override def parameters(): Array[ProcedureParameter] =
        params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        run(input)
        java.util.Collections.emptyIterator()
      }
    }
  }

  private def procedures: Map[String, UnboundProcedure] = Seq(
    proc("compact", "table" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString).compact(); ()
    },
    // Delta's OPTIMIZE ... WHERE: compaction bounded to the files of
    // one partition value
    proc("compact_where", "table" -> StringType, "part_col" -> StringType,
        "value" -> StringType) { in =>
      val (c, v) = (in.getUTF8String(1).toString, in.getUTF8String(2).toString)
      resolve(in.getUTF8String(0).toString)
        .compact(where = Some(p => p.get(c).contains(v))); ()
    },
    proc("expire", "table" -> StringType, "keep_last" -> LongType) { in =>
      resolve(in.getUTF8String(0).toString)
        .expire(keepLast = in.getLong(1).toInt); ()
    },
    proc("expire_older_than", "table" -> StringType,
        "older_than_ms" -> LongType, "keep_last" -> LongType) { in =>
      resolve(in.getUTF8String(0).toString)
        .expireOlderThan(in.getLong(1), keepLast = in.getLong(2).toInt); ()
    },
    proc("expire_branch", "table" -> StringType, "branch" -> StringType,
        "keep_last" -> LongType) { in =>
      resolve(in.getUTF8String(0).toString)
        .branch(in.getUTF8String(1).toString)
        .expire(keepLast = in.getLong(2).toInt); ()
    },
    proc("rollback", "table" -> StringType, "version" -> LongType) { in =>
      resolve(in.getUTF8String(0).toString).rollback(in.getLong(1)); ()
    },
    proc("remove_orphans", "table" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString).removeOrphans(); ()
    },
    // VACUUM DRY RUN: report, touch nothing
    proc("remove_orphans_dry", "table" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString)
        .removeOrphans(dryRun = true); ()
    },
    proc("recluster", "table" -> StringType, "column" -> StringType,
        "n_files" -> LongType) { in =>
      resolve(in.getUTF8String(0).toString)
        .recluster(in.getUTF8String(1).toString, in.getLong(2).toInt); ()
    },
    proc("analyze", "table" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString).analyze(); ()
    },
    proc("recluster_z", "table" -> StringType, "columns" -> StringType,
        "n_files" -> LongType) { in =>
      resolve(in.getUTF8String(0).toString).reclusterZ(
        in.getUTF8String(1).toString.split(",").map(_.trim).toSeq
          .filter(_.nonEmpty),
        in.getLong(2).toInt); ()
    },
    proc("create_ref", "table" -> StringType, "name" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString)
        .createRef(in.getUTF8String(1).toString)
    },
    proc("create_branch", "table" -> StringType, "name" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString)
        .createBranch(in.getUTF8String(1).toString); ()
    },
    proc("fast_forward", "table" -> StringType, "name" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString)
        .fastForward(in.getUTF8String(1).toString); ()
    },
    proc("delete_mor", "table" -> StringType, "predicate" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString)
        .deleteMor(org.apache.spark.sql.functions.expr(
          in.getUTF8String(1).toString)); ()
    },
    proc("delete_eq", "table" -> StringType, "keys_query" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString)
        .deleteEq(spark.sql(in.getUTF8String(1).toString)); ()
    },
    proc("upsert_eq", "table" -> StringType, "key" -> StringType,
        "source_query" -> StringType) { in =>
      resolve(in.getUTF8String(0).toString)
        .upsertEq(spark.sql(in.getUTF8String(2).toString),
          in.getUTF8String(1).toString); ()
    },
    proc("evolve_spec", "table" -> StringType, "spec" -> StringType) { in =>
      val spec = in.getUTF8String(1).toString
      val (pc, tf) =
        if (spec.trim.nonEmpty) Transform.parseSpecs(spec)
        else (Nil, Nil)
      resolve(in.getUTF8String(0).toString).evolveSpec(pc, tf); ()
    },
    // CALL cat.system.export_iceberg('ns.t', '<dest>') — real Iceberg
    // v2 metadata for the current snapshot (IcebergExport); the
    // _history twin exports every live snapshot (foreign time travel)
    proc("export_iceberg", "table" -> StringType, "dest" -> StringType) { in =>
      IcebergExport.export(resolve(in.getUTF8String(0).toString),
        in.getUTF8String(1).toString); ()
    },
    // Puffin NDV statistics for an already-exported table (the
    // compute_table_stats maintenance pass; see IcebergStatistics)
    proc("export_statistics", "table" -> StringType, "dest" -> StringType) { in =>
      IcebergStatistics.exportStatistics(
        resolve(in.getUTF8String(0).toString),
        in.getUTF8String(1).toString); ()
    },
    proc("export_iceberg_history", "table" -> StringType, "dest" -> StringType) { in =>
      IcebergExport.export(resolve(in.getUTF8String(0).toString),
        in.getUTF8String(1).toString, history = true); ()
    },
    // CALL cat.system.import_iceberg('ns.t', '<src>') — adopt an
    // Iceberg v2 table as catalog table ns.t (IcebergImport; the
    // files are borrowed in place, the table root lands under the
    // catalog warehouse like any CREATE)
    proc("import_iceberg", "table" -> StringType, "src" -> StringType) { in =>
      val parts = in.getUTF8String(0).toString.split('.')
      val ident = Identifier.of(parts.init, parts.last)
      if (isTable(tableDir(ident)))
        throw new IllegalArgumentException(
          s"table ${ident} already exists — import into a fresh name")
      IcebergImport.importTable(spark, in.getUTF8String(1).toString,
        tableDir(ident).toString); ()
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
