package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Paths}
import java.util.UUID

/** GROUP-BASED (copy-on-write) row-level operation for graft tables —
  * the `SupportsRowLevelOperations` seam that lets catalog SQL
  * `UPDATE cat.ns.t SET ...`, `MERGE INTO cat.ns.t USING ...` and
  * arbitrary-predicate `DELETE FROM cat.ns.t` plan through Spark's OWN
  * rewrite rules (RewriteUpdateTable / RewriteMergeIntoTable /
  * RewriteDeleteFromTable → ReplaceData), exactly as Iceberg's Spark
  * integration does (reference README.md:125-168 assumes this full SQL
  * surface over the table).
  *
  * How the pieces meet Spark's contract:
  *   - the READ side is the normal [[GraftScanBuilder]] flagged
  *     `rowLevel`: the command condition is pushed for MANIFEST file
  *     pruning only (never to parquet row groups — a matched file must
  *     return ALL its surviving rows, matching or not), position and
  *     equality deletes fold in executor-side as in any read, and the
  *     scan advertises the `_file` metadata column as a runtime filter
  *     attribute so Spark's RowLevelOperationRuntimeGroupFiltering
  *     narrows the rewrite to files holding ACTUAL matches (at 100 TB
  *     this is the difference between rewriting a handful of files and
  *     rewriting every file the static prune kept);
  *   - the WRITE side stages each task's rows as plain parquet under
  *     the table root (Spark already projected the rows to the table
  *     schema), then ONE driver-side commit swaps the scanned groups
  *     for the staged result through [[LogTable.commitReplaceGroups]]
  *     — CHECK constraints, manifest stats, and the concurrency guards
  *     of every other COW path included. Unpartitioned tables ADOPT
  *     the staged files directly (zero extra I/O); partitioned tables
  *     restage through [[LogTable.restageFiles]] to land the rows in
  *     their hive/hidden layout (one extra write of the affected
  *     groups — bounded by the rewrite's own blast radius, never by
  *     table size). */
private[sources] final class GraftRowLevelOperation(root: String,
    fullSchema: StructType, snap: Snapshot, cmd: Command)
    extends RowLevelOperation {

  /** Set by the scan's `planInputPartitions` (after runtime group
    * filtering): the snapshot it planned against, the exact file set
    * it planned — the groups the write's commit replaces — and the
    * command condition's pushed filters (the commit validates no
    * CONCURRENTLY APPENDED file could match them — serializable
    * conflict detection, as Iceberg's Spark MERGE defaults to). */
  @volatile private var scanned: Option[(Snapshot, Seq[String],
    Seq[org.apache.spark.sql.sources.Filter])] = None
  private[sources] def recordScan(snap: Snapshot, paths: Seq[String],
      filters: Seq[org.apache.spark.sql.sources.Filter]): Unit =
    scanned = Some((snap, paths, filters))
  private[sources] def scanState: Option[(Snapshot, Seq[String],
    Seq[org.apache.spark.sql.sources.Filter])] = scanned

  override def command(): Command = cmd
  override def description(): String = s"graft row-level $cmd on $root"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, fullSchema, options, Some(snap),
      rowLevel = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftRowLevelWrite(root, this, info)

  /** `_file` — the group identity: Spark's group-filter subquery
    * projects it from matching rows and IN-filters this operation's
    * scan with the values. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftSourceUtil.FileColName))
}

/** One staged parquet file per writing task (empty tasks stage
  * nothing). */
private[sources] final case class GraftStagedFiles(paths: Seq[String])
  extends WriterCommitMessage

private[sources] final class GraftRowLevelWrite(root: String,
    op: GraftRowLevelOperation, info: LogicalWriteInfo)
    extends WriteBuilder with Write with BatchWrite {

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String = s"graft replace-groups on $root"

  private val stageDir = Paths.get(root, s"stage-rlo-${UUID.randomUUID()}")

  override def createBatchWriterFactory(pi: PhysicalWriteInfo)
      : DataWriterFactory = {
    Files.createDirectories(stageDir)
    // the staged files must be indistinguishable from this session's
    // own parquet output (they may be ADOPTED as table data files):
    // carry the session's parquet write knobs — resolved through
    // SQLConf so defaults materialize — into the task writers
    // (ParquetWriteSupport + SparkToParquetSchemaConverter read these
    // from the task's hadoop conf)
    val sql = org.apache.spark.sql.internal.SQLConf.get
    import org.apache.spark.sql.internal.SQLConf._
    val pairs = Seq(PARQUET_WRITE_LEGACY_FORMAT,
        PARQUET_OUTPUT_TIMESTAMP_TYPE, PARQUET_FIELD_ID_WRITE_ENABLED,
        PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .map(e => e.key -> String.valueOf(sql.getConf(e))).toMap
    val codec = sql.getConf(PARQUET_COMPRESSION)
    new GraftStageWriterFactory(stageDir.toString, info.schema(), pairs, codec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    try {
      val staged = messages.toSeq
        .collect { case GraftStagedFiles(ps) => ps }.flatten
      op.scanState match {
        case None =>
          // the scan never planned (statement matched nothing at all)
          require(staged.isEmpty,
            "row-level write staged rows without a recorded scan")
        case Some((scanSnap, removedSeq, scanFilters)) =>
          val t = LogTable(spark, root)
          val removed = removedSeq.toSet
          val newFiles =
            if (t.partitionBy.isEmpty && t.hiddenBy.isEmpty)
              t.adoptStagedFiles(staged.map(Paths.get(_)))
            else if (staged.isEmpty) Nil
            else t.restageFiles(spark.read
              .schema(GraftBridge.asNullable(info.schema()))
              .parquet(staged: _*))
          if (removed.nonEmpty || newFiles.nonEmpty) {
            t.commitReplaceGroups(removed, newFiles,
              s"rlo-${cmdStr}", scanSnap, scanFilters)
          }
      }
    } finally LogTable.deleteRecursively(stageDir)
  }

  private def cmdStr: String = op.command() match {
    case Command.DELETE => "delete"
    case Command.UPDATE => "update"
    case Command.MERGE => "merge"
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LogTable.deleteRecursively(stageDir)
}

private[sources] final class GraftStageWriterFactory(stageDir: String,
    schema: StructType, confPairs: Map[String, String], codec: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftStageDataWriter(stageDir, schema, confPairs, codec,
      partitionId, taskId)
}

/** Executor-side staged-parquet writer: Spark's own
  * [[ParquetWriteSupport]] (the exact encoder `df.write.parquet`
  * uses) over parquet-mr's output format — InternalRows in, a
  * session-identical parquet file out. Opens lazily (an empty task
  * stages nothing) and never buffers rows. */
private[sources] final class GraftStageDataWriter(stageDir: String,
    schema: StructType, confPairs: Map[String, String], codec: String,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private var writer
      : org.apache.hadoop.mapreduce.RecordWriter[Void, InternalRow] = _
  private var path: HadoopPath = _
  private var rows = 0L

  private def ensureOpen(): Unit = if (writer == null) {
    val conf = new Configuration(HadoopConf.loaded)
    confPairs.foreach { case (k, v) => conf.set(k, v) }
    ParquetWriteSupport.setSchema(schema, conf)
    path = new HadoopPath(s"$stageDir/part-$partitionId-$taskId.parquet")
    val fmt = new ParquetOutputFormat[InternalRow](new ParquetWriteSupport)
    writer = fmt.getRecordWriter(conf, path,
      try CompressionCodecName.valueOf(codec.toUpperCase)
      catch { case _: IllegalArgumentException => CompressionCodecName.SNAPPY })
  }

  override def write(row: InternalRow): Unit = {
    ensureOpen()
    writer.write(null, row)
    rows += 1
  }
  // metadata-carrying variant (Spark passes `_file` et al. separately
  // when a metadata projection exists) — the group rewrite doesn't
  // route on it
  override def write(meta: InternalRow, row: InternalRow): Unit = write(row)

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close(null)
    if (rows == 0L) {
      if (path != null)
        Files.deleteIfExists(Paths.get(path.toUri.getPath))
      GraftStagedFiles(Nil)
    } else GraftStagedFiles(Seq(path.toUri.getPath))
  }

  override def abort(): Unit = {
    if (writer != null) writer.close(null)
    if (path != null) Files.deleteIfExists(Paths.get(path.toUri.getPath))
  }
  override def close(): Unit = ()
}
