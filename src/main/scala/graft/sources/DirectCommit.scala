package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}

import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Zero-rename write commit: tasks write data files STRAIGHT to their
  * final UUID names under the table's `data/` directory, and the only
  * publication step is the manifest commit that already governs graft
  * visibility. Iceberg's object-store write shape (reference
  * README.md:44-55 runs the table layer over MinIO, where a "rename"
  * is a full server-side copy): the default Spark committer pays one
  * task-commit rename into the job dir plus one driver-side move per
  * file into the table — O(data) on S3-likes — while this protocol
  * pays zero, making commit cost O(#files) manifest metadata only.
  *
  * Mechanics: the target dir rides in on the write option
  * [[DirectCommitProtocol.TargetKey]] (DataFrameWriter options are
  * copied into the write job's hadoop conf). `newTaskTempFile` hands
  * the writer a final `data/[k=v/...]uuid.parquet` path; the task
  * commit message carries the (partition-dir, path) list; job commit
  * writes the aggregated list as a `_graft_committed` sidecar in the
  * (otherwise empty) staging dir for [[DirectCommitProtocol.land]] to
  * read. Files from task attempts that never commit — speculation
  * losers, retries — are deleted by `abortTask` when the attempt dies
  * cleanly; a failed job's `abortJob` deletes the files its committed
  * tasks wrote. Anything else (a crashed driver) is an invisible orphan
  * (no manifest references it) reaped by `removeOrphans`, exactly like
  * a crashed append's output.
  *
  * Without the target option every override delegates to the default
  * [[SQLHadoopMapReduceCommitProtocol]], so installing this class as
  * the session's `spark.sql.sources.commitProtocolClass` changes
  * nothing for non-graft writes sharing the session. */
class DirectCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamicPartitionOverwrite) {
  import FileCommitProtocol.TaskCommitMessage

  /** Task-local (init in setupTask): (partition-dir, final path) per
    * file this attempt opened. */
  @transient private var written: ListBuffer[(String, String)] = _

  /** Driver-side: this job's target dir and the files its committed
    * tasks reported, deleted again if the job aborts. */
  @transient private var jobTarget = ""
  @transient private var committed: List[String] = Nil

  private def target(conf: Configuration): String =
    conf.get(DirectCommitProtocol.TargetKey, "")

  override def setupJob(jobContext: JobContext): Unit = {
    jobTarget = target(jobContext.getConfiguration)
    committed = Nil
    super.setupJob(jobContext)
  }

  override def onTaskCommit(taskCommit: TaskCommitMessage): Unit =
    if (jobTarget.nonEmpty) committed :::=
      taskCommit.obj.asInstanceOf[List[(String, String)]].map(_._2)
    else super.onTaskCommit(taskCommit)

  override def setupTask(taskContext: TaskAttemptContext): Unit = {
    written = ListBuffer.empty
    super.setupTask(taskContext)
  }

  override def newTaskTempFile(taskContext: TaskAttemptContext,
      dir: Option[String], spec: FileNameSpec): String = {
    val t = target(taskContext.getConfiguration)
    if (t.isEmpty) super.newTaskTempFile(taskContext, dir, spec)
    else {
      // graft "overwrite" is a manifest swap, never a directory swap —
      // a dynamic-partition-overwrite job must not write in place
      require(!dynamicPartitionOverwrite,
        "direct commit does not support dynamic-partition overwrite")
      val dirPath = dir.foldLeft(new HPath(t))((p, d) => new HPath(p, d))
      val fs = dirPath.getFileSystem(taskContext.getConfiguration)
      fs.mkdirs(dirPath)
      val f = new HPath(dirPath,
        s"${spec.prefix}${UUID.randomUUID()}${spec.suffix}")
      written += ((dir.getOrElse(""), f.toString))
      f.toString
    }
  }

  override def commitTask(
      taskContext: TaskAttemptContext): TaskCommitMessage = {
    if (target(taskContext.getConfiguration).isEmpty)
      super.commitTask(taskContext)
    // no rename, no commit coordination: attempts write DISJOINT UUID
    // names, the scheduler keeps the first success per partition, and
    // a loser's files are unreferenced orphans
    else new TaskCommitMessage(written.toList)
  }

  override def abortTask(taskContext: TaskAttemptContext): Unit = {
    val t = target(taskContext.getConfiguration)
    if (t.nonEmpty && written != null) {
      val fs = new HPath(t).getFileSystem(taskContext.getConfiguration)
      written.foreach { case (_, p) =>
        try fs.delete(new HPath(p), false)
        catch { case _: Exception => () }
      }
    }
    super.abortTask(taskContext)
  }

  override def abortJob(jobContext: JobContext): Unit = {
    if (jobTarget.nonEmpty) {
      val fs = new HPath(jobTarget).getFileSystem(jobContext.getConfiguration)
      committed.foreach { p =>
        try fs.delete(new HPath(p), false)
        catch { case _: Exception => () }
      }
      committed = Nil
    }
    super.abortJob(jobContext)
  }

  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    if (target(jobContext.getConfiguration).isEmpty)
      super.commitJob(jobContext, taskCommits)
    else {
      // the sidecar is job-scoped scratch (the stage dir is deleted by
      // the driver once read), not part of the table's commit protocol
      val entries = taskCommits.iterator
        .flatMap(_.obj.asInstanceOf[List[(String, String)]]).toSeq
      val out = new HPath(path, DirectCommitProtocol.Sidecar)
      val fs = out.getFileSystem(jobContext.getConfiguration)
      val os = fs.create(out, true)
      try os.write(entries.map { case (d, p) => s"$d\t$p" }
        .mkString("\n").getBytes("UTF-8"))
      finally os.close()
    }
  }
}

object DirectCommitProtocol {
  /** Write option naming the final data dir; absent = vanilla commit. */
  val TargetKey = "graft.direct.target"
  /** Sidecar file job commit leaves in the staging dir: one
    * `partitionDir TAB absolutePath` line per committed data file.
    * Read only by [[land]]. */
  private[sources] val Sidecar = "_graft_committed"
  /** Session conf that routes batch file writes through this class. */
  val ConfKey = "spark.sql.sources.commitProtocolClass"

  /** Install the protocol on `spark` (idempotent). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cls = classOf[DirectCommitProtocol].getName
    if (!spark.conf.getOption(ConfKey).contains(cls))
      spark.conf.set(ConfKey, cls)
  }

  /** THE landing path for every Spark-written parquet graft keeps:
    * write `df` as parquet straight into `dir` (final UUID names, no
    * rename, `shape` adds partitionBy / writer options) and return the
    * committed `(partition dir, final path)` pairs sorted by path. The
    * protocol is installed on the frame's OWN session, so the sidecar
    * is always there — a missing one means some other protocol ran the
    * write and throws instead of guessing at its output. The session
    * also gets [[LogTable.ensureMicrosTimestamps]]. The job's scratch
    * dir (a `stage-<uuid>` sibling of `dir` holding the sidecar and
    * `_SUCCESS`) is deleted on success and failure alike, and the
    * checksum siblings local-FS writers leave next to each file are
    * cleared (the manifest is the integrity layer).
    *
    * With a `prefix`, each file is renamed within `dir` to
    * `<prefix>-<uuid>.parquet` (a partitioned write's `k=v` directories
    * are emptied and removed; the returned partition dir still names
    * the one the writer chose) — the export's naming for delete,
    * partition-stats and default-fill files. */
  private[sources] def land(df: DataFrame, dir: Path, prefix: String = "")(
      shape: DataFrameWriter[Row] => DataFrameWriter[Row] = identity)
      : Seq[(String, Path)] = {
    install(df.sparkSession)
    LogTable.ensureMicrosTimestamps(df.sparkSession)
    val target = dir.toAbsolutePath
    Files.createDirectories(target)
    val scratch = target.resolveSibling(s"stage-${UUID.randomUUID()}")
    try {
      shape(df.write.option(TargetKey, target.toString))
        .parquet(scratch.toString)
      val sidecar = scratch.resolve(Sidecar)
      if (!Files.exists(sidecar)) throw new IllegalStateException(
        s"parquet write into $dir left no $Sidecar list: the write did " +
          s"not run under ${classOf[DirectCommitProtocol].getName}")
      val placed = Files.readAllLines(sidecar).asScala.toSeq
        .filter(_.nonEmpty).map { line =>
          val cut = line.indexOf('\t')
          val f = Paths.get(line.substring(cut + 1))
          Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
          (line.substring(0, cut), f)
        }
      val named =
        if (prefix.isEmpty) placed
        else {
          val out = placed.map { case (part, f) =>
            (part, Files.move(f,
              target.resolve(s"$prefix-${UUID.randomUUID()}.parquet")))
          }
          // deepest first, so a nested k1=a/k2=b empties bottom-up
          placed.flatMap { case (_, f) =>
            Iterator.iterate(f.getParent)(_.getParent)
              .takeWhile(d => d != null && d.startsWith(target) && d != target)
          }.distinct.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
          out
        }
      named.sortBy(_._2.toString)
    } finally LogTable.deleteRecursively(scratch)
  }
}
