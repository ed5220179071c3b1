package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In,
  LessThanOrEqual}

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** One data file of a [[LogTable]] snapshot (manifest entry).
  * `partitions` holds the file's hive-style partition values (empty on
  * unpartitioned tables) so scans can prune on manifest metadata
  * alone — Iceberg's manifest-level partition pruning. `ranges` holds
  * per-column [min, max] for the file's INT64 columns, lifted from the
  * parquet footer at commit time (zero extra data passes) — Iceberg's
  * column-stats file skipping: a time-range scan drops whole files
  * whose [min, max] misses the predicate window. `strRanges` is the
  * same for STRING columns (recorded only when the file's bounds are
  * pure-ASCII and ≤64 bytes, where parquet's unsigned-byte order and
  * Java's string order agree — longer/non-ASCII bounds are simply not
  * recorded, which degrades to "scan the file", never to a wrong
  * skip). */
final case class DataFile(path: String, rows: Long, bytes: Long,
    partitions: Map[String, String] = Map.empty,
    ranges: Map[String, (Long, Long)] = Map.empty,
    strRanges: Map[String, (String, String)] = Map.empty,
    /** DATA SEQUENCE NUMBER (Iceberg v2): the snapshot version at
      * which this file joined the table, stamped at commit. Equality
      * deletes apply only to files with a SMALLER sequence — rows
      * appended after a delete are never affected by it. 0 = unknown
      * (legacy manifest entry): treated as older than every delete,
      * which can only over-apply deletes that predate the feature. */
    seq: Long = 0L,
    /** Per-column NULL counts for the columns in `ranges` (absent =
      * unknown): what turns footer [min,max] into a sound TOP-N file
      * pruner — "this file supplies rows - nulls values >= min". */
    nulls: Map[String, Long] = Map.empty,
    /** Per-column COMPLETE value sets for low-NDV string columns
      * (absent = unknown), harvested from parquet DICTIONARY pages at
      * commit when every page of every row group is dictionary-encoded
      * (EncodingStats-proven) and the dictionary holds ≤32 ASCII
      * values. Lets a point lookup on a column the layout is NOT
      * clustered on skip the file WITHOUT OPENING IT — one level
      * earlier than bloom filters (which prune row groups after the
      * file is already open). Equality-only: dictionaries exclude
      * nulls, and `c = v` is null-false, so set-miss ⇒ no row
      * matches. */
    valueSets: Map[String, Seq[String]] = Map.empty,
    /** ADOPTED v3 ROW LINEAGE (absent on graft-native files): the
      * foreign table's stable `first_row_id` assignment for this
      * file, carried through [[IcebergImport.importTable]] so a
      * CDC-reconciliation consumer migrating a v3 table in keeps the
      * exact `_row_id` continuity the source served — graft's v3
      * export re-serves these ids verbatim instead of re-deriving
      * from its own version order. */
    firstRowId: Option[Long] = None,
    /** MATERIALIZED ROW LINEAGE (set by the rewrite paths): this file
      * physically stores `_row_id` / `_last_updated_sequence_number`
      * columns (under the Iceberg-reserved parquet field ids), per
      * the v3 spec's rewrite rule — a compaction/COW rewrite of
      * lineage-carrying inputs writes every surviving row's id
      * EXPLICITLY so the next v3 export serves identical ids instead
      * of silently re-deriving them from file positions. A null
      * stored `_row_id` means "not yet assigned" (a merge-inserted
      * row); it inherits `first_row_id + pos` at export, the spec's
      * uniform read rule. */
    matLineage: Boolean = false) {
  /** This file participates in v3 row lineage — either adopted
    * (inheritance-based: `firstRowId + position`) or materialized
    * (explicit per-row ids stored in the file). */
  def hasLineage: Boolean = firstRowId.isDefined || matLineage
}

/** One immutable MANIFEST SEGMENT of a snapshot's file list (the
  * two-level manifest shape — Iceberg's manifest-list + manifest-file
  * split): `name` is a `seg-<uuid>.json` file in the table's shared
  * `_graft_log/` pool holding an array of [[DataFile]] entries.
  * Segments are write-once; snapshots reference them BY NAME, so a
  * commit that leaves a segment's files untouched re-lists the name
  * instead of re-serializing the entries — the manifest write is
  * O(changed files + segment count), never O(table files). At 1M
  * files (100 TB at 128 MB/file) an inline manifest is a ~200 MB JSON
  * rewritten by EVERY commit; with segments a steady-state append
  * writes one ~100 KB segment plus a pointer file.
  *
  * `partVals` is the segment's PARTITION-VALUE SUMMARY, carried in the
  * snapshot pointer itself (Iceberg's manifest-list partition
  * summaries): for each partition/transform directory key that EVERY
  * entry of the segment carries, the complete set of distinct values —
  * recorded only while ≤[[LogTable.MaxSegSummaryVals]] values (an
  * over-wide key simply isn't summarized; absence never prunes).
  * Planning consults the summary BEFORE loading the segment, so a
  * selective scan of a million-file table reads the handful of
  * segments that can match instead of all ~2k ([[Snapshot.prunedFiles]]).
  *
  * `files` materializes lazily through the JVM-wide segment cache;
  * equality is by (name, partVals) — names are UUIDs and segments are
  * write-once, so a name identifies its contents forever. */
final case class Segment(name: String,
    partVals: Map[String, Seq[String]] = Map.empty)(
    filesThunk: () => Seq[DataFile]) {
  lazy val files: Seq[DataFile] = filesThunk()
  def paths: Seq[String] = files.map(_.path)
}

/** Lazily materialized two-level file list of a segmented snapshot:
  * consumers that genuinely need the COMPLETE list (commits, metadata
  * counts, compaction planning) iterate it and pay the segment loads
  * (parallel, cached); planning paths that hold pushed filters call
  * [[Snapshot.prunedFiles]] instead and never load provably excluded
  * segments. Element order matches the eager layout that preceded it:
  * segment entries in listed order, then the inline remainder. */
private[sources] final class SegmentedFiles(val inline: Seq[DataFile],
    val segs: Seq[Segment]) extends scala.collection.immutable.Seq[DataFile] {
  lazy val all: Seq[DataFile] = SegmentedFiles.loadAll(segs) ++ inline
  override def iterator: Iterator[DataFile] = all.iterator
  override def apply(i: Int): DataFile = all(i)
  override def length: Int = all.length
}

private[sources] object SegmentedFiles {
  /** Materialize `segs` in parallel: each is an independent small
    * read through the JVM-wide cache, and a million-file snapshot
    * resolves ~2k of them — sequential reads would be the planning
    * critical path (cf. the parallel footer-stat pass). */
  def loadAll(segs: Seq[Segment]): Seq[DataFile] =
    if (segs.sizeIs <= 1) segs.flatMap(_.files)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.traverse(segs)(s => Future(s.files)), Duration.Inf).flatten
    }
}

/** Pointer-resident READ METADATA a scan needs before it knows which
  * files it will read — recorded by every commit so the planning
  * surfaces that ask table-shaped questions (storage-partitioned-join
  * layout reporting, runtime-filter attribute advertising) answer from
  * the snapshot pointer alone instead of materializing the full
  * segmented file list. `layoutComplete` = every live file carries
  * every layout key (the SPJ report gate); `layoutParts` = distinct
  * partition tuples across live files (the reported partition count);
  * `statsCols` = union of columns with recorded file ranges (what
  * runtime filtering gets leverage from). */
final case class ReadMeta(layoutComplete: Boolean, layoutParts: Int,
    statsCols: Seq[String])

/** One EQUALITY-DELETE file of a snapshot (Iceberg v2's second delete
  * form): a parquet file of KEY TUPLES over `cols`, marking every row
  * of OLDER data files (DataFile.seq < this.seq) whose key columns
  * equal a tuple — written WITHOUT scanning the table (O(keys), the
  * CDC/streaming-upsert shape position deletes can't give). Reads
  * anti-join on the key columns with the sequence guard;
  * [[LogTable.compact]] folds the marks; a replacing commit drops an
  * equality delete once no live file is older than it. */
final case class EqDeleteFile(path: String, bytes: Long,
    cols: Seq[String], rows: Long, seq: Long)

/** One per-commit CHANGE file (Delta CDF's `_change_data`): a parquet
  * file under `changes/` holding THIS commit's pre-images
  * (`change = "delete"`) or post-images (`change = "insert"`) in the
  * table schema, written by COW delete/update/merge when the table
  * property `write.cdc.enabled` is true. Unlike data/delete files,
  * change files belong to exactly ONE snapshot (never carried
  * forward): CDC readers — the streaming source, batch changelog
  * scans, [[LogTable.readCdc]] — replay them instead of refusing (or
  * row-diffing) the mixed add+remove commit a COW rewrite produces.
  * GC'd when their snapshot expires, like any referenced file. */
final case class CdcFile(path: String, rows: Long, bytes: Long,
    change: String)

/** One POSITION-DELETE file of a snapshot (Iceberg v2's merge-on-read
  * delete files): a parquet file of `(file_path, pos)` rows marking
  * individual rows of data files as deleted WITHOUT rewriting them.
  * Reads anti-join the marked positions away; [[LogTable.compact]]
  * folds them into rewritten data files. `counts` records how many
  * positions reference each data file (keyed by the data file's
  * manifest path), so (a) a replacing commit can garbage-collect
  * delete files whose referenced data files all left the snapshot and
  * (b) `count(*)` stays answerable from manifest arithmetic alone. */
final case class DeleteFile(path: String, bytes: Long,
    counts: Map[String, Long]) {
  def rows: Long = counts.values.sum
  def refPaths: Set[String] = counts.keySet
}

/** A HIDDEN-PARTITIONING transform (Iceberg's partition transforms —
  * the defining difference from hive layout): data files are laid out
  * by a value DERIVED from a source column (`hour(ts_us)`,
  * `bucket(16, user_id)`), the derived value never becomes a table
  * column, and scans filtering on the SOURCE column prune through the
  * transform. This is the reference log table's natural layout
  * (reference README.md:156-160: time-range queries over an
  * hour-organized log) without the user ever managing an hour column.
  *
  * `monotonic` transforms (hour/day/truncate) prune RANGES on the
  * source column; bucket prunes point lookups only (it scrambles
  * order by construction). Writers re-derive the value from row data,
  * so every rewrite path (compact/recluster/COW) lands files in the
  * correct layout automatically. */
final case class Transform(source: String, kind: String, n: Long) {
  /** The synthetic directory-key column name (never a data column). */
  def colName: String = s"_p_${source}_$kind"
  def monotonic: Boolean = kind != "bucket" && kind != "mbucket"
  /** Derived value as a Column over the source column — INTEGRAL
    * arithmetic only (`div`, `pmod`): float division would drift from
    * [[derive]] at µs magnitudes and silently mis-prune. Sources must
    * be LongType (the µs/id domain this library standardizes on;
    * validated at the writer). */
  def column: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    kind match {
      case "hour" => expr(s"$source div 3600000000L")
      case "day" => expr(s"$source div 86400000000L")
      case "year" => expr(Transform.yearSql(source))
      case "month" => expr(Transform.monthSql(source))
      case "truncate" => expr(s"($source div ${n}L) * ${n}L")
      case "bucket" => expr(s"pmod(xxhash64($source), ${n}L)")
      case "mbucket" =>
        // Iceberg-spec bucket: (murmur3_x86_32(v, seed 0) & MaxInt)
        // % n over the spec's single-value serialization — the
        // codegen'd [[graft.functions.IcebergBucketHash]] expression,
        // which accepts LONG and STRING sources (the mbucket kind's
        // source domain; see the writer validation).
        graft.functions.IcebergBucketHash.bucket(
          org.apache.spark.sql.functions.col(source), n.toInt)
    }
  }
  /** [[column]] with the SOURCE TYPE known (the writer resolves it
    * from the frame schema): monotonic transforms additionally accept
    * a TIMESTAMP source — the reference's own log-table shape, a
    * `day(time)`-partitioned TIMESTAMP column — derived over
    * `unix_micros` (the type's internal µs-epoch long, so the
    * arithmetic and the stored directory values are IDENTICAL to a
    * µs-long source's; [[derive]] prunes both without caring). */
  def columnFor(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType if monotonic =>
        import org.apache.spark.sql.functions.expr
        kind match {
          case "hour" => expr(s"unix_micros($source) div 3600000000L")
          case "day" => expr(s"unix_micros($source) div 86400000000L")
          case "year" => expr(Transform.yearSql(s"unix_micros($source)"))
          case "month" => expr(Transform.monthSql(s"unix_micros($source)"))
          case "truncate" =>
            expr(s"(unix_micros($source) div ${n}L) * ${n}L")
        }
      case _ => column
    }

  /** Derived value for a literal (what the reader prunes with) — the
    * same integer arithmetic as [[column]], or pruning would be WRONG.
    * `div` truncates toward zero, as Java `/` does; truncation is
    * monotone over integers, so range pruning stays sound even for
    * negative domains. */
  def derive(v: Long): Long = kind match {
    case "hour" => v / 3600000000L
    case "day" => v / 86400000000L
    // year/month are CALENDAR ordinals (Iceberg's transforms: years /
    // months since 1970-01) — floor-based epoch-day + proleptic
    // Gregorian arithmetic, exact on the WHOLE domain including
    // pre-1970 (unlike the trunc-div kinds, which are seam-limited to
    // the non-negative epoch — see IcebergExport's guard). Still
    // monotone, so range pruning holds.
    case "year" => Transform.yearOrdinal(v)
    case "month" => Transform.monthOrdinal(v)
    case "truncate" => v / n * n
    case "bucket" =>
      // Spark's xxhash64 with its default seed 42 over a LongType value
      ((org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        v, org.apache.spark.sql.types.LongType, 42L) % n) + n) % n
    case "mbucket" =>
      ((graft.functions.IcebergBucketHash.hashLong(v)
        & Int.MaxValue) % n.toInt).toLong
  }
  /** [[derive]] for a STRING literal — only the mbucket kind has a
    * string domain (Iceberg's bucket over UTF-8 bytes); every other
    * transform is long-sourced by construction. */
  def deriveStr(v: String): Long = kind match {
    case "mbucket" =>
      ((graft.functions.IcebergBucketHash.hashString(
        org.apache.spark.unsafe.types.UTF8String.fromString(v))
        & Int.MaxValue) % n.toInt).toLong
    case other => throw new IllegalArgumentException(
      s"transform '$other' has no string domain")
  }
}

object Transform {
  /** Hour partitioning over a µs-epoch Long column. */
  def hour(source: String): Transform = Transform(source, "hour", 0L)
  /** Day partitioning over a µs-epoch Long column. */
  def day(source: String): Transform = Transform(source, "day", 0L)
  /** YEAR partitioning (Iceberg's `year` transform: years since 1970,
    * proleptic-Gregorian calendar ordinal) over a µs-epoch Long or
    * TIMESTAMP column — the common long-retention layout. */
  def year(source: String): Transform = Transform(source, "year", 0L)
  /** MONTH partitioning (Iceberg's `month` transform: months since
    * 1970-01) over a µs-epoch Long or TIMESTAMP column. */
  def month(source: String): Transform = Transform(source, "month", 0L)

  /** Floor-based epoch-day + calendar SQL for the year/month write
    * columns — the SAME arithmetic as [[Transform.derive]], or pruning
    * would be wrong. `date_add(date'1970-01-01', days)` is pure DATE
    * arithmetic: no session-timezone dependence (Iceberg's transforms
    * are UTC-defined; a `year(ts)` via Spark's timestamp `year()`
    * would shift with spark.sql.session.timeZone). */
  /** Years since 1970 of a µs-epoch value — [[Transform.derive]] for
    * kind `year`, shared with the V2 `years` function (one definition:
    * writer layout, pruning, SPJ planning). */
  private[sources] def yearOrdinal(v: Long): Long =
    (java.time.LocalDate.ofEpochDay(
      Math.floorDiv(v, 86400000000L)).getYear - 1970).toLong
  /** Months since 1970-01 of a µs-epoch value. */
  private[sources] def monthOrdinal(v: Long): Long = {
    val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(v, 86400000000L))
    (d.getYear - 1970).toLong * 12L + (d.getMonthValue - 1)
  }

  private[sources] def epochDaySql(src: String): String =
    s"(($src div 86400000000L) + " +
      s"(CASE WHEN ($src % 86400000000L) < 0 THEN -1 ELSE 0 END))"
  private[sources] def yearSql(src: String): String =
    s"cast(year(date_add(date'1970-01-01', " +
      s"cast(${epochDaySql(src)} as int))) - 1970 as bigint)"
  private[sources] def monthSql(src: String): String = {
    val d = s"date_add(date'1970-01-01', cast(${epochDaySql(src)} as int))"
    s"cast((year($d) - 1970) * 12 + month($d) - 1 as bigint)"
  }
  /** Fixed-width value truncation (numeric range buckets). */
  def truncate(width: Long, source: String): Transform =
    Transform(source, "truncate", width)
  /** Hash bucketing into `n` buckets (point-lookup pruning). */
  def bucket(n: Int, source: String): Transform =
    Transform(source, "bucket", n.toLong)
  /** Iceberg-compatible hash bucketing (murmur3_x86_32, the public
    * Iceberg spec's bucket transform): same point-lookup pruning as
    * [[bucket]], AND the layout crosses the Iceberg seam — exports as
    * `bucket[n]` a foreign engine prunes identically, and foreign
    * `bucket[n]` specs import exactly. */
  def mbucket(n: Int, source: String): Transform =
    Transform(source, "mbucket", n.toLong)
}

/** One committed snapshot: the COMPLETE list of data files visible at
  * `version`, plus commit metadata. `tag` is an optional idempotence
  * key (e.g. a streaming micro-batch id): a writer that re-delivers
  * work can check the tag before re-committing it. `schemaJson` is
  * the snapshot's authoritative table schema (Iceberg keeps schema in
  * table metadata for the same reasons): appends validate against it
  * in O(1) instead of re-deriving it from O(files) parquet footers,
  * and reads hand it to the scan so no mergeSchema footer job ever
  * runs. Empty on legacy manifests → readers fall back to footer
  * merging. Each field carries a stable FIELD ID and its historical
  * physical names in the StructField metadata (see
  * [[LogTable.renameColumn]]); `retired` lists physical names of
  * DROPPED fields, blocked from re-use so old files' data can never
  * silently resurrect under a re-added name. */
/** A declared parquet-bloom-filter column: every future write carries
  * a native bloom filter for `col`, sized for `ndv` expected distinct
  * values (a structured manifest field — an encoded "col:ndv" string
  * would corrupt on a column name containing ':'). */
final case class BloomCol(col: String, ndv: Long)

final case class Snapshot(version: Long, parent: Long, operation: String,
    timestampMs: Long, files: Seq[DataFile], tag: String = "",
    schemaJson: String = "", checks: Map[String, String] = Map.empty,
    retired: Seq[String] = Nil, deletes: Seq[DeleteFile] = Nil,
    partCols: Seq[String] = Nil, transforms: Seq[Transform] = Nil,
    eqDeletes: Seq[EqDeleteFile] = Nil, bloomCols: Seq[BloomCol] = Nil,
    /** Table-level approximate distinct counts per column (lowercased
      * name), computed by [[LogTable.analyze]] (Iceberg's puffin-NDV
      * flow) and carried forward by subsequent commits until
      * recomputed — an estimate for the optimizer, never a
      * correctness input. */
    ndvs: Map[String, Long] = Map.empty,
    /** Segment composition of `files` (empty = all entries inline in
      * the manifest JSON): every file in a listed segment appears in
      * `files`, and `files` minus all segment paths is what the
      * manifest stores inline. Maintained by commit for structural
      * sharing; see [[Segment]]. */
    segs: Seq[Segment] = Nil,
    /** Pointer-resident planning metadata (see [[ReadMeta]]); None on
      * legacy manifests → consumers fall back to the full file list. */
    readMeta: Option[ReadMeta] = None,
    /** AUDIT PROPERTIES (Iceberg's snapshot summary): who wrote the
      * commit (`app-id`) and what it did in numbers (added/removed
      * file and row counts, totals) — the first thing an operator
      * greps after a bad commit. Free-form string map: writers may add
      * keys, and parse/render round-trip keys they don't know. */
    summary: Map[String, String] = Map.empty,
    /** Declared WRITE SORT ORDER (Iceberg's write.sort-order): data
      * writes locally sort their tasks' rows by these columns, so
      * every data file is internally ordered — tight parquet
      * row-group stats (intra-file pruning) and better run
      * compression. Advisory for writers; never a read-correctness
      * input. Empty = unordered writes. */
    sortCols: Seq[String] = Nil,
    /** TABLE PROPERTIES (Iceberg TBLPROPERTIES): free-form config
      * carried in the manifest; unknown keys round-trip untouched.
      * Keys this library honors: `write.max-records-per-file` (data
      * writes roll to a new file past this row count — the
      * target-file-size knob that keeps a wide ingest from writing
      * unsplittable multi-GB files). */
    props: Map[String, String] = Map.empty,
    /** THIS commit's CDC change files (see [[CdcFile]]); per-commit
      * payload — never inherited by the next snapshot. Empty unless
      * the committing operation was a COW delete/update/merge on a
      * table with `write.cdc.enabled`. */
    cdc: Seq[CdcFile] = Nil) {
  def totalRows: Long = files.map(_.rows).sum
  def totalBytes: Long = files.map(_.bytes).sum

  /** The files a scan with `filters` pushed must read — IDENTICAL to
    * `GraftPrune.filesFor(files, transforms, filters)` by
    * construction, but on a segmented snapshot it consults each
    * segment's pointer-resident partition summary FIRST and never
    * loads a segment every one of whose files is provably refuted
    * (see [[GraftPrune.segMayMatch]] for the soundness argument). At
    * 1M files a point lookup on the layout key plans from the
    * handful of overlapping segments instead of ~2k pool reads. */
  def prunedFiles(filters: Seq[Filter])
      : Seq[DataFile] = files match {
    case sf: SegmentedFiles if filters.nonEmpty =>
      val live = sf.segs.filter(s =>
        GraftPrune.segMayMatch(s.partVals, transforms, filters))
      GraftPrune.filesFor(SegmentedFiles.loadAll(live) ++ sf.inline,
        transforms, filters)
    case fs => GraftPrune.filesFor(fs, transforms, filters)
  }
  /** Rows visible to a reader of this snapshot: data-file rows minus
    * live position-delete entries — exact, because delete writers
    * scan delete-aware (never double-marking a position) and commits
    * GC delete files as their referenced data files leave. */
  def liveRows: Long = {
    val live = files.map(_.path).toSet
    totalRows - deletes.flatMap(_.counts).collect {
      case (p, n) if live.contains(p) => n }.sum
  }
}

/** A manifest-versioned parquet table — the Spark-native re-expression
  * of the reference's buffered-ingest → parquet-flush → atomic
  * multi-file Iceberg commit pipeline (reference README.md:191-212
  * "How It Works": writers flush parquet files, a leader commits them
  * atomically to an Iceberg table; init-setup.py:84-130 sets up that
  * catalog).
  *
  * Design (SURVEY.md §3): the table's visible state is defined ONLY by
  * a versioned manifest `_graft_log/v{NNNNN}.manifest.json` listing
  * every data file of that snapshot (directly, or — above the
  * [[Segment]] cap — by re-listing immutable shared segment files, so
  * commit metadata writes stay O(changed files), never O(table)). A
  * commit writes the new manifest to a temp name and atomically
  * hard-links it into place; readers load
  * `spark.read.parquet(files: _*)` from one manifest and NEVER list
  * the data directory. This yields, exactly as Iceberg's
  * snapshot+manifest design does:
  *
  *  - atomic multi-file appends (readers see all files of a commit or
  *    none — no dir-listing races with in-flight writers);
  *  - snapshot isolation + time travel (old manifests stay readable);
  *  - optimistic concurrency (version collision → reload state, retry
  *    with the next version number — the loser never clobbers the
  *    winner because link(2) is atomic create-or-fail; rename(2) would
  *    silently REPLACE and lose the winner's commit);
  *  - safe compaction (a replacing commit; concurrent readers of the
  *    old snapshot keep their file list until `expire` reclaims it).
  *
  * Scale notes: the manifest holds per-file (rows, bytes) stats so
  * planning (stats, bin-packing) never touches data; reads hand Spark
  * a concrete file list, so partition pruning / pushdown behave as any
  * parquet scan; appends are O(new files); compaction is first-fit
  * bin-packing over manifest metadata and rewrites ONLY small files,
  * never a global sort. On a real object store the atomic publish
  * becomes the catalog's compare-and-swap — isolated behind commit().
  */
final class LogTable private (val spark: SparkSession, val root: String,
    val partitionBy: Seq[String], logSubdir: String,
    val hiddenBy: Seq[Transform] = Nil,
    private[sources] val io: GraftFileIO = GraftFileIO.Local) {
  import LogTable._

  private val rootPath = Paths.get(root)
  private val dataDir = rootPath.resolve("data")
  private val mainLogDir = rootPath.resolve(ManifestDir)
  private val logDir = rootPath.resolve(logSubdir)
  private[sources] def isBranchHandle: Boolean = logSubdir != ManifestDir

  /** (version, path) for every committed manifest in `dir`, ascending
    * — through the storage seam (the manifest layer never touches the
    * filesystem directly). */
  private def listManifests(dir: Path): Seq[(Long, Path)] =
    io.list(dir).flatMap {
      case n @ ManifestRe(v) => Some((v.toLong, dir.resolve(n)))
      case _ => None
    }.sortBy(_._1)

  // ---------------------------------------------------------------- reads

  /** All committed versions, ascending (empty table → Seq(0)). */
  def versions: Seq[Long] =
    listManifests(logDir).map(_._1)

  /** Latest committed version (0 = empty table, no commits yet). */
  def currentVersion: Long = versions.lastOption.getOrElse(0L)

  /** Load one snapshot's manifest. Committed manifests are immutable
    * (commit() never replaces an existing version file), so parsed
    * snapshots are cached per version — history() and the commit retry
    * loop read each manifest once, not O(versions) times per call.
    * expire() evicts dropped versions. */
  def snapshot(version: Long = currentVersion): Snapshot = {
    if (version == 0L) Snapshot(0L, 0L, "empty", 0L, Nil)
    else snapCache.computeIfAbsent(version,
      v => parseManifest(io.readString(manifestPath(logDir, v))))
  }

  private val snapCache = new java.util.concurrent.ConcurrentHashMap[Long, Snapshot]()

  /** Manifest-scoped scan of the CURRENT snapshot. */
  def read(): DataFrame = timeTravel(currentVersion)

  /** Manifest-scoped scan of any committed snapshot — time travel. */
  def timeTravel(version: Long): DataFrame = {
    val snap = snapshot(version)
    if (snap.files.isEmpty) emptyLike()
    else readLive(snap, snap.files)
  }

  /** Pin a NAMED REF to a snapshot version (Iceberg tags: `prod`,
    * `audit-2024Q1`, ...) — the handle an operational deployment hands
    * to consumers instead of raw version numbers. Refs are immutable
    * once created (atomic create-or-fail, like commits); re-pointing a
    * name means deleting and re-creating it. The referenced snapshot
    * is NOT protected from expire — drop refs before expiring their
    * versions, as with Iceberg. */
  def createRef(name: String, version: Long = currentVersion): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid ref name '$name'")
    require(versions.contains(version), s"cannot tag unknown version $version")
    // atomic create-or-fail publish (an overwriting write would
    // silently re-point a concurrently-created ref — see commit())
    if (!io.publishAtomic(logDir.resolve(s"ref-$name"), version.toString))
      throw new IllegalStateException(
        s"ref '$name' already exists (refs are immutable; dropRef first)")
  }

  /** Resolve a named ref to its pinned version (error if absent). */
  def refVersion(name: String): Long = {
    val p = logDir.resolve(s"ref-$name")
    require(io.exists(p), s"no such ref '$name'")
    io.readString(p).trim.toLong
  }

  /** All named refs, (name, version), sorted by name. */
  def refs: Seq[(String, Long)] = {
    io.list(logDir).filter(_.startsWith("ref-")).map { n =>
      n.stripPrefix("ref-") -> io.readString(logDir.resolve(n)).trim.toLong
    }.sortBy(_._1)
  }

  /** Read the snapshot a named ref pins. */
  def readRef(name: String): DataFrame = timeTravel(refVersion(name))

  /** Remove a named ref (the snapshot itself is untouched). */
  def dropRef(name: String): Unit =
    io.delete(logDir.resolve(s"ref-$name"))

  // ------------------------------------------------- branches (WAP)

  /** Create a WRITABLE BRANCH at the current snapshot (Iceberg
    * branches / the write-audit-publish pattern): the branch starts
    * with main's current file list and then evolves its OWN manifest
    * lineage under `_graft_log/branch-<name>/`. Writers append /
    * delete / merge / compact on the branch handle with the full
    * commit machinery while main's readers see NOTHING — then an
    * audit reads the branch, and [[fastForward]] publishes it to main
    * atomically. Data files are shared (branch commits write into the
    * same data/ pool), so branching is O(1) metadata, as in Iceberg.
    * Branch creation is atomic create-or-fail, like commits. */
  def createBranch(name: String): LogTable = {
    require(!isBranchHandle, "cannot branch from a branch (single-level, as Iceberg)")
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid branch name '$name'")
    val bdir = logDir.resolve(s"branch-$name")
    io.mkdirs(bdir)
    // base manifest v1 = main's current files; tag records the main
    // version the branch forked from (the fast-forward precondition).
    // ONE snapshot read for both: reading files and version separately
    // would let a commit land in between, recording a fork point one
    // ahead of the captured file list — and fastForward's guard would
    // then silently drop that commit.
    val fork = snapshot()
    // fork.segs carried: the branch's base manifest re-lists main's
    // segment names from the shared pool — branch creation stays O(1)
    // metadata even on a million-file table
    // partCols/transforms ride along with readMeta: the pointer's
    // layoutComplete/layoutParts describe fork's layout, so the branch
    // base must declare that same spec or the metadata would describe
    // a spec the snapshot doesn't have (SpjLayout.of only stays safe
    // today because it bails on an empty spec — don't rely on it)
    val base = Snapshot(1L, 0L, "branch", System.currentTimeMillis(),
      fork.files, s"base-v${fork.version}", fork.schemaJson, fork.checks,
      fork.retired, fork.deletes, partCols = fork.partCols,
      transforms = fork.transforms, eqDeletes = fork.eqDeletes,
      segs = fork.segs, readMeta = fork.readMeta)
    if (!io.publishAtomic(manifestPath(bdir, 1L), renderManifest(base)))
      throw new IllegalStateException(s"branch '$name' already exists")
    branch(name)
  }

  /** Handle to an existing branch: a full LogTable over the branch's
    * manifest lineage — every read/write/maintenance operation works,
    * isolated from main. */
  def branch(name: String): LogTable = {
    require(!isBranchHandle, "cannot open a branch from a branch")
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid branch name '$name'")
    require(io.exists(logDir.resolve(s"branch-$name").resolve(
      f"v${1L}%05d.manifest.json")), s"no such branch '$name'")
    new LogTable(spark, root, partitionBy, s"$ManifestDir/branch-$name",
      hiddenBy, io)
  }

  /** All branch names, sorted. */
  def branches: Seq[String] =
    io.listDirs(mainLogDir).filter(_.startsWith("branch-"))
      .map(_.stripPrefix("branch-")).sorted

  /** PUBLISH a branch to main (Iceberg fast-forward — the "P" of
    * write-audit-publish): main atomically adopts the branch head's
    * file list as one new commit. Precondition, checked INSIDE the
    * commit retry loop so it is race-free: main must not have advanced
    * past the branch's fork point — if it has, the branch's view no
    * longer contains main's newer commits and fast-forwarding would
    * silently drop them; the caller must re-branch and replay (same
    * contract as Iceberg's fast_forward). The branch stays intact;
    * drop it when done. */
  def fastForward(name: String, tag: String = ""): Snapshot = {
    require(!isBranchHandle, "fast-forward publishes TO main; call on the main handle")
    val b = branch(name)
    val baseVersion = {
      val t = b.snapshot(1L).tag
      require(t.startsWith("base-v"), s"branch '$name' has no fork-point record")
      t.stripPrefix("base-v").toLong
    }
    val head = b.snapshot()
    // `tag` makes the publish idempotent, like append's: a WAP loop
    // that crashes between publish and checkpoint advance re-delivers
    // the batch, and the tag check inside the closure drops it
    commit("publish", tag, nextSchema = _ => head.schemaJson,
        nextChecks = _ => head.checks,
        nextRetired = _ => head.retired,
        nextDeletes = _ => head.deletes,
        nextEqDeletes = _ => head.eqDeletes,
        // main adopts the branch head's PARTITION SPEC along with its
        // files: an evolveSpec inside a transaction/WAP branch laid the
        // adopted files out under the NEW spec, so publishing them
        // while re-recording the pre-fork spec would mislabel the
        // manifest relative to the on-disk layout
        nextSpec = Some((head.partCols, head.transforms)),
        segHints = head.segs) { prev =>
      if (tag.nonEmpty && hasTag(tag)) return snapshot()
      if (prev.version != baseVersion)
        throw new IllegalStateException(
          s"main advanced to v${prev.version} since branch '$name' forked at " +
            s"v$baseVersion — re-branch and replay instead of dropping main's commits")
      head.files
    }
  }

  /** Delete a branch's manifest lineage. Data files referenced only by
    * the branch become orphans, reclaimed by the age-guarded
    * [[removeOrphans]] — never immediately, so in-flight branch readers
    * finish their scans. */
  def dropBranch(name: String): Unit = {
    require(!isBranchHandle, "drop branches from the main handle")
    // same validation as createBranch — a path-segment name would
    // resolve outside the branch tree and recursively delete it
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid branch name '$name'")
    io.deleteTree(logDir.resolve(s"branch-$name"))
  }

  /** MULTI-STATEMENT ATOMIC TRANSACTION (Iceberg `Table.newTransaction`;
    * the reference's Trino surface batches DML the same way): every
    * operation `body` performs on the handle it receives — append,
    * delete, merge, compact, schema DDL — stages against a private
    * lineage, and the combined result publishes to main as ONE atomic
    * commit. Until then main's readers see NOTHING; inside the
    * transaction reads see all prior staged statements
    * (read-your-writes). If `body` throws, main is untouched and the
    * staged lineage is dropped — all-or-nothing.
    *
    * Built from the branch machinery, so every guarantee is inherited
    * rather than re-implemented: staging = an ephemeral branch (O(1)
    * metadata, shared data pool — cheap at any table size), publish =
    * [[fastForward]] (atomic create-or-fail pointer swap), conflict
    * detection = the fork-point guard (a commit that lands on main
    * mid-transaction makes the publish REFUSE loudly — serializable,
    * never silently dropping the concurrent commit; re-run the
    * transaction). Data files staged by an aborted transaction become
    * orphans reclaimed by the age-guarded [[removeOrphans]].
    *
    * A read-only `body` (no staged commits) publishes nothing — main's
    * history gains no commit. */
  def transaction[T](body: LogTable => T): Snapshot = {
    require(!isBranchHandle, "transactions run on the main handle")
    val name = s"txn-${java.util.UUID.randomUUID().toString.take(13)}"
    createBranch(name)
    try {
      body(branch(name))
      val staged = branch(name).snapshot()
      val result =
        if (staged.version == 1L) snapshot() // read-only: nothing to publish
        else fastForward(name, tag = s"txn:$name")
      dropBranch(name)
      result
    } catch {
      case e: Throwable =>
        try dropBranch(name) catch { case _: Throwable => () }
        throw e
    }
  }

  /** Timestamp time travel (Iceberg `FOR SYSTEM_TIME AS OF ts` / the
    * reference's "query the table as of 10 minutes ago"): read the
    * latest snapshot committed at or before `tsMs`. Throws if the
    * table has no snapshot that old (same contract as Iceberg — the
    * history before the first commit, or expired history, cannot be
    * reconstructed). */
  def timeTravelAsOf(tsMs: Long): DataFrame = {
    val v = versions.filter(v => snapshot(v).timestampMs <= tsMs)
    require(v.nonEmpty,
      s"no snapshot committed at or before $tsMs (oldest retained: " +
        s"${versions.headOption.map(snapshot(_).timestampMs).getOrElse("none")})")
    timeTravel(v.max)
  }

  /** Partition-pruned scan: keep only the files whose manifest
    * partition values satisfy `pred` — pruning runs on manifest
    * metadata only, no data or directory I/O (Iceberg's manifest
    * pruning). At 100 TB this is what turns a full scan into a
    * single-partition read. */
  def readWhere(pred: Map[String, String] => Boolean): DataFrame = {
    val snap = snapshot()
    // spec evolution makes file-level partition selection unsound for
    // files that predate the current spec: their partition map lacks
    // the current keys, so the caller's pred can neither select nor
    // exclude them correctly. Fail loudly with the remedies instead of
    // silently dropping pre-evolution rows.
    val stale = snap.partCols.filter(c =>
      snap.files.exists(f => !f.partitions.contains(c)))
    require(stale.isEmpty,
      s"readWhere: data file(s) predate the current partition spec and " +
        s"carry no value for [${stale.mkString(", ")}] — use " +
        "read().filter / readRange (row-exact), or migrate the layout " +
        "with compact(smallBytes = Long.MaxValue)")
    val keep = snap.files.filter(f => pred(f.partitions))
    if (keep.isEmpty) emptyLike() else readLive(snap, keep)
  }

  /** The current snapshot and the files `filters` (built from that
    * snapshot, so its transforms apply) cannot rule out. */
  private def pruned(filters: Snapshot => Seq[Filter]): (Snapshot, Seq[DataFile]) = {
    val snap = snapshot() // ONE read: file list and schema must pair up
    (snap, snap.prunedFiles(filters(snap)))
  }

  /** The typed reads' one body: the [[pruned]] files, read
    * delete-aware, then the exact row-level `residual`. */
  private def readPruned(filters: Snapshot => Seq[Filter],
      residual: Option[Column] = None): DataFrame = {
    val (snap, keep) = pruned(filters)
    val base = if (keep.isEmpty) emptyLike() else readLive(snap, keep)
    // a never-committed table has no schema to resolve the residual
    // filter against — its empty frame is already the right answer;
    // on a table WITH a schema a bad column name still fails loudly
    residual match {
      case Some(r) if base.columns.nonEmpty => base.filter(r)
      case _ => base
    }
  }

  private def within(column: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(column, lo), LessThanOrEqual(column, hi))

  /** Rows with `column` in [lo, hi], opening only the files the
    * manifest cannot rule out. The typed reads (this, [[readPoint]],
    * [[readBuckets]], [[readRangeStr]], [[readPointStr]]) and their
    * `files*` twins prune through [[Snapshot.prunedFiles]], the same
    * evaluator as the SQL/DSv2 scan: column stats, identity and
    * hidden-transform directory keys, dictionary value sets and
    * segment summaries (only segments that can match are loaded). A
    * file is skipped only when that metadata proves no row in it
    * matches, and the residual row filter keeps the result exact. On
    * a time-ordered log table this turns "last hour" into a
    * handful-of-files scan with zero data I/O spent planning. */
  def readRange(column: String, lo: Long, hi: Long): DataFrame =
    readPruned(_ => within(column, lo, hi),
      Some(col(column) >= lo && col(column) <= hi))

  /** Files a [lo, hi] window on `column` opens — exposed so tests (and
    * operators) can assert skipping actually happened. */
  def filesInRange(column: String, lo: Long, hi: Long): Seq[DataFile] =
    pruned(_ => within(column, lo, hi))._2

  /** Rows with `column` = `value`, pruned like [[readRange]] (the
    * SQL/DSv2 scan's evaluator). On a `bucket(n, user_id)`-laid table
    * this is the "all activity of user X" query at 1/n of the I/O. */
  def readPoint(column: String, value: Long): DataFrame =
    readPruned(_ => Seq(EqualTo(column, value)), Some(col(column) === value))

  /** Files a point lookup must open. */
  def filesForPoint(column: String, value: Long): Seq[DataFile] =
    pruned(_ => Seq(EqualTo(column, value)))._2

  /** BUCKET-SET read for probe joins (the continuous-ingest band
    * index's pruning lever): on a table laid out by a bucket
    * transform over `column`, open ONLY the files whose bucket
    * directory value is in `bucketIds` — an arriving batch's own
    * bucket footprint, so a probe's I/O scales with the BATCH, not
    * with the index it probes. No residual filter: callers JOIN on
    * the key (the join is the exact filter). Pruned like
    * [[readRange]] (the SQL/DSv2 scan's evaluator), as an `In` over
    * each bucket transform's directory key; on a table without a
    * bucket layout this degrades to a full read (pruning is a layout
    * property, never a correctness one). */
  def readBuckets(column: String, bucketIds: Set[Long]): DataFrame =
    readPruned(bucketFilters(_, column, bucketIds))

  /** Files a bucket-set probe must open. */
  def filesForBuckets(column: String, bucketIds: Set[Long]): Seq[DataFile] =
    pruned(bucketFilters(_, column, bucketIds))._2

  private def bucketFilters(snap: Snapshot, column: String,
      bucketIds: Set[Long]): Seq[Filter] =
    snap.transforms.filter(t => !t.monotonic && t.source.equalsIgnoreCase(column))
      .map(t => In(t.colName, bucketIds.toArray[Any]))

  /** [[readRange]] for STRING columns: rows with `column` in the
    * CLOSED lexical interval [lo, hi], pruned like [[readRange]] (the
    * SQL/DSv2 scan's evaluator). A dictionary-ish log column (op name,
    * event type, language, ...) clustered by recluster() prunes to the
    * few files holding the wanted values. */
  def readRangeStr(column: String, lo: String, hi: String): DataFrame =
    readPruned(_ => within(column, lo, hi),
      Some(col(column) >= lo && col(column) <= hi))

  /** Files a lexical [lo, hi] window on string `column` opens. */
  def filesInRangeStr(column: String, lo: String, hi: String): Seq[DataFile] =
    pruned(_ => within(column, lo, hi))._2

  /** [[readPoint]] for STRING columns, pruned like [[readRange]] (the
    * SQL/DSv2 scan's evaluator): on an `mbucket(n, doc_id)`-laid
    * corpus only the key's bucket directory opens, 1/n of the table
    * regardless of value order. */
  def readPointStr(column: String, value: String): DataFrame =
    readPruned(_ => Seq(EqualTo(column, value)), Some(col(column) === value))

  /** Files a string point lookup must open. */
  def filesForPointStr(column: String, value: String): Seq[DataFile] =
    pruned(_ => Seq(EqualTo(column, value)))._2

  /** Incremental read (Iceberg's incremental append scan): the rows
    * ADDED between `fromVersion` (exclusive) and `toVersion`
    * (inclusive) — i.e. the data files present in `toVersion` but not
    * in `fromVersion`. Exact for append-only history, which is the
    * reference's ingest shape (README.md:191-212: appends every flush
    * interval); across a compact/delete/merge boundary the rewritten
    * files would surface as "new", so callers consuming a changelog
    * should read between maintenance points — the same restriction
    * Iceberg's incremental append scan carries. */
  def readChanges(fromVersion: Long, toVersion: Long = currentVersion): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val before = snapshot(fromVersion).files.map(_.path).toSet
    val to = snapshot(toVersion)
    val added = to.files.filterNot(f => before.contains(f.path))
    if (added.isEmpty) emptyLike() else readLive(to, added)
  }

  /** Incremental APPEND scan with maintenance tolerance — the tailing
    * consumer's read primitive (Iceberg's incremental append scan has
    * the same contract): the rows appended strictly after
    * `fromVersion`, up to and including `toVersion`, computed by
    * walking each commit's own added files. Row-PRESERVING rewrites
    * (compact, recluster) contribute nothing — their rewritten files
    * carry only rows already delivered — so a tail safely spans the
    * reference's in-loop compaction cadence, where plain
    * [[readChanges]] would re-surface compacted rows as new.
    * Row-CHANGING operations (delete/update/merge/rollback/publish)
    * cannot be represented as appends and throw: a changelog consumer
    * must handle those at maintenance boundaries, exactly as with
    * Iceberg. */
  def readAppends(fromVersion: Long, toVersion: Long = currentVersion): DataFrame = {
    val added = appendedFilesBetween(fromVersion, toVersion)
    if (added.isEmpty) emptyLike()
    else readFiles(added, snapshot(toVersion).schemaJson)
  }

  /** The data files APPENDED in (fromVersion, toVersion] — the manifest
    * walk behind [[readAppends]], exposed so the DSv2 streaming source
    * ([[GraftTableProvider]]) can plan one InputPartition per appended
    * file with the identical maintenance-tolerant contract:
    * row-preserving rewrites contribute nothing, row-changing
    * operations throw. */
  def appendedFilesBetween(fromVersion: Long, toVersion: Long): Seq[DataFile] = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    ((fromVersion + 1) to toVersion).flatMap { v =>
      val snap = snapshot(v)
      snap.operation match {
        case "append" =>
          val parentPaths = snapshot(snap.parent).files.map(_.path).toSet
          snap.files.filterNot(f => parentPaths.contains(f.path))
        // row-preserving commits: rewrites carry only already-delivered
        // rows; schema/spec evolution and checks are metadata-only
        case "compact" | "recluster" | "set-check" | "set-bloom" |
             "set-sort" | "set-props" | "drop-lineage" |
             "evolve-schema" | "evolve-spec" => Nil
        case other => throw new LogTable.MaintenanceBoundaryException(
          s"cannot read v$v as appends: operation '$other' changes rows; " +
            "consume the changelog up to the maintenance boundary first")
      }
    }
  }

  /** CHANGE-DATA-CAPTURE read (Delta's change data feed / Iceberg's
    * changelog scan): every row-level change committed in
    * (`fromVersion`, `toVersion`], as the table's columns (conformed
    * to `toVersion`'s schema) plus `_change_type` ('insert' |
    * 'delete') and `_commit_version`. An UPDATE surfaces as its old
    * row deleted plus its new row inserted in the same commit — net
    * changes, exactly Iceberg's changelog contract. Row-preserving
    * maintenance (compact/recluster) and metadata commits contribute
    * nothing.
    *
    * HOW (and the scale story): appends emit their added files' live
    * rows directly — O(delta). Every other commit diffs live rows
    * across the boundary, restricted to the files that could have
    * changed visibility: the snapshot file-list symmetric difference,
    * plus kept files whose position-delete marks differ, plus (only
    * when the equality-tombstone set changed — tombstones apply
    * table-wide by sequence) all kept files. Within that bounded set
    * the diff is two multiset EXCEPT ALLs — one shuffle each over
    * changed files' rows, never a whole-table scan for COW/MoR
    * row-level operations. Rows must be comparable (no map-typed
    * columns), the SQL set-op restriction.
    *
    * Both boundary snapshots must still be live (readable through
    * time travel) — expire() removes the history CDC reads. */
  def readCdc(fromVersion: Long, toVersion: Long = currentVersion): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    // diffing (v, parent(v)] needs both manifests; expire() deletes
    // old ones — fail with the remedy, not a raw missing-file read
    val floor = GraftCdcUtil.replayFloor(this)
    if (fromVersion < floor) GraftCdcUtil.expiredError(root, fromVersion, floor)
    val target = schemaOf(snapshot(toVersion))
    require(target.nonEmpty, "cannot CDC-read a table with no schema yet")
    def conform(df: DataFrame): DataFrame =
      df.select(target.map { f =>
        if (df.columns.exists(_.equalsIgnoreCase(f.name)))
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    def stamp(df: DataFrame, change: String, v: Long): DataFrame =
      df.withColumn(LogTable.ChangeTypeCol, lit(change))
        .withColumn(LogTable.CommitVersionCol, lit(v))
    val empty = stamp(conform(emptyLike()), "insert", 0L).limit(0)
    val frames = ((fromVersion + 1) to toVersion).map { v =>
      val cur = snapshot(v)
      val par = snapshot(cur.parent)
      cur.operation match {
        // commit-time CHANGE FILES (write.cdc.enabled): the committing
        // COW operation already recorded its exact pre/post-images —
        // read them instead of row-diffing the rewrite
        case _ if cur.cdc.nonEmpty =>
          cur.cdc.groupBy(_.change).toSeq.sortBy(_._1).map { case (chg, fs) =>
            stamp(conform(spark.read.parquet(fs.map(_.path): _*)), chg, v)
          }.reduce(_ unionByName _)
        case "append" =>
          val parPaths = par.files.map(_.path).toSet
          val added = cur.files.filterNot(f => parPaths.contains(f.path))
          if (added.isEmpty) empty
          else stamp(conform(readLive(cur, added)), "insert", v)
        case "compact" | "recluster" | "analyze" | "set-check" |
             "set-bloom" | "set-sort" | "set-props" | "drop-lineage" |
             "evolve-schema" | "evolve-spec" =>
          empty
        // A MoR delete is a VISIBILITY-only commit: no data file is
        // added or removed, and the delta is exactly "the rows at the
        // newly added position marks" (deleteMor marks only rows live
        // under the parent snapshot). Read ONLY the files the new
        // marks reference and keep the marked rows — O(marked files)
        // with no exceptAll, where the generic rewrite diff below
        // reads every affected file TWICE and runs two full-width
        // exceptAll shuffles for the same answer (measured 4.2 s →
        // sub-second on the near-dedup MV refresh at sf0.1). Mixed
        // mark encodings in one commit never happen (writeDeleteFiles
        // emits one form per commit) — fall through defensively.
        case "mor-delete"
            if {
              val parDelPaths = par.deletes.map(_.path).toSet
              val nd = cur.deletes.filterNot(d => parDelPaths.contains(d.path))
              val (dvs, pqs) = nd.partition(d => DeletionVectors.isVector(d.path))
              val budget = spark.conf.getOption("graft.deletes.broadcast.bytes")
                .map(_.toLong).getOrElse(64L << 20)
              (dvs.isEmpty || pqs.isEmpty) && nd.map(_.bytes).sum <= budget
            } =>
          val parDelPaths = par.deletes.map(_.path).toSet
          val newDel = cur.deletes.filterNot(d => parDelPaths.contains(d.path))
          if (newDel.isEmpty) empty
          else {
            val refd = newDel.flatMap(_.refPaths).toSet
            val files = par.files.filter(f => refd.contains(f.path))
            // rows VISIBLE UNDER THE PARENT (pre-delete), position-tagged;
            // new marks only ever target these by construction, and the
            // visibility read keeps an already-dead row from re-reporting
            val live = readLivePos(par, files)
            val (dvs, pqs) = newDel.partition(d =>
              DeletionVectors.isVector(d.path))
            val marked =
              if (pqs.isEmpty)
                DeletionVectors.keepDeleted(live,
                  DeletionVectors.readAll(dvs.map(_.path)))
              else {
                import org.apache.spark.sql.functions.broadcast
                val dels = spark.read.schema(LogTable.DeleteSchema)
                  .parquet(pqs.map(_.path): _*)
                  .withColumnRenamed("file_path", LogTable.FileCol)
                  .withColumnRenamed("pos", LogTable.PosCol)
                live.join(broadcast(dels),
                  Seq(LogTable.FileCol, LogTable.PosCol), "left_semi")
              }
            stamp(conform(
              marked.drop(LogTable.FileCol, LogTable.PosCol)), "delete", v)
          }
        case _ =>
          val parPaths = par.files.map(_.path).toSet
          val curPaths = cur.files.map(_.path).toSet
          val added = cur.files.filterNot(f => parPaths.contains(f.path))
          val removed = par.files.filterNot(f => curPaths.contains(f.path))
          // kept files whose VISIBILITY marks changed across the
          // boundary: position-delete diff names its files exactly;
          // an equality-tombstone change is table-wide (sequence
          // scoped), so every kept file is conservatively in scope
          val parDel = par.deletes.toSet
          val curDel = cur.deletes.toSet
          val delDiff = ((parDel diff curDel) ++ (curDel diff parDel))
            .flatMap(_.counts.keySet)
          val eqChanged = par.eqDeletes.toSet != cur.eqDeletes.toSet
          def affectedKept(files: Seq[DataFile], other: Set[String]) =
            files.filter(f => other.contains(f.path) &&
              (eqChanged || delDiff.contains(f.path)))
          val beforeFiles = removed ++ affectedKept(par.files, curPaths)
          val afterFiles = added ++ affectedKept(cur.files, parPaths)
          if (beforeFiles.isEmpty && afterFiles.isEmpty) empty
          else {
            val before = conform(
              if (beforeFiles.isEmpty) emptyLike() else readLive(par, beforeFiles))
            val after = conform(
              if (afterFiles.isEmpty) emptyLike() else readLive(cur, afterFiles))
            stamp(after.exceptAll(before), "insert", v)
              .unionByName(stamp(before.exceptAll(after), "delete", v))
          }
      }
    }
    frames.reduceOption(_ unionByName _).getOrElse(empty)
  }

  /** Read a concrete file list; basePath lets Spark re-derive the
    * hive-style partition columns from the data paths. When the
    * snapshot carries its schema (`schemaJson`), the scan gets it
    * EXPLICITLY — no footer-merge job, files missing newer columns
    * read them as null (add-column evolution), and planning cost stops
    * growing with file count. Legacy snapshots without a recorded
    * schema fall back to mergeSchema footer unioning. With `withPos`,
    * the frame additionally carries [[LogTable.FileCol]] /
    * [[LogTable.PosCol]] — each row's source file and row index,
    * straight from the scan's `_metadata` column (the join axes of
    * position deletes, and the file-discovery tag of the COW paths). */
  private def readFiles(files: Seq[DataFile], schemaJson: String = "",
      withPos: Boolean = false,
      /** Extra PHYSICAL columns to surface from the files beyond the
        * table schema — the materialized row-lineage columns of the
        * rewrite read path. Explicit-schema scans only: files lacking
        * a requested column read it as null (the same add-column
        * evolution contract the schema'd scan already relies on). */
      extraPhys: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame = {
    require(extraPhys.isEmpty || schemaJson.nonEmpty,
      "physical extra columns need an explicit snapshot schema")
    // PARTITION-SPEC EVOLUTION: files written under different specs
    // have different directory shapes (a file from before `evolveSpec`
    // may sit at data/ while newer ones sit under k=v/ dirs) — Spark's
    // partition discovery rejects mixed depths ("conflicting directory
    // structures"). Scan each layout group separately (groups share a
    // directory shape by construction) and union; single-spec tables
    // take zero extra work (one group = the plain path below).
    // ... and SHALLOW CLONES borrow files under OTHER tables' roots:
    // Spark validates that basePath is an ancestor of every scanned
    // file, so groups additionally split by each file's own data-pool
    // root (the borrowed files' source dataDir vs this table's own)
    val layouts = files.groupBy(f =>
      (f.partitions.keySet, LogTable.dataBaseOf(f.path)))
    if (layouts.size > 1)
      return layouts.toSeq.sortBy(_._2.head.path)
        .map { case ((_, base), g) =>
          readFilesUniform(g, schemaJson, withPos, base, extraPhys) }
        // schema'd groups project identical columns; the legacy
        // footer-merge path may not — null-fill rather than fail
        .reduce(_.unionByName(_, allowMissingColumns = true))
    readFilesUniform(files, schemaJson, withPos,
      layouts.keysIterator.nextOption().map(_._2)
        .getOrElse(dataDir.toString), extraPhys)
  }

  private def readFilesUniform(files: Seq[DataFile], schemaJson: String,
      withPos: Boolean, basePath: String,
      extraPhys: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    def posCols: Seq[org.apache.spark.sql.Column] =
      if (!withPos) Nil
      else Seq(col("_metadata.file_path").as(LogTable.FileCol),
        col("_metadata.row_index").as(LogTable.PosCol))
    val r = spark.read.option("basePath", basePath)
    if (schemaJson.isEmpty) {
      // legacy footer-merge path: partition DISCOVERY would surface the
      // hidden `_p_*` directory keys as columns — project them out
      val raw = r.option("mergeSchema", "true").parquet(files.map(_.path): _*)
      val keep = raw.columns.filterNot(_.startsWith("_p_"))
      return raw.select(keep.toIndexedSeq.map(col) ++ posCols: _*)
    }
    val schema = LogTable.parseSchema(schemaJson)
    if (schema.forall(f => LogTable.prevNames(f).isEmpty &&
        !LogTable.hasNestedRenames(f.dataType))) {
      val fast = r.schema(org.apache.spark.sql.types.StructType(
          schema.fields ++ extraPhys))
        .parquet(files.map(_.path): _*)
      // defensive: if partition discovery surfaces hidden keys anyway,
      // project them out — they are layout, not data
      val keep = fast.columns.filterNot(_.startsWith("_p_"))
      return fast.select(keep.toIndexedSeq.map(col) ++ posCols: _*)
    }
    // RENAME-AWARE scan: a renamed field's values live under its OLD
    // name in files written before the rename and under the new name
    // after — no file was rewritten (rename is metadata-only, as
    // Iceberg). Scan the physical-name union (each file supplies at
    // most one of a field's names; the others read as null) and
    // coalesce per field back to the logical schema — per top-level
    // column, and through [[LogTable.renameFixCol]]'s struct rebuild
    // for NESTED rename history. Only tables with rename history pay
    // this projection; everyone else stays on the fast path above.
    import org.apache.spark.sql.types.{StructField, StructType}
    val phys = StructType(schema.flatMap { f =>
      val pdt = LogTable.physicalType(f.dataType)
      f.copy(dataType = pdt) +:
        LogTable.prevNames(f).map(p => StructField(p, pdt, nullable = true))
    } ++ extraPhys)
    r.schema(phys).parquet(files.map(_.path): _*)
      .select(schema.map { f =>
        val names = f.name +: LogTable.prevNames(f)
        val base =
          if (names.size == 1) col(f.name)
          else coalesce(names.map(col): _*)
        LogTable.renameFixCol(base, f.dataType).as(f.name, f.metadata)
      } ++ extraPhys.map(f => col(f.name)) ++ posCols: _*)
  }

  /** Snapshot-scoped DELETE-AWARE read of `files` (any subset of
    * `snap.files`): rows marked in the snapshot's position-delete
    * files are anti-joined away. Tables without merge-on-read deletes
    * (and file subsets no delete file touches) stay on the plain
    * multi-file parquet scan — zero overhead. The anti-join build side
    * is the delete files, explicitly broadcast while small (the
    * steady state between compactions); past the broadcast budget the
    * planner's shuffled anti-join takes over, which still scales —
    * the join key (file, pos) is perfectly distributable. */
  private def readLive(snap: Snapshot, files: Seq[DataFile]): DataFrame = {
    // outstanding EQUALITY deletes need per-row file identity for the
    // sequence guard — route through the pos-carrying read
    if (snap.eqDeletes.nonEmpty)
      return readLivePos(snap, files).drop(LogTable.FileCol, LogTable.PosCol)
    val refd = files.map(_.path).toSet & snap.deletes.flatMap(_.refPaths).toSet
    if (refd.isEmpty) return readFiles(files, snap.schemaJson)
    val (dirty, clean) = files.partition(f => refd.contains(f.path))
    val cleaned = antiJoinDeletes(snap,
        readFiles(dirty, snap.schemaJson, withPos = true), refd)
      .drop(LogTable.FileCol, LogTable.PosCol)
    if (clean.isEmpty) cleaned
    else cleaned.unionByName(readFiles(clean, snap.schemaJson))
  }

  /** Delete-aware read that KEEPS the FileCol/PosCol metadata columns
    * (each live row's source file and row index) — the core the COW
    * discovery paths and the MoR delete writer share: both must see
    * post-delete rows (or they would resurrect MoR-deleted rows), and
    * both need to know where every surviving row lives. */
  private def readLivePos(snap: Snapshot, files: Seq[DataFile],
      extraPhys: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame = {
    val refd = files.map(_.path).toSet & snap.deletes.flatMap(_.refPaths).toSet
    val (dirty, clean) = files.partition(f => refd.contains(f.path))
    val parts = Seq(
      if (dirty.isEmpty) None
      else Some(antiJoinDeletes(snap,
        readFiles(dirty, snap.schemaJson, withPos = true, extraPhys), refd)),
      if (clean.isEmpty) None
      else Some(readFiles(clean, snap.schemaJson, withPos = true,
        extraPhys))).flatten
    applyEqDeletes(snap, parts.reduce(_ unionByName _), files)
  }

  /** Anti-join `df` (carrying FileCol) against the snapshot's
    * EQUALITY-delete files, under the data-sequence guard: a delete
    * marks only rows of files OLDER than it (DataFile.seq <
    * EqDeleteFile.seq) — rows appended after the delete survive. The
    * per-row sequence comes from a tiny broadcast (path → seq) map;
    * key sets build-side broadcast under the same budget as position
    * deletes. */
  private def applyEqDeletes(snap: Snapshot, df: DataFrame,
      files: Seq[DataFile]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace}
    if (snap.eqDeletes.isEmpty) return df
    import spark.implicits._
    val seqMap = broadcast(
      files.map(f => (f.path, f.seq)).toDF("_graft_path", "_graft_seq"))
    // FileCol carries the scan's URI rendering ("file:///abs/...");
    // the manifest records plain paths — strip the scheme prefix
    val withSeq = df.withColumn("_graft_path",
        regexp_replace(col(LogTable.FileCol),
          "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
      .join(seqMap, Seq("_graft_path"), "left")
    val cleaned = snap.eqDeletes.groupBy(_.cols.map(_.toLowerCase))
      .values.foldLeft(withSeq) { case (acc, dels) =>
        val keys = dels.map(d => spark.read.parquet(d.path)
            .withColumn("_graft_dseq", lit(d.seq)))
          .reduce(_ unionByName _)
        val names = dels.head.cols
        val renamed = names.foldLeft(keys)((k, c) =>
          k.withColumnRenamed(c, s"_gq_$c"))
        val cond = names.map(c => acc(c) === renamed(s"_gq_$c"))
          .reduce(_ && _) && acc("_graft_seq") < renamed("_graft_dseq")
        val build =
          if (dels.map(_.bytes).sum <= (64L << 20)) broadcast(renamed)
          else renamed
        acc.join(build, cond, "left_anti")
      }
    cleaned.drop("_graft_path", "_graft_seq")
  }

  /** Delete-aware read tagged with a `_file` column (the row's source
    * data file) — the COW rewrite paths' discovery primitive. */
  private def readLiveTagged(snap: Snapshot, files: Seq[DataFile]): DataFrame =
    readLivePos(snap, files).drop(LogTable.PosCol)
      .withColumnRenamed(LogTable.FileCol, "_file")

  /** The REWRITE paths' delete-aware read (compact / recluster / COW
    * delete-update-merge): identical to [[readLive]] — UNLESS an
    * input file carries v3 row lineage, in which case the frame
    * additionally carries each surviving row's stable `_row_id` and
    * `_last_updated_sequence_number`, computed by the spec's uniform
    * rule: the file's MATERIALIZED value when stored (a prior rewrite
    * wrote it explicitly), else `first_row_id + position` /
    * the file's data sequence (inheritance). [[writeDataFiles]]
    * recognizes the two columns and stores them physically under the
    * Iceberg-reserved field ids, so the rewrite output keeps serving
    * identical ids on the next v3 export — the spec's rewrite rule
    * (Iceberg table spec, "Row Lineage": rewritten data files must
    * preserve `_row_id`; the reference's Iceberg tables — README.md:
    * 26-29, 197-211 — are exactly the kind a migration adopts and
    * then has to keep compacting). Positions come from
    * the delete-aware scan, so MoR-deleted rows leave id gaps exactly
    * as the spec requires. `keepFile` retains [[LogTable.FileCol]]
    * for callers that route rows by source file (compact's binned
    * shuffle). */
  private def readLiveRw(snap: Snapshot, files: Seq[DataFile],
      keepFile: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, regexp_replace}
    import org.apache.spark.sql.types.{LongType, StructField}
    if (!files.exists(_.hasLineage))
      return if (!keepFile) readLive(snap, files)
        else readLivePos(snap, files).drop(LogTable.PosCol)
    val lower = schemaOf(snap).fieldNames.map(_.toLowerCase).toSet
    require(!lower.contains(LogTable.RowIdCol) &&
        !lower.contains(LogTable.LuSeqCol),
      s"cannot carry row lineage through a rewrite: the table schema " +
        s"itself has a ${LogTable.RowIdCol}/${LogTable.LuSeqCol} column " +
        "(Iceberg reserves those names for lineage metadata)")
    val extra = Seq(StructField(LogTable.RowIdCol, LongType),
      StructField(LogTable.LuSeqCol, LongType))
    val sess = spark
    import sess.implicits._
    // (path → adopted first_row_id, data sequence): a tiny broadcast,
    // one row per input FILE — never a per-row structure
    val m = broadcast(files.map(f =>
        (f.path, f.firstRowId.map(Long.box).orNull, f.seq))
      .toDF("_g_lpath", "_g_lfrid", "_g_lseq"))
    val out = readLivePos(snap, files, extra)
      .withColumn("_g_lpath", regexp_replace(col(LogTable.FileCol),
        "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
      .join(m, Seq("_g_lpath"), "left")
      .withColumn(LogTable.RowIdCol, coalesce(col(LogTable.RowIdCol),
        col("_g_lfrid") + col(LogTable.PosCol)))
      .withColumn(LogTable.LuSeqCol, coalesce(col(LogTable.LuSeqCol),
        col("_g_lseq")))
      .drop("_g_lpath", "_g_lfrid", "_g_lseq", LogTable.PosCol)
    if (keepFile) out else out.drop(LogTable.FileCol)
  }

  /** Anti-join `df` (carrying FileCol/PosCol) against the snapshot's
    * delete files that reference any path in `refd`. */
  private def antiJoinDeletes(snap: Snapshot, df: DataFrame,
      refd: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val rel = snap.deletes.filter(_.refPaths.exists(refd.contains))
    val (dvs, pqs) = rel.partition(d => DeletionVectors.isVector(d.path))
    // a delete backlog past the budget must not land whole on the
    // driver/executors — both forms degrade to a distributed anti-join
    val budget = spark.conf.getOption("graft.deletes.broadcast.bytes")
      .map(_.toLong).getOrElse(64L << 20)
    // legacy parquet-encoded position deletes: broadcast anti-join
    // while small; past the budget the planner picks the join
    // (shuffled anti-join) rather than OOMing on a forced broadcast
    val afterPq =
      if (pqs.isEmpty) df
      else {
        val dels = spark.read.schema(LogTable.DeleteSchema)
          .parquet(pqs.map(_.path): _*)
          .withColumnRenamed("file_path", LogTable.FileCol)
          .withColumnRenamed("pos", LogTable.PosCol)
        val build =
          if (pqs.map(_.bytes).sum <= budget) broadcast(dels) else dels
        df.join(build, Seq(LogTable.FileCol, LogTable.PosCol), "left_anti")
      }
    // deletion vectors: in-plan codegen'd binary search under the same
    // byte budget; past it, decode DISTRIBUTED into (file, pos) rows
    // and anti-join like the parquet form
    if (dvs.isEmpty) afterPq
    else if (dvs.map(_.bytes).sum <= budget)
      DeletionVectors.filterDeleted(afterPq,
        DeletionVectors.readAll(dvs.map(_.path)))
    else {
      val sess = spark
      import sess.implicits._
      val rows = spark.sparkContext
        .parallelize(dvs.map(_.path), math.min(dvs.size, 64))
        .flatMap(p => DeletionVectors.read(p).iterator.flatMap {
          case (f, ps) => ps.iterator.map(f -> _)
        })
        .toDF("_graft_dvf", LogTable.PosCol)
      // blob keys are manifest plain paths; FileCol is URI-rendered
      val keyed = afterPq.withColumn("_graft_dvf",
        org.apache.spark.sql.functions.regexp_replace(
          org.apache.spark.sql.functions.col(LogTable.FileCol),
          "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
      keyed.join(rows, Seq("_graft_dvf", LogTable.PosCol), "left_anti")
        .drop("_graft_dvf")
    }
  }

  /** Per-snapshot stats from manifest metadata ONLY (no data I/O). */
  def stats(version: Long = currentVersion): Snapshot = snapshot(version)

  /** `count(*)` answered from MANIFEST ARITHMETIC ALONE — zero data
    * files opened, zero Spark jobs. At 100 TB the catalog's first
    * query (`SELECT COUNT(*) FROM api`, reference README.md:128)
    * should cost O(manifest), not a table scan: the manifest carries
    * footer-exact per-file row counts, and outstanding position
    * deletes subtract exactly ([[Snapshot.liveRows]] — delete writers
    * scan delete-aware, so positions are never double-marked). */
  def countMeta(version: Long = currentVersion): Long = {
    val s = snapshot(version)
    // equality deletes tombstone by KEY — how many rows they hit is
    // unknowable without a scan; refuse rather than under/over-count
    if (s.eqDeletes.nonEmpty) throw new IllegalStateException(
      "count(*) is not answerable from the manifest while equality " +
        "deletes are outstanding — read().count(), or fold them first " +
        "(compact / CALL compact)")
    s.liveRows
  }

  /** min/max of an INT64 column from manifest column stats alone —
    * `Some((min, max))` ONLY when the answer is provably exact: every
    * data file with rows carries footer stats for the column and no
    * position delete is outstanding (a marked row could be the
    * extremum, which file-level stats cannot see). `None` means "run
    * the query" — never a silently wrong answer. Nulls are no
    * obstacle: parquet stats bound the non-null values, which is what
    * SQL min/max aggregate. */
  def minMaxMeta(column: String,
      version: Long = currentVersion): Option[(Long, Long)] = {
    val s = snapshot(version)
    val withRows = s.files.filter(_.rows > 0)
    if (s.deletes.nonEmpty || s.eqDeletes.nonEmpty || withRows.isEmpty ||
        !withRows.forall(_.ranges.contains(column))) None
    else Some((withRows.map(_.ranges(column)._1).min,
      withRows.map(_.ranges(column)._2).max))
  }

  /** Snapshot-history metadata table (Iceberg's `snapshots` analog):
    * one row per committed version, from manifest metadata only. */
  def history(): DataFrame = {
    val rows = versions.map(snapshot).map(s =>
      (s.version, s.parent, s.operation, s.timestampMs,
        s.files.size.toLong, s.totalRows, s.totalBytes, s.summary))
    import spark.implicits._
    rows.toDF("version", "parent", "operation", "timestamp_ms",
      "n_files", "total_rows", "total_bytes", "summary")
  }

  /** Per-file metadata table for a snapshot (Iceberg's `files`
    * analog): path, row/byte counts, partition values, column ranges —
    * manifest metadata only, no data I/O. The operational query
    * surface for "is compaction due?", "how skewed are my file
    * sizes?", "what does the manifest know about column X?". */
  def filesTable(version: Long = currentVersion): DataFrame = {
    val s = snapshot(version)
    val row: DataFile => (String, Long, Long, String, String) = f =>
      (f.path, f.rows, f.bytes,
        f.partitions.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"),
        (f.ranges.toSeq.sortBy(_._1).map { case (k, (mn, mx)) => s"$k:[$mn,$mx]" } ++
          f.strRanges.toSeq.sortBy(_._1).map { case (k, (mn, mx)) => s"$k:[$mn,$mx]" })
          .mkString(";"))
    import spark.implicits._
    if (distributedMetaScan(s))
      distributedFileRows(s)(row)
        .toDF("path", "rows", "bytes", "partition", "ranges")
    else s.files.map(row).toDF("path", "rows", "bytes", "partition", "ranges")
  }

  /** Gate for the DISTRIBUTED `.files`/`.entries` plan: segments exist
    * only above the inline-manifest cap (512 files by default), so a
    * small table keeps its LocalScan (zero job, the dashboards' fast
    * path) while a segmented one — up to the 1M-file design point —
    * plans one executor task per segment instead of building a
    * million-row LocalRelation on the driver. Executor-side parsing
    * needs the plain-filesystem metadata plane; seam emulations
    * (object-store/in-memory control planes) keep the driver path. */
  private def distributedMetaScan(s: Snapshot): Boolean =
    s.segs.nonEmpty && (io eq GraftFileIO.Local)

  /** One task per segment JSON: read + parse ON THE EXECUTOR, emit
    * `toRow` per entry; the inline remainder (≤ the cap by
    * construction) rides one extra task. Driver-side state: segment
    * PATHS only. */
  private def distributedFileRows[T: scala.reflect.ClassTag](s: Snapshot)(
      toRow: DataFile => T): org.apache.spark.rdd.RDD[T] = {
    val segPaths = s.segs.map(sg => mainLogDir.resolve(sg.name).toString)
    val inline: Seq[DataFile] = s.files match {
      case sf: SegmentedFiles => sf.inline
      case other => other
    }
    val segRdd = spark.sparkContext
      .parallelize(segPaths, math.max(segPaths.size, 1))
      .flatMap { p =>
        LogTable.parseSegmentJson(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)).iterator.map(toRow)
      }
    segRdd ++ spark.sparkContext.parallelize(inline.map(toRow), 1)
  }

  /** Per-partition metadata rollup (Iceberg's `partitions` metadata
    * table): file/row/byte totals per partition tuple, from manifest
    * metadata only — the "which partitions are bloated / skewed /
    * compaction-due?" operational query, O(#files) driver work and
    * zero data I/O. One row with an empty partition string on
    * unpartitioned tables. */
  def partitionsTable(version: Long = currentVersion): DataFrame = {
    val rows = snapshot(version).files
      .groupBy(_.partitions).toSeq
      .map { case (p, fs) =>
        (p.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"),
          fs.size.toLong, fs.map(_.rows).sum, fs.map(_.bytes).sum)
      }.sortBy(_._1)
    import spark.implicits._
    rows.toDF("partition", "n_files", "total_rows", "total_bytes")
  }

  /** Position-delete-file metadata table (Iceberg's `delete_files`
    * analog — the MERGE-ON-READ DEBT GAUGE an operator checks to
    * decide "is a fold-compaction due?"): one row per live delete
    * file — path, marked positions, bytes, referenced data files.
    * Manifest metadata only, no data I/O. */
  def deletesTable(version: Long = currentVersion): DataFrame = {
    val s = snapshot(version)
    // position deletes reference files explicitly; an equality delete
    // applies to every file OLDER than it (its n_ref_files is that
    // census — how much of the table the tombstones still burden)
    val rows = s.deletes.map(d =>
      ("position", d.path, d.rows, d.bytes, d.refPaths.size.toLong)) ++
      s.eqDeletes.map(d =>
        ("equality", d.path, d.rows, d.bytes,
          s.files.count(_.seq < d.seq).toLong))
    import spark.implicits._
    rows.toDF("kind", "path", "marks", "bytes", "n_ref_files")
  }

  /** Named-reference metadata table (Iceberg's `refs`): every tag
    * (immutable pin) and branch (writable lineage) with the version it
    * resolves to — the "what points where?" operational query before a
    * rollback or an expire. Manifest metadata only. */
  def refsTable(): DataFrame = {
    val rows = refs.map { case (n, v) => (n, "tag", v) } ++
      branches.map(n => (n, "branch", branch(n).currentVersion))
    import spark.implicits._
    rows.sortBy(r => (r._2, r._1)).toDF("name", "type", "version")
  }

  /** Iceberg-conventional `snapshots` metadata table — the columns
    * every Iceberg dashboard/runbook queries (`committed_at_ms`,
    * `snapshot_id`, `parent_id`, `operation`, `summary` as a real
    * map). [[history]] keeps graft's richer operational shape; this
    * one matches the ecosystem convention key-for-key. Manifest
    * metadata only — plans as a LocalScan, zero executor work. */
  def snapshotsTable(): DataFrame = {
    val vs = versions.toSet
    val rows = versions.map(snapshot).map(s =>
      (s.timestampMs, s.version,
        // the first retained snapshot's parent may be expired (or the
        // table's genesis): Iceberg renders an absent parent as null
        if (vs.contains(s.parent)) Some(s.parent) else None,
        s.operation, s.summary))
    import spark.implicits._
    rows.toDF("committed_at_ms", "snapshot_id", "parent_id",
      "operation", "summary")
  }

  /** Iceberg-conventional `manifests` metadata table: one row per
    * manifest piece of a snapshot — every SEGMENT file (graft's
    * manifest shards) plus one row for the pointer's inline entries —
    * with path, on-disk length, entry count, and the pointer-resident
    * partition-value summaries (`k:[v1,v2,…]`, the prune-whole-segments
    * level). The "is my metadata itself healthy/skewed?" operational
    * query. Driver metadata I/O only, zero executor work. */
  def manifestsTable(version: Long = currentVersion): DataFrame = {
    val s = snapshot(version)
    // -1 when the metadata plane is not a plain filesystem (e.g. the
    // object-store emulation): length is advisory, never load-bearing
    def lenOf(p: Path): Long =
      try Files.size(p) catch { case _: Exception => -1L }
    val segRows = s.segs.map { sg =>
      val p = logDir.resolve(sg.name)
      (p.toString, lenOf(p), sg.files.size.toLong,
        sg.partVals.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k:[${v.mkString(",")}]" }.mkString(";"))
    }
    val inlineCount = s.files.size.toLong - segRows.map(_._3).sum
    val pointer = LogTable.manifestPath(logDir, version)
    val rows = segRows ++ Seq(
      (pointer.toString, lenOf(pointer), inlineCount, ""))
    import spark.implicits._
    rows.toDF("path", "length", "n_entries", "partition_summaries")
  }

  /** Iceberg-conventional `entries` metadata table: one row per data
    * file of a snapshot with its STATUS relative to the parent —
    * 1 = ADDED by this snapshot, 0 = EXISTING (carried over) — plus
    * sequence number, partition tuple, and counts: the file-lineage
    * debugging view (`which commit introduced this file?`). Manifest
    * metadata only, zero executor work. */
  def entriesTable(version: Long = currentVersion): DataFrame = {
    val s = snapshot(version)
    import spark.implicits._
    if (distributedMetaScan(s)) {
      // DISTRIBUTED: current entries one-task-per-segment, status via
      // an anti-join-shaped left join against the PARENT's path set —
      // the parent's segments also parse on executors (they are
      // usually the SAME segments by structural sharing, so both
      // sides read the shared cacheable pool), and the driver holds
      // segment paths only, never a row per file.
      import org.apache.spark.sql.functions.{col, lit, when}
      val ver = s.version
      val toRow: DataFile => (Long, Long, String, Long, Long, String) = f =>
        (ver, f.seq, f.path, f.rows, f.bytes,
          f.partitions.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("/"))
      val cur = distributedFileRows(s)(toRow)
        .toDF("snapshot_id", "sequence_number", "file_path",
          "record_count", "file_size_in_bytes", "partition")
      val parentPaths: org.apache.spark.rdd.RDD[String] =
        if (versions.contains(s.parent))
          distributedFileRows(snapshot(s.parent))(f => f.path)
        else spark.sparkContext.emptyRDD[String]
      cur.join(parentPaths.toDF("file_path").withColumn("_in_parent", lit(1)),
          Seq("file_path"), "left")
        .withColumn("status",
          when(col("_in_parent").isNotNull, lit(0)).otherwise(lit(1)))
        .select(col("status"), col("snapshot_id"), col("sequence_number"),
          col("file_path"), col("record_count"),
          col("file_size_in_bytes"), col("partition"))
    } else {
      val parentPaths: Set[String] =
        if (versions.contains(s.parent))
          snapshot(s.parent).files.map(_.path).toSet
        else Set.empty
      val rows = s.files.map { f =>
        (if (parentPaths.contains(f.path)) 0 else 1,
          s.version, f.seq, f.path, f.rows, f.bytes,
          f.partitions.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("/"))
      }
      rows.toDF("status", "snapshot_id", "sequence_number", "file_path",
        "record_count", "file_size_in_bytes", "partition")
    }
  }

  /** Register this table's data and metadata as SQL views:
    * `<name>` (current snapshot), `<name>_history`, `<name>_files`,
    * `<name>_partitions`, `<name>_deletes`, `<name>_refs`, plus the
    * Iceberg-conventional `<name>_snapshots` / `<name>_manifests` /
    * `<name>_entries` — the
    * spark.sql surface an Iceberg user reaches with `table$history` /
    * `table$files` / `table$partitions` / `table$delete_files` /
    * `table$refs`. Views capture the snapshot at registration;
    * re-register to observe newer commits. */
  def registerViews(name: String): Unit = {
    read().createOrReplaceTempView(name)
    history().createOrReplaceTempView(s"${name}_history")
    filesTable().createOrReplaceTempView(s"${name}_files")
    partitionsTable().createOrReplaceTempView(s"${name}_partitions")
    deletesTable().createOrReplaceTempView(s"${name}_deletes")
    refsTable().createOrReplaceTempView(s"${name}_refs")
    snapshotsTable().createOrReplaceTempView(s"${name}_snapshots")
    manifestsTable().createOrReplaceTempView(s"${name}_manifests")
    entriesTable().createOrReplaceTempView(s"${name}_entries")
  }

  /** Empty DataFrame with the table's schema (from any data file, or
    * truly empty when no commit exists yet). */
  private def emptyLike(): DataFrame = {
    // the manifest IS the schema authority: an empty result needs zero
    // file I/O when the current snapshot records its schema
    val cur = snapshot()
    if (cur.schemaJson.nonEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        LogTable.parseSchema(cur.schemaJson))
    // legacy fallback: newest snapshot with files lends its schema
    val any = listManifests(logDir).reverseIterator
      .map(m => parseManifest(io.readString(m._2))).find(_.files.nonEmpty)
    any match {
      case Some(s) => readFiles(s.files.take(1), s.schemaJson).limit(0)
      case None => spark.emptyDataFrame
    }
  }

  /** Load one segment's file entries through the JVM-wide cache:
    * segments are write-once and UUID-named, so a cache hit can never
    * serve stale data; handles are recreated per query, so the cache
    * must outlive the instance for re-planning a big table to be
    * O(changed segments). */
  private def loadSegment(name: String): Seq[DataFile] =
    LogTable.segCache.get(mainLogDir.resolve(name).toString, _ =>
      parseFilesArray(
        mapper.readTree(io.readString(mainLogDir.resolve(name)))
          .get("files")))

  private def parseManifest(json: String): Snapshot = {
    val n: JsonNode = mapper.readTree(json)
    // segment entries parse WITHOUT loading: names + partition
    // summaries live in the pointer; file entries materialize lazily
    // (and in parallel) only when a consumer iterates `files` or a
    // planning path keeps the segment (Snapshot.prunedFiles). Legacy
    // pointers list bare name strings — no summary, never pruned.
    val segs = Option(n.get("segments"))
      .map(_.elements().asScala.map { e =>
        val (nm, pv) =
          if (e.isObject)
            (e.get("name").asText(),
              Option(e.get("parts")).map(_.fields().asScala.map { f =>
                f.getKey ->
                  f.getValue.elements().asScala.map(_.asText()).toSeq
              }.toMap).getOrElse(Map.empty[String, Seq[String]]))
          else (e.asText(), Map.empty[String, Seq[String]])
        Segment(nm, pv)(() => loadSegment(nm))
      }.toSeq).getOrElse(Nil)
    val inline = parseFilesArray(n.get("files"))
    val files: Seq[DataFile] =
      if (segs.isEmpty) inline else new SegmentedFiles(inline, segs)
    Snapshot(n.get("version").asLong(), n.get("parent").asLong(),
      n.get("operation").asText(), n.get("timestampMs").asLong(), files,
      Option(n.get("tag")).map(_.asText()).getOrElse(""),
      Option(n.get("schema")).map(_.asText()).getOrElse(""),
      Option(n.get("checks")).map { cn =>
        cn.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty),
      Option(n.get("retired")).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Nil),
      Option(n.get("deletes")).map(_.elements().asScala.map { d =>
        DeleteFile(d.get("path").asText(), d.get("bytes").asLong(),
          Option(d.get("counts")).map(_.fields().asScala.map(e =>
            e.getKey -> e.getValue.asLong()).toMap).getOrElse(Map.empty))
      }.toSeq).getOrElse(Nil),
      Option(n.get("partitionBy")).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Nil),
      Option(n.get("hiddenBy")).map(_.elements().asScala.map(t =>
        Transform(t.get("source").asText(), t.get("kind").asText(),
          t.get("n").asLong())).toSeq).getOrElse(Nil),
      Option(n.get("eqDeletes")).map(_.elements().asScala.map { d =>
        EqDeleteFile(d.get("path").asText(), d.get("bytes").asLong(),
          d.get("cols").elements().asScala.map(_.asText()).toSeq,
          d.get("rows").asLong(), d.get("seq").asLong())
      }.toSeq).getOrElse(Nil),
      Option(n.get("bloomCols")).map(_.elements().asScala.map { b =>
        if (b.isObject) BloomCol(b.get("col").asText(), b.get("ndv").asLong())
        else { // legacy "col:ndv" string entries (pre-structured manifests)
          val raw = b.asText(); val cut = raw.lastIndexOf(':')
          if (cut < 0) BloomCol(raw, 100000L)
          else BloomCol(raw.substring(0, cut),
            // malformed tails ("col:", "col:x") degrade to the default
            // instead of failing the whole manifest read
            raw.substring(cut + 1).toLongOption.getOrElse(100000L))
        }
      }.toSeq).getOrElse(Nil),
      Option(n.get("ndvs")).map(_.fields().asScala.map(e =>
        e.getKey -> e.getValue.asLong()).toMap).getOrElse(Map.empty),
      segs,
      Option(n.get("readMeta")).map(r => ReadMeta(
        r.get("layoutComplete").asBoolean(),
        r.get("layoutParts").asInt(),
        Option(r.get("statsCols")).map(
          _.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil))),
      // free-form audit map: EVERY key round-trips, known or not
      Option(n.get("summary")).map(_.fields().asScala.map(e =>
        e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
      Option(n.get("sortOrder")).map(
        _.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
      Option(n.get("props")).map(_.fields().asScala.map(e =>
        e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
      Option(n.get("cdc")).map(_.elements().asScala.map { c =>
        CdcFile(c.get("path").asText(), c.get("rows").asLong(),
          c.get("bytes").asLong(), c.get("change").asText())
      }.toSeq).getOrElse(Nil))
  }

  /** Pack `files` into manifest segments, reusing every previous (or
    * hinted) segment whose entries survive VALUE-IDENTICAL — the
    * structural-sharing step of commit. Tables at or under the cap
    * stay inline (segs = Nil). Segments smaller than cap/8 dissolve
    * into the repack pool so steady small appends coalesce instead of
    * accumulating a micro-segment per commit. New segment files are
    * written through the storage seam BEFORE the snapshot that
    * references them (invisible until then, like data files); the
    * returned `created` names must be reclaimed by the caller if the
    * commit loses its race. */
  private def packSegments(candidates: Seq[Segment],
      files: Seq[DataFile]): (Seq[Segment], Seq[String]) = {
    val cap = spark.conf.getOption("graft.manifest.segment.files")
      .map(_.toInt).getOrElse(LogTable.DefaultSegmentFiles)
    if (files.size <= cap) return (Nil, Nil)
    val byPath = files.iterator.map(f => f.path -> f).toMap
    val minKeep = math.max(2, cap / 8)
    val covered = scala.collection.mutable.HashSet.empty[String]
    val reused = Seq.newBuilder[Segment]
    candidates.distinctBy(_.name).foreach { s =>
      val entries = s.files
      if (entries.size >= minKeep &&
          entries.forall(f => !covered.contains(f.path)) &&
          entries.forall(f => byPath.get(f.path).contains(f))) {
        // legacy (pre-summary) segments upgrade in place: the entries
        // are already loaded for the reuse validation, so the pointer
        // this commit writes carries their summary from here on
        reused += (if (s.partVals.nonEmpty) s
          else Segment(s.name, LogTable.segSummary(entries))(() => entries))
        covered ++= entries.map(_.path)
      }
    }
    val pool = files.filterNot(f => covered.contains(f.path))
    val created = Seq.newBuilder[String]
    val fresh = pool.grouped(cap).map { chunk =>
      val name = s"seg-${UUID.randomUUID()}.json"
      val node = mapper.createObjectNode()
      renderFilesInto(node.putArray("files"), chunk)
      val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
      if (!io.publishAtomic(mainLogDir.resolve(name), json))
        throw new IllegalStateException(s"segment name collision at $name")
      // prime the cache so the snapshot parse that follows never
      // re-reads what this JVM just wrote
      LogTable.segCache.get(mainLogDir.resolve(name).toString, _ => chunk)
      created += name
      Segment(name, LogTable.segSummary(chunk))(() => chunk)
    }.toSeq
    (reused.result() ++ fresh, created.result())
  }

  // --------------------------------------------------------------- writes

  /** Atomically append `df` as one multi-file commit: write the data
    * files first (invisible to readers), then commit {old ∪ new}.
    * A non-empty `tag` makes the append IDEMPOTENT: if any committed
    * snapshot already carries the tag, the re-delivered work is
    * dropped — the exactly-once contract a streaming sink needs when
    * a crash lands between commit and checkpoint advance. */
  def append(df: DataFrame, tag: String = ""): Snapshot = {
    if (tag.nonEmpty && hasTag(tag)) return snapshot()
    // write-time schema validation against the manifest — O(1), no
    // footer I/O; fails loudly HERE instead of at some later read
    val snapNow = snapshot()
    val mergedNow = mergedSchemaWith(snapNow, df.schema)
    val newFiles = writeDataFiles(conformTypes(df, mergedNow),
      distribute = true, blooms = Some(snapNow.bloomCols),
      sort = Some(snapNow.sortCols), props = Some(snapNow.props))
    // checks validate the rows as WRITTEN (delete-on-violation) —
    // the files are still invisible to every reader
    enforceChecksOnWritten(newFiles, snapNow.checks, "the appended batch",
      mergedNow.json)
    var validatedChecks = snapNow.checks.keySet
    if (newFiles.isEmpty) snapshot()
    // the EMPTY staged-paths record says "this append committed no
    // staged files" — it keeps stagedCommittedAmong's fast path alive
    // (key PRESENT on every post-upgrade append; absence = pre-upgrade
    // snapshot → legacy file-list fallback) at zero pointer bytes
    else commit("append", tag,
        nextSchema = prev => mergedSchemaWith(prev, df.schema).json,
        extraSummary = () => Map(LogTable.StagedPathsKey -> "")) { prev =>
      // re-check under the commit retry loop: a concurrent duplicate
      // deliverer may have won the race after our first check
      if (tag.nonEmpty && hasTag(tag)) return snapshot()
      // a check that LANDED CONCURRENTLY (after our validation) must
      // hold for this batch too, or the committed manifest would
      // record a constraint its own rows violate
      val fresh = prev.checks -- validatedChecks
      if (fresh.nonEmpty) {
        enforceChecksOnWritten(newFiles, fresh,
          "the appended batch (late check)", mergedNow.json)
        validatedChecks ++= fresh.keySet
      }
      prev.files ++ newFiles
    }
  }

  /** Stage an append WITHOUT committing — the FLUSHER half of the
    * reference's marker-based commit loop (reference README.md:200-205:
    * each node independently flushes its buffer as parquet into the
    * object store; an elected leader commits the pending files later):
    * data files land in this table's pool at their FINAL names with
    * the declared layout/sort/blooms/stats, but no manifest references
    * them — invisible to every reader, reclaimable only by the
    * age-guarded orphan sweep if never committed. Returns the manifest
    * entries a later [[commitStagedAppend]] (or [[MarkerCommit]]'s
    * footer-reconstructing leader) publishes atomically. */
  private[sources] def stageFlush(df: DataFrame): Seq[DataFile] = {
    val snapNow = snapshot()
    val merged = mergedSchemaWith(snapNow, df.schema)
    writeDataFiles(conformTypes(df, merged), distribute = true,
      blooms = Some(snapNow.bloomCols), sort = Some(snapNow.sortCols),
      props = Some(snapNow.props))
  }

  /** Reconstruct manifest entries for ALREADY-STAGED files in this
    * table's pool from their parquet footers + hive path segments —
    * what the marker-commit LEADER does with the 0-byte index markers'
    * referenced files (the markers carry no stats; the reference's
    * leader likewise derives commit metadata from the flushed objects
    * themselves). Produces byte-identical entries to what
    * [[stageFlush]] returned when it wrote them. */
  private[sources] def adoptStaged(paths: Seq[String]): Seq[DataFile] = {
    // footer reads in parallel, exactly like writeDataFiles' own stats
    // pass — a large marker backlog would otherwise serialize the
    // leader round on one thread's footer round-trips
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(paths) { p =>
      Future {
        val abs = Paths.get(p).toAbsolutePath.normalize
        val rel = dataDir.toAbsolutePath.normalize.relativize(abs).toString
        val (rows, ranges, strRanges, nulls, vsets) = parquetFooterMeta(abs)
        DataFile(abs.toString, rows, Files.size(abs),
          partitions = LogTable.partValsOfRel(rel), ranges = ranges,
          strRanges = strRanges, nulls = nulls, valueSets = vsets)
      }
    }, Duration.Inf)
  }

  /** [[adoptStaged]] that ALSO returns the batch's merged Spark schema
    * (as json) from the SAME footer reads — the marker leader needs
    * both per round, and the old adoptStaged + footerSparkSchema pair
    * opened every staged footer twice (guide §6: the leader round is
    * pure metadata I/O; halving its footer reads halves it). */
  private[sources] def adoptStagedWithSchema(paths: Seq[String])
      : (Seq[DataFile], String) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val both = Await.result(Future.traverse(paths) { p =>
      Future {
        val abs = Paths.get(p).toAbsolutePath.normalize
        val rel = dataDir.toAbsolutePath.normalize.relativize(abs).toString
        val in = HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(abs.toUri), new Configuration())
        val r = ParquetFileReader.open(in)
        val (meta, schema) =
          try (footerMetaOf(r),
            new org.apache.spark.sql.execution.datasources.parquet
              .ParquetToSparkSchemaConverter()
              .convert(r.getFooter.getFileMetaData.getSchema))
          finally r.close()
        val (rows, ranges, strRanges, nulls, vsets) = meta
        (DataFile(abs.toString, rows, Files.size(abs),
          partitions = LogTable.partValsOfRel(rel), ranges = ranges,
          strRanges = strRanges, nulls = nulls, valueSets = vsets), schema)
      }
    }, Duration.Inf)
    val (files, schemas) = both.unzip
    (files, schemas.reduce((a, b) => LogTable.mergeStructs(a, b)).json)
  }

  /** Commit already-staged data files as one atomic append — the
    * LEADER half of the marker-based commit loop. EXACTLY-ONCE under
    * racing/crashed committers: entries whose path the lineage already
    * lists are dropped INSIDE the CAS retry loop (a committer that
    * crashed between commit and marker cleanup leaves markers a later
    * leader re-reads; the membership check makes the re-commit a
    * no-op), and CHECK constraints enforce on the staged rows exactly
    * as append does. `batchSchemaJson` is the STAGED files' own schema
    * (the leader reads it from their footers): it merges into the
    * manifest schema with append's exact semantics — new columns
    * evolve in (ids stamped), retypes refuse, a schemaless table
    * bootstraps — so a flush that widened the schema is never
    * committed with its new column silently unreadable. */
  private[sources] def commitStagedAppend(newFiles: Seq[DataFile],
      tag: String = "", batchSchemaJson: String = ""): Snapshot = {
    if (tag.nonEmpty && hasTag(tag)) return snapshot()
    if (newFiles.isEmpty) return snapshot()
    val snapNow = snapshot()
    val batch =
      if (batchSchemaJson.nonEmpty) LogTable.parseSchema(batchSchemaJson)
      else new org.apache.spark.sql.types.StructType()
    val mergedNow = mergedSchemaWith(snapNow, batch)
    require(mergedNow.nonEmpty,
      "commitStagedAppend on a schemaless table needs the staged " +
        "batch's schema (read it from a staged footer)")
    enforceChecksOnWritten(newFiles, snapNow.checks, "the staged batch",
      mergedNow.json)
    var validatedChecks = snapNow.checks.keySet
    // the batch's pool-relative paths ride the commit's audit summary
    // (`staged-paths`): the record the next leader's O(pending) replay
    // probe ([[stagedCommittedAmong]]) reads — pointer-resident, so
    // replay detection never materializes a lineage-wide file set
    var lastAdd: Seq[DataFile] = Nil
    val pool = dataDir.toAbsolutePath.normalize
    commit("append", tag,
        nextSchema = prev => mergedSchemaWith(prev, batch).json,
        extraSummary = () => Map(LogTable.StagedPathsKey -> lastAdd
          .map(f => pool.relativize(
            Paths.get(f.path).toAbsolutePath.normalize).toString)
          .mkString("\n"))) { prev =>
      if (tag.nonEmpty && hasTag(tag)) return snapshot()
      val fresh = prev.checks -- validatedChecks
      if (fresh.nonEmpty) {
        enforceChecksOnWritten(newFiles, fresh,
          "the staged batch (late check)", mergedNow.json)
        validatedChecks ++= fresh.keySet
      }
      // dedupe against every staged append the retained lineage ever
      // committed, not just prev's live list: a file committed by a
      // racing leader and already compacted away again must not
      // re-enter (see stagedCommittedAmong)
      val have = stagedCommittedAmong(newFiles.map(_.path).toSet)
      val add = newFiles.filterNot(f => have(f.path))
      if (add.isEmpty) return snapshot()
      lastAdd = add
      prev.files ++ add
    }
  }

  /** A staged file's Spark schema straight from its parquet footer —
    * driver-side metadata only, NO Spark job (spark.read's mergeSchema
    * inference runs a distributed merge job even for a handful of
    * files; the marker leader reads these same footers anyway). */
  private[sources] def footerSparkSchema(p: String)
      : org.apache.spark.sql.types.StructType = {
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(p).toUri), new Configuration())
    val r = ParquetFileReader.open(in)
    try new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter()
      .convert(r.getFooter.getFileMetaData.getSchema)
    finally r.close()
  }

  /** Which of `paths` (absolute pool paths) a staged append already
    * committed somewhere in the RETAINED main lineage — the marker
    * leader's "already committed" test, O(pending + retained snapshot
    * POINTERS): every [[commitStagedAppend]] records its batch's
    * pool-relative paths in its snapshot's audit summary
    * ([[LogTable.StagedPathsKey]]), so replay detection scans only
    * those pointer-resident records — never a lineage-wide file-list
    * set (the old `committedPathsEver` flatMapped EVERY retained
    * snapshot's full, possibly-segmented file list into a driver Set
    * per leader round: tens of millions of path strings at 1M files ×
    * 50 retained snapshots).
    *
    * COMPLETE because staged files are only ever committed by
    * commitStagedAppend (UUID names, no other path writes them), a
    * stale marker's file may have been committed then compacted/COW-
    * rewritten OUT of the current file list while still on disk (the
    * summary record survives exactly that), and [[expireManifests]]
    * REFUSES to expire while markers are pending — so a pending
    * marker's committing snapshot (if any) is always still retained
    * and carries its record. */
  private[sources] def stagedCommittedAmong(
      paths: Set[String]): Set[String] = {
    if (paths.isEmpty) return Set.empty
    val pool = dataDir.toAbsolutePath.normalize
    val byRel = paths.iterator.map(p =>
      pool.relativize(Paths.get(p).toAbsolutePath.normalize).toString -> p)
      .toMap
    val found = Set.newBuilder[String]
    // PRE-UPGRADE COMPLETENESS: a retained 'append' snapshot written
    // by commitStagedAppend before the staged-paths record existed
    // carries no record — its committed files would read as fresh and
    // replay as duplicates. Appends cannot be told apart by summary
    // alone, so ANY record-less retained append demotes this round to
    // the legacy file-list scan (O(pending) MEMORY still — membership
    // tests against byRel, never a lineage-wide path set). Post-
    // upgrade tables where every append carries the record keep the
    // O(pending + pointers) fast path.
    var legacy = false
    versions.foreach { v =>
      val sn = snapshot(v)
      sn.summary.get(LogTable.StagedPathsKey) match {
        case Some(rec) => rec.split('\n').iterator.filter(_.nonEmpty)
          .foreach(r => byRel.get(r).foreach(found += _))
        case None => if (sn.operation == "append") legacy = true
      }
    }
    if (legacy) versions.foreach { v =>
      snapshot(v).files.foreach { f =>
        byRel.get(pool.relativize(
          Paths.get(f.path).toAbsolutePath.normalize).toString)
          .foreach(found += _)
      }
    }
    found.result()
  }

  /** Replace the table's ENTIRE contents atomically (INSERT OVERWRITE /
    * SaveMode.Overwrite semantics): write the incoming rows, then one
    * replacing commit swaps the full file list — a metadata-only swap,
    * never a COW scan of the existing data. Old snapshots stay
    * time-travelable until expire; position-delete files vanish with
    * the data files they referenced (commit GC). Schema/checks
    * validate exactly as append does. */
  def overwrite(df: DataFrame, tag: String = ""): Snapshot = {
    if (tag.nonEmpty && hasTag(tag)) return snapshot()
    val snapNow = snapshot()
    val mergedNow = mergedSchemaWith(snapNow, df.schema)
    val newFiles = writeDataFiles(conformTypes(df, mergedNow),
      distribute = true, blooms = Some(snapNow.bloomCols),
      sort = Some(snapNow.sortCols), props = Some(snapNow.props))
    enforceChecksOnWritten(newFiles, snapNow.checks, "the overwrite batch",
      mergedNow.json)
    var validatedChecks = snapNow.checks.keySet
    commit("overwrite", tag,
        nextSchema = prev => mergedSchemaWith(prev, df.schema).json) { prev =>
      if (tag.nonEmpty && hasTag(tag)) return snapshot()
      val fresh = prev.checks -- validatedChecks
      if (fresh.nonEmpty) {
        enforceChecksOnWritten(newFiles, fresh,
          "the overwrite batch (late check)", mergedNow.json)
        validatedChecks ++= fresh.keySet
      }
      newFiles
    }
  }

  /** The snapshot's current logical schema: manifest-recorded, or (on
    * legacy snapshots) derived once from a footer-merge read. */
  private def schemaOf(snap: Snapshot): org.apache.spark.sql.types.StructType =
    if (snap.schemaJson.nonEmpty) LogTable.parseSchema(snap.schemaJson)
    else if (snap.files.nonEmpty) readFiles(snap.files).schema
    else new org.apache.spark.sql.types.StructType()

  /** The snapshot's authoritative schema merged with an incoming
    * write's (validating no column is retyped, and no new column takes
    * a retired or formerly-used name). A LEGACY snapshot (files but no
    * recorded schema) derives its schema from a one-time footer-merge
    * read first, so the first post-upgrade write ADOPTS the legacy
    * columns into the manifest instead of silently shadowing them with
    * the incoming batch's schema — and legacy retypes are validated
    * like any other. */
  private def mergedSchemaWith(snap: Snapshot,
      add: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    // Iceberg RESERVES the row-lineage column names, and graft's
    // rewrite paths use them as the physical materialization channel
    // ([[readLiveRw]]/[[writeDataFiles]]) — a user DATA column under
    // either name would be indistinguishable from materialized
    // lineage (and a v3 reader would serve it as row ids). Writers
    // reject colliding user columns loudly, like the _del_ plumbing.
    Seq(LogTable.RowIdCol, LogTable.LuSeqCol).foreach(r =>
      require(!add.fieldNames.exists(_.equalsIgnoreCase(r)),
        s"column name '$r' is reserved for Iceberg v3 row-lineage " +
          "metadata (spec-reserved; graft stores materialized lineage " +
          "under it) — rename the column"))
    val base = schemaOf(snap)
    val blocked = snap.retired.map(_.toLowerCase).toSet ++
      (LogTable.liveNames(base) -- base.map(_.name.toLowerCase))
    LogTable.mergeStructs(base, add, blocked)
  }

  /** Declare an EMPTY table's schema as a metadata-only commit — the
    * CREATE TABLE primitive behind [[GraftSql]] DDL: field ids are
    * assigned, subsequent appends validate against the declared
    * schema, and the DSv2 source / SQL views resolve it before any
    * data lands (the reference creates its table via SQL DDL too,
    * reference init-setup.py:159-173). Only valid before the first
    * commit — live tables evolve via renameColumn / dropColumn /
    * widenColumn / add-column appends instead. */
  def declareSchema(schema: org.apache.spark.sql.types.StructType): Snapshot = {
    require(schema.nonEmpty, "declared schema needs at least one column")
    partitionBy.foreach(p => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(p)),
      s"partition column '$p' is not in the declared schema"))
    hiddenBy.foreach(t => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(t.source)),
      s"hidden-transform source column '${t.source}' is not in the declared schema"))
    commit("evolve-schema", nextSchema = prev => {
      require(prev.version == 0L,
        s"declareSchema needs an empty table (current version ${prev.version})")
      LogTable.assignFieldIds(schema).json
    })(prev => prev.files)
  }

  /** TYPE-WIDENING schema evolution (Iceberg `ALTER COLUMN ... TYPE`
    * type promotion): int→long / float→double, METADATA-ONLY — no
    * data file is rewritten. Old narrow files keep their physical
    * type; reads resolve them through the parquet reader's widening
    * conversion under the manifest schema, and writers upcast
    * narrow incoming batches at the writer (so files converge on the
    * wide type going forward). The field keeps its stable id and name
    * history. Any non-widening retype stays rejected — narrowing
    * loses data, and only provably-safe promotions belong in
    * metadata-only evolution. */
  def widenColumn(name: String,
      to: org.apache.spark.sql.types.DataType): Snapshot = {
    requireTopLevel(name, "retype")
    require(!partitionBy.exists(_.equalsIgnoreCase(name)) &&
        !hiddenBy.exists(_.source.equalsIgnoreCase(name)),
      s"cannot retype partition/transform-source column '$name' " +
        "(its values are the data layout)")
    commit("evolve-schema", nextSchema = prev => {
      val schema = LogTable.assignFieldIds(schemaOf(prev))
      val idx = schema.indexWhere(_.name.equalsIgnoreCase(name))
      require(idx >= 0, s"no such column '$name'")
      val f = schema(idx)
      require(LogTable.widens(f.dataType, to),
        s"cannot change column '$name' from ${f.dataType} to $to: only " +
          "widening promotions (int->long, float->double) are safe " +
          "metadata-only")
      org.apache.spark.sql.types.StructType(
        schema.updated(idx, f.copy(dataType = to))).json
    })(prev => prev.files)
  }

  /** NESTED (struct-field) SCHEMA EVOLUTION — add a field INSIDE a
    * struct column by dotted path (`"s.x"`, any depth), metadata-only:
    * no file is rewritten, files written before the add lack the
    * physical field and read it as NULL (Spark's parquet readers
    * resolve nested fields by name, missing ones null-fill — the same
    * mechanism as top-level adds). A single-segment path delegates to
    * [[addColumn]]. Re-using a dropped path is refused — old files
    * still store values under it and would silently resurrect.
    * Nested RENAME stays refused ([[renameColumn]]'s guard): a
    * top-level rename coalesces historical names with a per-field
    * projection, but inside a struct that coalesce would have to
    * rebuild every row of every scan — a rewrite in disguise, not
    * metadata-only evolution. */
  def addField(path: String,
      dataType: org.apache.spark.sql.types.DataType): Snapshot = {
    val parts = LogTable.splitPath(path)
    if (parts.length == 1) return addColumn(path, dataType)
    require(parts.last.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid field name '${parts.last}'")
    commit("evolve-schema", nextSchema = prev => {
      require(prev.schemaJson.nonEmpty,
        "addField needs a declared schema (CREATE TABLE / declareSchema, " +
          "or a first append)")
      require(!prev.retired.contains(path.toLowerCase),
        s"cannot add '$path': the path belonged to a dropped field and " +
          "old data files still store values under it — re-using it " +
          "would resurrect them (pick a different name)")
      LogTable.rebuildAt(LogTable.assignFieldIds(schemaOf(prev)), parts.init) { s =>
        require(!s.fieldNames.exists(_.equalsIgnoreCase(parts.last)),
          s"cannot add '$path': the field already exists")
        org.apache.spark.sql.types.StructType(s.fields :+
          org.apache.spark.sql.types.StructField(parts.last, dataType,
            nullable = true))
      }.json
    })(prev => prev.files)
  }

  /** NESTED METADATA-ONLY RENAME (Iceberg `ALTER TABLE ... RENAME
    * COLUMN s.a TO s.b` — field ids make it free there; here the
    * nested field records its old physical name and every read
    * rebuilds the struct, coalescing the historical names per field,
    * exactly as the top-level [[renameColumn]] coalesces top-level
    * columns). No file is rewritten; old snapshots keep the old name
    * (their manifest schema is theirs); the vacated dotted path goes
    * on the retired list so [[addField]] can never resurrect the old
    * files' values into a new same-named field. Only STRUCT paths
    * qualify: a rename under an array/map element would need a
    * per-element rebuild of every collection — refused. A
    * single-segment path delegates to [[renameColumn]]. */
  def renameField(path: String, newName: String): Snapshot = {
    val parts = LogTable.splitPath(path)
    if (parts.length == 1) return renameColumn(path, newName)
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid field name '$newName'")
    val vacated = path.toLowerCase
    val target = (parts.init :+ newName).mkString(".").toLowerCase
    commit("evolve-schema",
      nextSchema = prev => {
        checkNotInChecks(prev, path, "rename")
        require(!prev.retired.contains(target),
          s"cannot rename to '$target': the path belonged to a dropped or " +
            "renamed field and old data files still store values under it")
        LogTable.rebuildAt(LogTable.assignFieldIds(schemaOf(prev)), parts.init) { s =>
          val idx = s.indexWhere(_.name.equalsIgnoreCase(parts.last))
          require(idx >= 0, s"no such field '$path'")
          val taken = LogTable.liveNames(s)
          require(!taken.contains(newName.toLowerCase),
            s"cannot rename to '$newName': the name is live or historical " +
              s"inside struct '${parts.init.mkString(".")}'")
          val f = s(idx)
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putStringArray(LogTable.PrevNamesKey,
              (f.name +: LogTable.prevNames(f)).toArray)
          org.apache.spark.sql.types.StructType(
            s.updated(idx, f.copy(name = newName, metadata = b.build())))
        }.json
      },
      nextRetired = prev => (prev.retired :+ vacated).distinct
    )(prev => prev.files)
  }

  /** Drop a struct field by dotted path, metadata-only: current reads
    * stop requesting it (parquet projects it out), old snapshots still
    * see it, and the dotted path goes on the retired list so a later
    * [[addField]] can never silently resurrect the orphaned values.
    * A single-segment path delegates to [[dropColumn]]. */
  def dropField(path: String): Snapshot = {
    val parts = LogTable.splitPath(path)
    if (parts.length == 1) return dropColumn(path)
    commit("evolve-schema",
      nextSchema = prev => {
        checkNotInChecks(prev, path, "drop")
        LogTable.rebuildAt(LogTable.assignFieldIds(schemaOf(prev)), parts.init) { s =>
          val idx = s.indexWhere(_.name.equalsIgnoreCase(parts.last))
          require(idx >= 0, s"no such field '$path'")
          require(s.length > 1,
            s"cannot drop the last field of struct '${parts.init.mkString(".")}'")
          org.apache.spark.sql.types.StructType(
            s.filterNot(_.name.equalsIgnoreCase(parts.last)))
        }.json
      },
      nextRetired = prev => (prev.retired :+ path.toLowerCase).distinct
    )(prev => prev.files)
  }

  /** Widen a struct field by dotted path (int→long / float→double),
    * metadata-only: old narrow files resolve through the parquet
    * reader's widening conversion, exactly as [[widenColumn]] — which
    * a single-segment path delegates to. Narrow incoming struct
    * batches are upcast at the writer (struct [[LogTable.widens]] +
    * cast recursion in conformTypes). */
  def widenField(path: String,
      to: org.apache.spark.sql.types.DataType): Snapshot = {
    val parts = LogTable.splitPath(path)
    if (parts.length == 1) return widenColumn(path, to)
    commit("evolve-schema", nextSchema = prev => {
      LogTable.rebuildAt(LogTable.assignFieldIds(schemaOf(prev)), parts.init) { s =>
        val idx = s.indexWhere(_.name.equalsIgnoreCase(parts.last))
        require(idx >= 0, s"no such field '$path'")
        val f = s(idx)
        require(LogTable.widens(f.dataType, to),
          s"cannot change field '$path' from ${f.dataType} to $to: only " +
            "widening promotions (int->long, float->double) are safe " +
            "metadata-only")
        org.apache.spark.sql.types.StructType(
          s.updated(idx, f.copy(dataType = to)))
      }.json
    })(prev => prev.files)
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's signature table-layout
    * feature): change how FUTURE files are laid out — identity hive
    * columns and/or hidden transforms — without rewriting a single
    * existing file. METADATA-ONLY commit; data files keep the
    * directory keys they were written under, and every pruning path
    * treats a file missing the current spec's keys conservatively
    * (scan, never mis-skip). Rewrite paths (compact / recluster / COW)
    * re-derive layout from the CURRENT spec, so maintenance gradually
    * migrates old files into the new layout; `compact(smallBytes =
    * Long.MaxValue)` force-migrates everything.
    *
    * Returns a FRESH handle carrying the new spec — the receiving
    * handle still writes the old layout and its next commit fails
    * loudly against the evolved manifest (stale-spec guard in
    * commit()). Evolving to an EMPTY spec un-partitions the table;
    * note that a stale spec-ful handle cannot be distinguished from a
    * legitimate first spec declaration afterwards, so prefer keeping
    * at least one axis. */
  def evolveSpec(partitionBy: Seq[String] = Nil,
      hiddenBy: Seq[Transform] = Nil): LogTable = {
    val snap = snapshot()
    val schema = if (snap.schemaJson.nonEmpty) Some(schemaOf(snap)) else None
    schema.foreach { s =>
      partitionBy.foreach(p => require(s.fieldNames.exists(_.equalsIgnoreCase(p)),
        s"partition column '$p' is not a table column"))
      hiddenBy.foreach { t =>
        val f = s.fields.find(_.name.equalsIgnoreCase(t.source))
        require(f.nonEmpty,
          s"hidden-transform source column '${t.source}' is not a table column")
        // mbucket additionally accepts STRING sources (Iceberg's
        // bucket hashes UTF-8 bytes — the doc-id/URL key shape), and
        // the monotonic kinds accept TIMESTAMP sources (the
        // reference's day(time)-partitioned log table; internal µs
        // rep makes the arithmetic identical); everything else is
        // Long-domain arithmetic
        require(LogTable.transformSourceOk(t, f.get.dataType),
          s"hidden transform ${t.kind}(${t.source}) needs a LongType " +
            s"source${LogTable.transformSourceAlt(t)}, " +
            s"got ${f.get.dataType}")
      }
    }
    require(partitionBy.distinct == partitionBy &&
        hiddenBy.map(_.colName).distinct == hiddenBy.map(_.colName),
      "duplicate partition column / transform in the new spec")
    // Exact-or-refuse re-parameterization guard: the directory key name
    // omits `n` (`_p_<src>_<kind>`), so a live file laid out under
    // bucket(8, c) is indistinguishable in metadata from bucket(16, c) —
    // and both pruners would compare its stored mod-8 value against
    // mod-16 arithmetic, wrongly REFUTING files that do contain the
    // probed key (silently dropped rows). A transform whose key already
    // exists on a live file is allowed only when IDENTICAL (source,
    // kind, and n) to the recorded one; otherwise refuse loudly —
    // rewrite the old layout away first (evolve the axis out, then
    // compact(smallBytes = Long.MaxValue) force-migrates every file).
    hiddenBy.filterNot(snap.transforms.contains).foreach { t =>
      require(!snap.files.exists(_.partitions.contains(t.colName)),
        s"cannot evolve to ${t.kind}(${t.source}, n=${t.n}): live files " +
          s"carry directory key '${t.colName}' derived under a different " +
          "parameter, which would mis-prune; rewrite them first (evolve " +
          "the axis out, compact(smallBytes = Long.MaxValue)), then re-evolve")
    }
    commit("evolve-spec",
      nextSpec = Some((partitionBy, hiddenBy)))(prev => prev.files)
    new LogTable(spark, root, partitionBy, logSubdir, hiddenBy, io)
  }

  /** Cast incoming columns whose type safely WIDENS to the table's
    * recorded type (int→long, float→double) so written files converge
    * on the wide type; everything else passes through untouched
    * (schema validation already rejected unsafe retypes). No-op — not
    * even a projection — for conforming batches. */
  private def conformTypes(df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    val byName = target.map(f => f.name.toLowerCase -> f).toMap
    def widening(f: org.apache.spark.sql.types.StructField) =
      byName.get(f.name.toLowerCase).exists(t =>
        LogTable.widens(f.dataType, t.dataType))
    if (!df.schema.exists(widening)) df
    else df.select(df.schema.map { f =>
      val c = org.apache.spark.sql.functions.col(f.name)
      if (widening(f)) c.cast(byName(f.name.toLowerCase).dataType).as(f.name)
      else c
    }: _*)
  }

  /** Add a named CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT`
    * parity): `predicateSql` must hold for every row — existing data
    * is validated first (one scan), then the constraint commits as a
    * metadata-only snapshot and every subsequent append / merge /
    * update enforces it AT THE WRITER, rejecting violating batches
    * before any file lands. SQL CHECK semantics: a NULL predicate is
    * not a violation. */
  /** Enable PARQUET BLOOM FILTERS for `column` on future writes
    * (Iceberg `write.parquet.bloom-filter-enabled.column.*` parity):
    * every file written after this metadata commit carries a native
    * parquet bloom filter for the column, and Spark's pushed
    * equality/IN filters consult it for ROW-GROUP skipping at read —
    * the point-lookup complement to the manifest's [min,max] file
    * skipping, for high-cardinality columns the layout is NOT
    * clustered on (a UUID or request-id probe into a time-clustered
    * 100 TB log touches every file's range but misses almost every
    * bloom). Existing files are unaffected (rewrite via compact /
    * recluster to retrofit them). `expectedDistinct` sizes the filter
    * (~1.2 bytes/value at 1% fpp) — without it parquet allocates its
    * 1 MB maximum per column chunk, real bytes on small files. */
  def addBloom(column: String, expectedDistinct: Long = 100000L): Snapshot = {
    require(expectedDistinct > 0, "expectedDistinct must be positive")
    val snap = snapshot()
    if (snap.schemaJson.nonEmpty)
      require(schemaOf(snap).fieldNames.exists(_.equalsIgnoreCase(column)),
        s"bloom column '$column' is not a table column")
    commit("set-bloom", nextBlooms = prev =>
      prev.bloomCols.filterNot(_.col.equalsIgnoreCase(column)) :+
        BloomCol(column, expectedDistinct))(_.files)
  }

  /** Stop writing bloom filters for `column` (existing files keep
    * theirs until rewritten). */
  def dropBloom(column: String): Snapshot =
    commit("set-bloom", nextBlooms = prev =>
      prev.bloomCols.filterNot(_.col.equalsIgnoreCase(column)))(_.files)

  /** Set (merge) TABLE PROPERTIES — Iceberg's ALTER TABLE SET
    * TBLPROPERTIES. Unknown keys are carried verbatim (operational
    * annotations, pipeline config); keys the library HONORS validate
    * here so a typo'd value fails at set time, not mid-ingest:
    * `write.max-records-per-file` must be a positive integer. */
  def setProperties(kvs: Map[String, String]): Snapshot = {
    kvs.get(LogTable.MaxRecordsProp).foreach(v =>
      require(v.toLongOption.exists(_ > 0),
        s"${LogTable.MaxRecordsProp} must be a positive integer, got '$v'"))
    kvs.get(LogTable.CdcEnabledProp).foreach(v =>
      require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"${LogTable.CdcEnabledProp} must be true or false, got '$v'"))
    kvs.get(LogTable.VariantShredProp).foreach(v =>
      require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"${LogTable.VariantShredProp} must be true or false, got '$v'"))
    kvs.get(LogTable.NextRowIdProp).foreach(v =>
      require(v.toLongOption.exists(_ >= 0L),
        s"${LogTable.NextRowIdProp} must be a non-negative integer, got '$v'"))
    commit("set-props", nextProps = prev => prev.props ++ kvs)(_.files)
  }

  /** Remove table properties (absent keys are a no-op, as SQL UNSET). */
  def unsetProperties(keys: Seq[String]): Snapshot =
    commit("set-props", nextProps = prev => prev.props -- keys)(_.files)

  /** Current table properties (manifest-recorded). */
  def properties: Map[String, String] = snapshot().props

  /** Declare the table's WRITE SORT ORDER (Iceberg's write.sort-order
    * table property): every subsequent data-file write — append,
    * overwrite, COW rewrites, compact — locally sorts its tasks' rows
    * by `columns` before writing, so each data file is internally
    * ordered. Why it matters at 100 TB: parquet row-group min/max
    * stats become tight, so a selective pushed filter skips row groups
    * INSIDE files (the intra-file analog of manifest range pruning),
    * and sorted runs compress markedly better. Metadata-only commit;
    * existing files keep their layout until rewritten (a later
    * [[compact]] retrofits them). Empty clears the order. Explicit
    * rewrites with their own arrangement ([[recluster]] /
    * [[reclusterZ]]) keep their stronger, range-partitioned order. */
  def setSortOrder(columns: Seq[String]): Snapshot = {
    val snap = snapshot()
    if (snap.schemaJson.nonEmpty)
      columns.foreach(c =>
        require(schemaOf(snap).fieldNames.exists(_.equalsIgnoreCase(c)),
          s"sort column '$c' is not a table column"))
    commit("set-sort", nextSortCols = _ => columns)(_.files)
  }

  /** Compute table-level approximate DISTINCT COUNTS (NDV) per column
    * and record them in the manifest — Iceberg's
    * `compute_table_stats` puffin flow: an OPT-IN maintenance job (one
    * HLL aggregation pass over the live table, never on the write hot
    * path) whose numbers feed the scan's `columnStats()` so Spark's
    * CBO can order joins by key cardinality instead of running blind.
    * Stats persist across subsequent commits until recomputed (they
    * are optimizer estimates, not correctness inputs). Defaults to
    * every top-level atomic column. */
  def analyze(cols: Seq[String] = Nil): Snapshot = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col}
    val snap = snapshot()
    if (snap.files.isEmpty) return snap
    val schema = schemaOf(snap)
    val atomic = schema.fields.filterNot(f => f.dataType.isInstanceOf[
        org.apache.spark.sql.types.StructType] ||
      f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
      f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(_.name).toSeq
    val targets =
      if (cols.isEmpty) atomic
      else {
        cols.foreach(c => require(
          atomic.exists(_.equalsIgnoreCase(c)),
          s"cannot analyze '$c': not a top-level atomic table column"))
        cols
      }
    if (targets.isEmpty) return snap
    val aggs = targets.map(c => approx_count_distinct(col(c)).as(c))
    val row = readLive(snap, snap.files).agg(aggs.head, aggs.tail: _*).head()
    val computed = targets.zipWithIndex
      .map { case (c, i) => c.toLowerCase -> row.getLong(i) }.toMap
    commit("analyze", nextNdvs = prev => prev.ndvs ++ computed)(_.files)
  }

  /** Record externally-computed NDVs (the Iceberg-import direction:
    * a foreign table's Puffin `ndv` blob properties adopt into the
    * manifest so Spark's CBO on the imported table starts informed —
    * same estimate channel [[analyze]] fills, no data pass). */
  private[sources] def recordNdvs(ndvs: Map[String, Long]): Snapshot = {
    if (ndvs.isEmpty) return snapshot()
    commit("analyze", nextNdvs =
      prev => prev.ndvs ++ ndvs.map { case (k, v) => k.toLowerCase -> v })(
      _.files)
  }

  def addCheck(name: String, predicateSql: String): Snapshot = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid check name '$name'")
    enforceChecks(read(), Map(name -> predicateSql), "existing table data")
    var validatedVersion = currentVersion
    commit("set-check",
        nextChecks = prev => prev.checks + (name -> predicateSql)) { prev =>
      // rows that landed between our validation read and this commit
      // must also satisfy the new constraint (same closure-level
      // re-validation the writers do for late checks)
      if (prev.version != validatedVersion && prev.files.nonEmpty) {
        enforceChecks(readFiles(prev.files, prev.schemaJson),
          Map(name -> predicateSql), "concurrently committed rows")
        validatedVersion = prev.version
      }
      prev.files
    }
  }

  /** Remove a CHECK constraint (metadata-only commit). */
  def dropCheck(name: String): Snapshot =
    commit("set-check", nextChecks = prev => prev.checks - name)(prev => prev.files)

  /** METADATA-ONLY column rename (Iceberg `ALTER TABLE ... RENAME
    * COLUMN`): no data file is touched — the field keeps its stable
    * field id and records its old name in the manifest schema's name
    * history, and every read (current AND of rewritten future files)
    * coalesces the field's historical physical names back to the new
    * one. Old snapshots still read under the old name (their manifest
    * schema is theirs). The vacated name stays reserved: adding a new
    * column with it would read this field's values out of pre-rename
    * files, so mergeStructs blocks it. Partition columns cannot be
    * renamed (their name IS the directory layout). */
  /** Schema evolution operates on TOP-LEVEL columns only: a nested
    * (struct-field) ALTER would need field-id plumbing through every
    * struct level of the rename-aware scan, and a half-supported
    * version silently corrupts reads — refuse loudly instead
    * (restructure structs via an explicit rewrite). */
  private def requireTopLevel(name: String, op: String): Unit =
    require(!name.contains("."),
      s"cannot $op nested field '$name' with the top-level DDL — use " +
        s"the dotted-path struct evolution (addField / dropField / " +
        "widenField / renameField)")

  def renameColumn(oldName: String, newName: String): Snapshot = {
    requireTopLevel(oldName, "rename")
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid column name '$newName'")
    require(!partitionBy.exists(_.equalsIgnoreCase(oldName)),
      s"cannot rename partition column '$oldName' (its name is the data layout)")
    commit("evolve-schema", nextSchema = prev => {
      // an outstanding equality tombstone names its key columns; its
      // parquet key file stores them under the CURRENT name — renaming
      // would leave the tombstone unresolvable (or worse, silently
      // unmatched). Fold the marks first, then rename. Checked inside
      // the commit closure so a concurrently-landing deleteEq cannot
      // slip past the guard.
      require(!prev.eqDeletes.exists(_.cols.exists(_.equalsIgnoreCase(oldName))),
        s"cannot rename '$oldName': outstanding equality deletes key on it — " +
          "compact first (CALL compact) to fold the tombstones")
      val schema = LogTable.assignFieldIds(schemaOf(prev))
      val idx = schema.indexWhere(_.name.equalsIgnoreCase(oldName))
      require(idx >= 0, s"no such column '$oldName'")
      val taken = LogTable.liveNames(schema) ++ prev.retired.map(_.toLowerCase)
      require(!taken.contains(newName.toLowerCase),
        s"cannot rename to '$newName': the name is live, historical, or dropped")
      checkNotInChecks(prev, oldName, "rename")
      val f = schema(idx)
      val renamed = LogTable.withFieldMeta(f.copy(name = newName),
        LogTable.fieldId(f).get, f.name +: LogTable.prevNames(f))
      org.apache.spark.sql.types.StructType(schema.updated(idx, renamed)).json
    })(prev => prev.files)
  }

  /** METADATA-ONLY column drop (Iceberg `ALTER TABLE ... DROP
    * COLUMN`): no data file is rewritten — current reads simply
    * project the field out (the manifest schema no longer lists it),
    * old snapshots still see it, and ALL the field's historical
    * physical names go on the retired list so a later add can never
    * silently resurrect the orphaned values still sitting in old
    * files. */
  def dropColumn(name: String): Snapshot = {
    requireTopLevel(name, "drop")
    require(!partitionBy.exists(_.equalsIgnoreCase(name)),
      s"cannot drop partition column '$name'")
    def fieldOf(prev: Snapshot): org.apache.spark.sql.types.StructField = {
      val schema = schemaOf(prev)
      val idx = schema.indexWhere(_.name.equalsIgnoreCase(name))
      require(idx >= 0, s"no such column '$name'")
      require(schema.length > 1, "cannot drop the table's last column")
      schema(idx)
    }
    commit("evolve-schema",
      nextSchema = prev => {
        checkNotInChecks(prev, name, "drop")
        val schema = LogTable.assignFieldIds(schemaOf(prev))
        org.apache.spark.sql.types.StructType(
          schema.filterNot(_.name.equalsIgnoreCase(name))).json
      },
      nextRetired = prev => {
        val f = fieldOf(prev)
        (prev.retired ++ (f.name +: LogTable.prevNames(f)).map(_.toLowerCase)).distinct
      })(prev => prev.files)
  }

  /** METADATA-ONLY column add (Iceberg `ALTER TABLE ... ADD COLUMN`):
    * no data file is touched — the new field joins the manifest schema
    * under a FRESH stable field id, files written before the add lack
    * the physical column and read it as NULL (scans request nullable
    * fields, exactly as Spark's own file sources do), and subsequent
    * appends may carry it (schema-merge matches it back by name to
    * this field's id). The name must not collide with any live,
    * historical, or retired name — values sitting in old files under
    * a same-named renamed/dropped column would silently resurrect.
    * The DDL complement of append-driven add-column evolution, for
    * declaring the column BEFORE any data carries it. */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType): Snapshot = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid column name '$name'")
    commit("evolve-schema", nextSchema = prev => {
      require(prev.schemaJson.nonEmpty,
        "addColumn needs a declared schema (CREATE TABLE / declareSchema, " +
          "or a first append)")
      val schema = LogTable.assignFieldIds(schemaOf(prev))
      val taken = LogTable.liveNames(schema) ++ prev.retired.map(_.toLowerCase)
      require(!taken.contains(name.toLowerCase),
        s"cannot add '$name': the name is live, historical, or dropped")
      val next = schema.flatMap(LogTable.fieldId).foldLeft(0L)(math.max) + 1
      org.apache.spark.sql.types.StructType(schema.fields :+
        LogTable.withFieldMeta(org.apache.spark.sql.types.StructField(
          name, dataType, nullable = true), next, Nil)).json
    })(prev => prev.files)
  }

  /** A column referenced by a CHECK constraint cannot be renamed or
    * dropped — the constraint would become unevaluable and brick every
    * writer. Word-boundary text match: conservative (may flag a
    * same-named identifier in a string literal), never silently
    * permissive. */
  private def checkNotInChecks(snap: Snapshot, column: String, what: String): Unit =
    snap.checks.foreach { case (cname, sql) =>
      require(!s"(?i).*\\b${java.util.regex.Pattern.quote(column)}\\b.*".r
          .matches(sql),
        s"cannot $what column '$column': CHECK constraint '$cname' ($sql) references it; " +
          "drop the constraint first")
    }

  /** Current constraints, name → SQL predicate. */
  def checks: Map[String, String] = snapshot().checks

  /** Reject `df` if any check is violated (or cannot be evaluated at
    * all — a predicate referencing a column the frame lacks fails
    * loudly, never silently skips). ONE aggregation job validates ALL
    * checks: a per-check count would re-execute the frame's plan once
    * per constraint. */
  private def enforceChecks(df: DataFrame, checks: Map[String, String],
      what: String): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, max, not, when}
    val ordered = checks.toSeq.sortBy(_._1)
    val flags = ordered.map { case (name, pred) =>
      coalesce(max(when(not(coalesce(expr(pred), lit(true))), 1).otherwise(0)),
        lit(0)).as(s"c_${name.replace('.', '_')}")
    }
    val row =
      try df.agg(flags.head, flags.tail: _*).head()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"checks ${ordered.map(_._1).mkString(", ")} cannot be evaluated " +
              s"against $what: ${e.getMessage}")
      }
    val violated = ordered.zipWithIndex.collect {
      case ((n, p), i) if row.getInt(i) == 1 => s"'$n' ($p)" }
    require(violated.isEmpty, s"check ${violated.mkString(", ")} violated by $what")
  }

  /** Enforce checks on rows as WRITTEN (not on the logical frame that
    * produced them): the written parquet is read back once, so the
    * expensive producing plan (a merge's joins, an update's rewrite)
    * is never re-executed per validation, and a nondeterministic
    * source cannot pass validation yet write different, violating
    * rows. On violation the invisible files are deleted before the
    * error propagates — nothing leaks, nothing was ever readable. */
  private def enforceChecksOnWritten(written: Seq[DataFile],
      checks: Map[String, String], what: String,
      schemaJson: String = ""): Unit =
    if (checks.nonEmpty && written.nonEmpty) {
      // the post-write TABLE schema, not the files' own: a narrow
      // insert file materializes its missing checked columns as NULL,
      // exactly as every later table read will see them
      try enforceChecks(readFiles(written, schemaJson), checks, what)
      catch {
        case e: Throwable =>
          written.foreach(f => Files.deleteIfExists(Paths.get(f.path)))
          throw e
      }
    }

  /** The table's authoritative current schema from manifest metadata
    * (empty struct before the first commit records one). */
  def schema: org.apache.spark.sql.types.StructType = {
    val s = snapshot()
    if (s.schemaJson.isEmpty) new org.apache.spark.sql.types.StructType()
    else LogTable.parseSchema(s.schemaJson)
  }

  /** True iff some committed snapshot carries `tag`. Manifests are
    * immutable once committed, so per-version tags are cached — the
    * scan cost is O(new manifests), not O(all) per call. NOTE:
    * `expire` drops old manifests and their tags with them, so the
    * idempotence horizon equals the snapshot-retention horizon
    * (exactly as Iceberg's snapshot-id-based dedup). */
  def hasTag(tag: String): Boolean = {
    val vs = versions
    vs.filterNot(tagCache.containsKey(_)).foreach(v => tagCache.put(v, snapshot(v).tag))
    // evict expired versions so a long-lived ingest's cache stays
    // bounded by LIVE snapshots, not total commits ever made
    val vset = vs.toSet
    tagCache.keySet.removeIf(v => !vset.contains(v))
    vs.exists(v => tagCache.getOrDefault(v, "") == tag)
  }

  private val tagCache = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** Inside a replacing commit's closure: a position-delete file that
    * landed AFTER our planning snapshot and references any file we are
    * replacing invalidates the rewrite — it marks rows of the original
    * file, and our rewrite (planned without it) would resurrect them.
    * Replacing commits abort to a re-plan instead. */
  private def assertNoLateDeletesOn(planned: Snapshot, prev: Snapshot,
      replaced: Set[String]): Unit = {
    val known = planned.deletes.map(_.path).toSet
    if (prev.deletes.exists(d => !known.contains(d.path) &&
        d.refPaths.exists(replaced.contains)))
      throw LogTable.StaleSourceFiles
  }

  /** commit(), but when the closure aborts with StaleSourceFiles the
    * already-written (never-referenced) rewrite files are deleted
    * before the retry re-plans — no orphan growth under contention. */
  private def commitOrCleanup(rewritten: Seq[DataFile], operation: String,
      nextSchema: Snapshot => String = _.schemaJson,
      tag: String = "",
      cdcFiles: Seq[CdcFile] = Nil,
      nextProps: Snapshot => Map[String, String] = _.props)(
      nextFiles: Snapshot => Seq[DataFile]): Snapshot =
    try commit(operation, tag = tag, nextSchema = nextSchema,
        cdcFiles = cdcFiles, nextProps = nextProps)(nextFiles)
    catch {
      case e @ LogTable.StaleSourceFiles =>
        rewritten.foreach(f => Files.deleteIfExists(Paths.get(f.path)))
        cdcFiles.foreach(c => Files.deleteIfExists(Paths.get(c.path)))
        throw e
    }

  /** Re-runs a compact/delete whose source files were concurrently
    * rewritten by another committer (detected inside the commit
    * closure): the operation re-plans from the fresh snapshot (the
    * failed attempt's rewrite files are already cleaned up by
    * commitOrCleanup). */
  private def withStaleRetry(op: () => Snapshot): Snapshot = {
    var attempts = 0
    while (attempts < MaxCommitRetries) {
      attempts += 1
      try return op()
      catch { case LogTable.StaleSourceFiles => /* re-plan from fresh state */ }
    }
    throw new IllegalStateException(s"operation lost the source-file race $MaxCommitRetries times at $root")
  }

  /** Commit a ROW-LEVEL-OPERATION group rewrite (the Spark
    * `SupportsRowLevelOperations` seam — catalog SQL UPDATE / MERGE /
    * complex DELETE): the scanned groups (`removed`, post runtime
    * group filtering) leave the snapshot and `rewritten` — their
    * surviving rows with the command applied, written by Spark's own
    * ReplaceData job — take their place. Unlike the Scala COW paths
    * this CANNOT retry on a concurrency race: the replacement rows
    * came from an already-executed Spark query against `scanned`, so
    * any commit that landed since (file rewrite, new delete file, new
    * equality tombstone touching the groups) makes them stale — fail
    * loudly and let the user re-run the statement. */
  private[sources] def commitReplaceGroups(removed: Set[String],
      rewritten: Seq[DataFile], operation: String,
      scanned: Snapshot,
      scanFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Snapshot = {
    // ROW-LINEAGE GUARD (DSv2 only): the replacement rows came out of
    // Spark's own ReplaceData job, which cannot thread per-row
    // `_row_id` through — committing it would silently re-id the
    // surviving rows of a lineage-carrying file on the next v3
    // export. The Scala COW surfaces (delete/update/merge) DO carry
    // lineage through rewrites ([[readLiveRw]]); route lineage
    // tables there, or deliberately sever continuity with
    // [[dropLineage]] first.
    locally {
      val n = scanned.files.count(f =>
        removed.contains(f.path) && f.hasLineage)
      require(n == 0,
        s"catalog-SQL $operation would rewrite $n data file(s) " +
          "carrying v3 row lineage without preserving their row ids " +
          "(Spark's ReplaceData job cannot thread _row_id). Use the " +
          "Scala COW surfaces (LogTable.delete/update/merge — they " +
          "materialize lineage through rewrites), the MOR surfaces, " +
          "or dropLineage() to explicitly discard the continuity")
    }
    enforceChecksOnWritten(rewritten, scanned.checks, "the rewritten rows",
      scanned.schemaJson)
    // CDC change files (opt-in): the catalog-SQL row-level ops have no
    // per-clause frames (Spark's ReplaceData already ran), so the
    // change data is the NET row diff of the replaced groups — the
    // groups' prior live rows vs their replacements (exceptAll both
    // ways; a no-op rewrite nets to zero change rows, which is also
    // what batch readCdc would report). Spark's set ops reject
    // MAP-typed columns (no defined equality); for such schemas fall
    // back to VERBATIM pre/post images of the replaced groups — a
    // sound over-approximation (unchanged rows announce as delete +
    // re-insert of the same row; every replayer converges to the same
    // state) instead of a write-time AnalysisException.
    val cdcFiles =
      if (!cdcEnabled(scanned)) Nil
      else {
        val before =
          if (removed.isEmpty) emptyLike()
          else readLive(scanned, scanned.files.filter(f => removed.contains(f.path)))
        val after =
          if (rewritten.isEmpty) emptyLike()
          else readFiles(rewritten, scanned.schemaJson)
        if (LogTable.setOpComparable(schemaOf(scanned)))
          writeCdcFiles(before.exceptAll(after), "delete") ++
            writeCdcFiles(after.exceptAll(before), "insert")
        else
          writeCdcFiles(before, "delete") ++ writeCdcFiles(after, "insert")
      }
    var validatedChecks = scanned.checks.keySet
    try commitOrCleanup(rewritten, operation, cdcFiles = cdcFiles) { prev =>
      val prevPaths = prev.files.map(_.path).toSet
      if (!removed.forall(prevPaths.contains)) throw LogTable.StaleSourceFiles
      assertNoLateDeletesOn(scanned, prev, removed)
      // an equality tombstone that landed after the scan would be
      // silently outranked by the rewritten files' fresh sequence
      if (prev.eqDeletes.map(_.path) != scanned.eqDeletes.map(_.path))
        throw LogTable.StaleSourceFiles
      // SERIALIZABLE conflict detection (Iceberg's
      // validateNoConflictingData, the Spark MERGE default): a file
      // appended since the scan that could hold rows MATCHING the
      // command condition would have joined the statement had it run
      // now — e.g. a concurrent insert of a key a MERGE is inserting
      // too, yielding duplicate keys under snapshot isolation. Pruned
      // on manifest stats: only provably-non-matching appends pass.
      val scannedPaths = scanned.files.map(_.path).toSet
      val appended = prev.files.filterNot(f => scannedPaths.contains(f.path))
      if (GraftPrune.filesFor(appended, prev.transforms, scanFilters).nonEmpty)
        throw LogTable.StaleSourceFiles
      val fresh = prev.checks -- validatedChecks
      if (fresh.nonEmpty) {
        enforceChecksOnWritten(rewritten, fresh,
          "the rewritten rows (late check)", scanned.schemaJson)
        validatedChecks ++= fresh.keySet
      }
      prev.files.filterNot(f => removed.contains(f.path)) ++ rewritten
    } catch {
      case LogTable.StaleSourceFiles => throw new IllegalStateException(
        s"a concurrent commit raced this $operation between its scan " +
          s"(v${scanned.version}) and its write — re-run the statement")
    }
  }

  /** Adopt already-written UNPARTITIONED parquet files (a row-level
    * write's staged task outputs) as table data files: same-filesystem
    * move into the data pool + one parallel footer-stats pass — the
    * tail of [[writeDataFiles]] without the second Spark write.
    * Partitioned tables cannot adopt (staged files carry no layout);
    * their caller restages through writeDataFiles. */
  private[sources] def adoptStagedFiles(staged: Seq[Path]): Seq[DataFile] = {
    require(partitionBy.isEmpty && hiddenBy.isEmpty,
      "adoptStagedFiles is for unpartitioned tables only")
    Files.createDirectories(dataDir)
    val placed = staged.map { p =>
      val dest = dataDir.resolve(s"${UUID.randomUUID()}.parquet")
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
      dest
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(placed) { dest =>
      Future {
        val (rows, ranges, strRanges, nulls, vsets) = parquetFooterMeta(dest)
        DataFile(dest.toString, rows, Files.size(dest), Map.empty,
          ranges, strRanges, nulls = nulls, valueSets = vsets)
      }
    }, Duration.Inf).filter(_.rows > 0L)
  }

  /** Bin-pack data files smaller than `smallBytes` into ~`targetBytes`
    * output files and commit the replacing snapshot. Packing runs on
    * manifest stats only; only small files are rewritten. */
  def compact(smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20,
      where: Option[Map[String, String] => Boolean] = None): Snapshot =
    withStaleRetry { () => compactOnce(smallBytes, targetBytes, where) }

  private def compactOnce(smallBytes: Long, targetBytes: Long,
      where: Option[Map[String, String] => Boolean]): Snapshot = {
    val snap = snapshot()
    // SCOPED compaction (Delta's `OPTIMIZE ... WHERE` / Iceberg's
    // rewrite_data_files(where)): only files whose partition values
    // satisfy `where` are candidates — on a 100 TB table, maintenance
    // runs against yesterday's partition, not the whole pool. Purely
    // a work bound, never a correctness question: a file out of scope
    // (or missing the consulted keys) just stays as it is.
    val scoped = where match {
      case Some(p) => snap.files.filter(f => p(f.partitions))
      case None => snap.files
    }
    // files carrying outstanding position deletes are rewritten
    // REGARDLESS of size — folding the merge-on-read debt into clean
    // data files is compaction's second job (Iceberg's
    // rewrite_data_files does the same); their delete files then GC
    // out of the manifest at commit
    val refd = snap.deletes.flatMap(_.refPaths).toSet
    val (dirty, rest) = scoped.partition(f => refd.contains(f.path))
    val (small, big) = rest.partition(_.bytes < smallBytes)
    if (small.size < 2 && dirty.isEmpty) return snap
    // First-fit bin-packing over manifest byte counts.
    val bins = scala.collection.mutable.ListBuffer[scala.collection.mutable.ListBuffer[DataFile]]()
    (dirty ++ small).sortBy(-_.bytes).foreach { f =>
      bins.find(b => b.map(_.bytes).sum + f.bytes <= targetBytes) match {
        case Some(b) => b += f
        case None => bins += scala.collection.mutable.ListBuffer(f)
      }
    }
    // A bin holding one CLEAN file gains nothing from a rewrite (pure
    // write amplification) — keep such files as they are. A dirty file
    // must rewrite even alone: the fold is the point.
    val rewriteBins = bins.toSeq.filter(b =>
      b.size >= 2 || b.exists(f => refd.contains(f.path)))
    if (rewriteBins.isEmpty) return snap
    val small2: Seq[DataFile] = rewriteBins.flatten
    // ONE job for MANY bins: a per-bin write loop is O(bins)
    // SEQUENTIAL Spark jobs — on a 100 TB table a small-file sweep
    // serializes thousands of single-task rounds through the driver.
    // Instead: one delete-aware scan of all source files, each row
    // routed to its bin through a broadcast (path → bin) map (the
    // same scan-URI normalization applyEqDeletes joins through), then
    // pre-arranged so ONE task holds one (layout tuple, bin) and
    // writes exactly one file — the per-bin `coalesce(1)` shape, in
    // parallel. Hash collisions between pairs only merge two bins of
    // the same tuple into one file (≤ 2× target, still a compaction).
    // The route costs a full row SHUFFLE that the per-bin
    // `coalesce(1)` shape avoids, so tiny sweeps (the steady-state
    // post-ingest fold, 1-2 bins) keep the cheap serial shape — the
    // shuffle buys driver-round-trip parallelism only when there are
    // enough bins for rounds to dominate.
    val rewritten =
      if (rewriteBins.size <= 2)
        rewriteBins.flatMap { bin =>
          writeDataFiles(readLiveRw(snap, bin.toSeq).coalesce(1),
            blooms = Some(snap.bloomCols), sort = Some(snap.sortCols), props = Some(snap.props))
        }
      else {
        import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
        import spark.implicits._
        val binMap = broadcast(rewriteBins.zipWithIndex.flatMap { case (b, i) =>
          b.map(f => (f.path, i))
        }.toDF("_graft_path", "_graft_bin"))
        val routed = readLiveRw(snap, small2, keepFile = true)
          .withColumn("_graft_path", regexp_replace(col(LogTable.FileCol),
            "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
          .join(binMap, Seq("_graft_path"))
          .drop("_graft_path", LogTable.FileCol)
        val arrangeKeys = partitionBy.map(col) ++
          hiddenBy.filter(t =>
            routed.columns.exists(_.equalsIgnoreCase(t.source)))
            .map(t => t.columnFor(routed.schema.fields
              .find(_.name.equalsIgnoreCase(t.source)).get.dataType)) ++
          Seq(col("_graft_bin"))
        val slots = math.max(rewriteBins.size,
          spark.sparkContext.defaultParallelism)
        val arranged = routed.repartition(slots, arrangeKeys: _*)
          .drop("_graft_bin")
        writeDataFiles(arranged, blooms = Some(snap.bloomCols), sort = Some(snap.sortCols), props = Some(snap.props))
      }
    // Row-conservation tripwire from manifest arithmetic (exact when
    // no equality deletes are outstanding): any routing slip — a
    // path the normalization failed to match — would silently drop
    // rows; abort the commit instead. Equality-delete folds remove
    // an unknown number of rows, so the check stands down there.
    if (snap.eqDeletes.isEmpty) {
      val replaced = small2.map(_.path).toSet
      val expected = small2.map(_.rows).sum - snap.deletes.flatMap(_.counts)
        .collect { case (p, n) if replaced.contains(p) => n }.sum
      val got = rewritten.map(_.rows).sum
      if (got != expected) {
        rewritten.foreach(f => Files.deleteIfExists(Paths.get(f.path)))
        throw new IllegalStateException(
          s"compaction row-count mismatch: rewrote $got rows, manifest " +
            s"arithmetic expects $expected — aborting before commit")
      }
    }
    commitOrCleanup(rewritten, "compact") { prev =>
      // Appends that landed since we read `snap` are kept untouched.
      // But if one of OUR source files is no longer in the current
      // snapshot (a concurrent delete/compact rewrote it), our
      // rewritten copy would resurrect its stale contents — abort
      // and re-plan from fresh state instead.
      val replaced = small2.map(_.path).toSet
      val prevPaths = prev.files.map(_.path).toSet
      if (!replaced.forall(prevPaths.contains)) throw LogTable.StaleSourceFiles
      assertNoLateDeletesOn(snap, prev, replaced)
      prev.files.filterNot(f => replaced.contains(f.path)) ++ rewritten
    }
  }

  /** Copy-on-write row-level delete (Iceberg COW semantics): find the
    * data files that contain matching rows with ONE distributed pass
    * (`input_file_name` + distinct — the result is just file names),
    * rewrite only those files without the matching rows, and commit a
    * replacing snapshot. Untouched files are never read twice; prior
    * snapshots still see the deleted rows (time travel). */
  def delete(condition: org.apache.spark.sql.Column): Snapshot =
    withStaleRetry { () => deleteOnce(condition) }

  /** The DELETE LADDER's first rung, shared by every delete surface
    * (Scala [[delete]]/[[deleteMor]], GraftSql, catalog SQL): when the
    * condition translates to the v1 Filter algebra (translation is
    * exact-or-None) and every live file gets a strict verdict, the
    * delete applies as a manifest-only commit — see
    * [[deleteMetadataOnly]]. */
  private def metadataFirst(condition: org.apache.spark.sql.Column): Boolean = {
    val snap0 = snapshot()
    if (snap0.schemaJson.isEmpty) return false
    // a Column is a lazy tree; only ANALYSIS against the table schema
    // yields the catalyst predicate the translator understands. Zero
    // data touched — an empty frame carries the schema. Conditions
    // that don't resolve here (e.g. referencing `_file`) simply take
    // the row-level path, which resolves them against its own scan.
    val resolved =
      try spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schemaOf(snap0))
        .filter(condition)
        .queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    resolved.flatMap(org.apache.spark.sql.GraftBridge.translateFilter)
      .exists(f => deleteMetadataOnly(Seq(f)))
  }

  private def deleteOnce(condition: org.apache.spark.sql.Column): Snapshot = {
    if (metadataFirst(condition)) return snapshot()
    val snap = snapshot()
    if (snap.files.isEmpty) return snap
    val hit = readLiveTagged(snap, snap.files).filter(condition)
      .select(org.apache.spark.sql.functions.col("_file")).distinct()
      .collect().map(r => LogTable.localPath(r.getString(0))).toSet
    if (hit.isEmpty) return snap
    val affected = snap.files.filter(f => hit.contains(f.path))
    // SQL DELETE semantics: remove ONLY condition=TRUE rows. A bare
    // filter(!condition) would also drop rows where the predicate is
    // NULL (three-valued logic), silently destroying them. The source
    // read is delete-aware: rewriting an affected file FOLDS any of
    // its outstanding position deletes in (never resurrects them).
    // Lineage-carrying inputs thread each survivor's `_row_id`
    // through the rewrite ([[readLiveRw]]) — deleted rows leave id
    // gaps, surviving rows keep theirs, exactly the v3 spec rule.
    val keepRows = readLiveRw(snap, affected).filter(
      !org.apache.spark.sql.functions.coalesce(
        condition, org.apache.spark.sql.functions.lit(false)))
    // CDC change files (opt-in): the deleted rows' pre-images ride the
    // same commit, so CDC readers replay this COW rewrite exactly
    // instead of refusing the mixed add+remove file change
    val cdcFiles =
      if (!cdcEnabled(snap)) Nil
      else writeCdcFiles(readLive(snap, affected).filter(
        org.apache.spark.sql.functions.coalesce(
          condition, org.apache.spark.sql.functions.lit(false))), "delete")
    val rewritten = writeDataFiles(keepRows, blooms = Some(snap.bloomCols), sort = Some(snap.sortCols), props = Some(snap.props))
    commitOrCleanup(rewritten, "delete", cdcFiles = cdcFiles) { prev =>
      val replaced = affected.map(_.path).toSet
      val prevPaths = prev.files.map(_.path).toSet
      if (!replaced.forall(prevPaths.contains)) throw LogTable.StaleSourceFiles
      assertNoLateDeletesOn(snap, prev, replaced)
      prev.files.filterNot(f => replaced.contains(f.path)) ++ rewritten
    }
  }

  /** ICEBERG METADATA DELETE — apply a DELETE as a pure manifest
    * operation when file metadata can prove it exact: a file whose
    * every row provably matches the condition is dropped from the
    * snapshot without being read, and the whole statement succeeds
    * only if NO live file needs a row-level rewrite (every file's
    * [[GraftPrune.strictMatch]] verdict is decided). Returns false
    * otherwise — the caller falls back to COW [[delete]]. This is THE
    * retention operation at 100 TB: `DELETE WHERE day = '2026-01-01'`
    * on a day-partitioned table drops a whole partition with zero
    * data I/O instead of rewriting (or even reading) a terabyte.
    * Verdicts are re-derived INSIDE the commit retry loop, so a
    * concurrent append of a boundary file flips the statement to the
    * COW path instead of silently surviving the delete. */
  def deleteMetadataOnly(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    require(filters.nonEmpty, "deleteMetadataOnly needs a condition — " +
      "an unconditional delete is truncate()")
    def verdict(f: DataFile, ts: Seq[Transform]): Option[Boolean] = {
      val vs = filters.map(GraftPrune.strictMatch(f, ts, _))
      if (vs.exists(_.contains(false))) Some(false)
      else if (vs.forall(_.contains(true))) Some(true)
      else None
    }
    def plan(files: Seq[DataFile], ts: Seq[Transform]): Option[Seq[String]] = {
      val vs = files.map(f => verdict(f, ts))
      if (vs.exists(_.isEmpty)) None
      else Some(files.zip(vs).collect { case (f, Some(true)) => f.path })
    }
    val first = snapshot()
    plan(first.files, first.transforms) match {
      case None => false
      case Some(drop) if drop.isEmpty => true // provably zero matching rows
      case Some(_) =>
        try {
          commit("delete") { prev =>
            plan(prev.files, prev.transforms) match {
              case Some(d2) if d2.nonEmpty =>
                val dropPaths = d2.toSet
                prev.files.filterNot(f => dropPaths.contains(f.path))
              case Some(_) => throw LogTable.NoopMetadataDelete
              case None => throw LogTable.StaleSourceFiles
            }
          }
          true
        } catch {
          case LogTable.NoopMetadataDelete => true // raced to a no-op
          case LogTable.StaleSourceFiles => false  // boundary file appeared
        }
    }
  }

  /** Metadata-only PARTITION DROP — the Scala mirror of
    * [[deleteMetadataOnly]] with [[readWhere]]'s interface: drop every
    * file whose partition values satisfy `pred`, as one manifest
    * commit with zero data I/O. Exact by construction (all rows of a
    * file share its partition tuple) — and therefore refused loudly,
    * exactly as readWhere is, when any live file predates the current
    * partition spec (its partition map lacks the current keys, so
    * `pred` can neither select nor exclude it). Old snapshots still
    * time-travel to the dropped rows; expire() reclaims the files. */
  def dropPartitions(pred: Map[String, String] => Boolean): Snapshot = {
    def guard(files: Seq[DataFile], partCols: Seq[String]): Unit = {
      val stale = partCols.filter(c => files.exists(f => !f.partitions.contains(c)))
      require(stale.isEmpty,
        s"dropPartitions: data file(s) predate the current partition spec " +
          s"and carry no value for [${stale.mkString(", ")}] — use " +
          "delete() (row-exact), or migrate the layout with " +
          "compact(smallBytes = Long.MaxValue)")
    }
    guard(snapshot().files, snapshot().partCols) // fast loud fail
    commit("delete") { prev =>
      guard(prev.files, prev.partCols) // race-free re-check
      prev.files.filterNot(f => pred(f.partitions))
    }
  }

  /** MERGE-ON-READ row-level delete (Iceberg v2 position deletes):
    * instead of rewriting every data file that contains a matching row
    * (COW [[delete]] — write amplification proportional to file size,
    * not match count), ONE delete-aware scan records the matching
    * rows' `(file, position)` pairs into a small position-delete file
    * and commits it as metadata. Reads anti-join the marked positions
    * away; [[compact]] folds outstanding deletes into rewritten data
    * files. At 100 TB this is the difference between a small delete
    * costing O(matched rows) and costing O(every touched file's
    * bytes) — COW stays the right default for bulk deletes (it leaves
    * no read-side debt), MoR is for frequent small ones, exactly the
    * Iceberg v2 trade-off.
    *
    * The marking scan is DELETE-AWARE: an already-marked position can
    * never match again, so positions across delete files stay
    * disjoint and [[Snapshot.liveRows]]'s arithmetic stays exact.
    * SQL DELETE semantics: only condition=TRUE rows are marked (NULL
    * predicates keep their row). Prior snapshots still see the rows;
    * [[readAppends]] (and the streaming source) throw at a mor-delete
    * boundary exactly as for COW row-changers. */
  def deleteMor(condition: org.apache.spark.sql.Column): Snapshot =
    withStaleRetry { () => deleteMorOnce(condition) }

  private def deleteMorOnce(condition: org.apache.spark.sql.Column): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // dropping a strictly-matched file beats marking every row in it —
    // same ladder as COW (Iceberg applies metadata deletes to both)
    if (metadataFirst(condition)) return snapshot()
    val snap = snapshot()
    if (snap.files.isEmpty) return snap
    val cols = schemaOf(snap).fieldNames.map(_.toLowerCase).toSet
    require(!cols.contains(LogTable.FileCol) && !cols.contains(LogTable.PosCol),
      s"deleteMor cannot target tables with a ${LogTable.FileCol}/" +
        s"${LogTable.PosCol} column (they collide with the position plumbing)")
    val marked = readLivePos(snap, snap.files)
      .filter(coalesce(condition, lit(false)))
      .select(col(LogTable.FileCol).as("file_path"), col(LogTable.PosCol).as("pos"))
    val written = writeDeleteFiles(marked, snap.files.size)
    if (written.isEmpty) return snap
    commit("mor-delete", nextDeletes = prev => prev.deletes ++ written) { prev =>
      // positions are only meaningful against the exact snapshot that
      // was scanned: a concurrent rewrite of a referenced file, or any
      // concurrent delete-file change (another MoR delete could have
      // marked overlapping positions), invalidates them → re-plan
      val prevPaths = prev.files.map(_.path).toSet
      if (written.exists(d => !d.refPaths.forall(prevPaths.contains)) ||
          prev.deletes.map(_.path) != snap.deletes.map(_.path)) {
        written.foreach(d => Files.deleteIfExists(Paths.get(d.path)))
        throw LogTable.StaleSourceFiles
      }
      prev.files
    }
  }

  /** MERGE-ON-READ upsert (Iceberg v2's merge-on-read MERGE mode):
    * matched target rows are marked in a POSITION-DELETE file and the
    * whole source batch is appended — no data file is rewritten. Cost
    * is O(matched rows + source rows) instead of COW's O(bytes of
    * every file holding a match): the right shape for frequent small
    * upserts into large files; [[compact]] folds the accumulated
    * marks. Conditional clause surfaces stay on the COW [[merge]];
    * mergeMor is the hot-path whole-row upsert. Source keys must be
    * unique (enforced, as in merge). Marks + new files land in ONE
    * atomic snapshot (op `mor-merge` — a row-changing boundary for
    * readAppends, like every merge). Schema evolution matches append:
    * a wider source widens the table. */
  def mergeMor(updates: DataFrame, key: String): Snapshot =
    withStaleRetry { () => mergeMorOnce(updates, key) }

  private def mergeMorOnce(updates: DataFrame, key: String): Snapshot = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val snap = snapshot()
    if (snap.files.isEmpty) return append(updates)
    require(updates.columns.exists(_.equalsIgnoreCase(key)),
      s"merge key '$key' missing from the source")
    val cols = schemaOf(snap).fieldNames.map(_.toLowerCase).toSet
    require(cols.contains(key.toLowerCase),
      s"merge key '$key' is not a table column")
    require(!cols.contains(LogTable.FileCol) && !cols.contains(LogTable.PosCol),
      s"mergeMor cannot target tables with a ${LogTable.FileCol}/" +
        s"${LogTable.PosCol} column (they collide with the position plumbing)")
    // duplicate source keys would resurrect as duplicate table rows —
    // same enforced contract as merge (one limit-1 aggregation)
    val dup = updates.groupBy(col(key)).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge source has duplicate keys (e.g. $key=${dup.headOption.map(_.get(0)).orNull}); " +
        "keys must be unique in updates — aggregate the source first")
    val mergedNow = mergedSchemaWith(snap, updates.schema)
    // positions of matched target rows, delete-aware (a row already
    // marked by an earlier MoR delete is never double-marked)
    val marked = readLivePos(snap, snap.files)
      .join(updates.select(col(key)).distinct(), Seq(key), "left_semi")
      .select(col(LogTable.FileCol).as("file_path"),
        col(LogTable.PosCol).as("pos"))
    val del = writeDeleteFiles(marked, snap.files.size)
    val newFiles = writeDataFiles(conformTypes(updates, mergedNow),
      distribute = true, blooms = Some(snap.bloomCols), sort = Some(snap.sortCols), props = Some(snap.props))
    var validatedChecks = snap.checks.keySet
    try {
      enforceChecksOnWritten(newFiles, snap.checks, "the merged batch",
        mergedNow.json)
      commit("mor-merge",
          nextSchema = prev => mergedSchemaWith(prev, updates.schema).json,
          nextDeletes = prev => prev.deletes ++ del) { prev =>
        // positions are only meaningful against the exact snapshot that
        // was scanned (cf. deleteMorOnce): a rewrite of a referenced
        // file or any concurrent delete-file change invalidates them
        val prevPaths = prev.files.map(_.path).toSet
        if (del.exists(d => !d.refPaths.forall(prevPaths.contains)) ||
            prev.deletes.map(_.path) != snap.deletes.map(_.path))
          throw LogTable.StaleSourceFiles
        val fresh = prev.checks -- validatedChecks
        if (fresh.nonEmpty) {
          enforceChecksOnWritten(newFiles, fresh,
            "the merged batch (late check)", mergedNow.json)
          validatedChecks ++= fresh.keySet
        }
        prev.files ++ newFiles
      }
    } catch {
      case e: Throwable =>
        // the written batch and delete file are invisible (never
        // committed) — reclaim them before propagating/retrying
        newFiles.foreach(f => Files.deleteIfExists(Paths.get(f.path)))
        del.foreach(d => Files.deleteIfExists(Paths.get(d.path)))
        throw e
    }
  }

  /** EQUALITY DELETE (Iceberg v2's second delete form): mark every row
    * whose key columns equal a tuple in `keys` as deleted — WITHOUT
    * scanning a single data file. Cost is O(keys): the keys land in an
    * equality-delete file and one metadata commit records it; reads
    * anti-join on the key columns under the DATA-SEQUENCE guard (rows
    * appended after the delete are untouched), and [[compact]] folds
    * the marks into clean files. This is the CDC shape — a stream of
    * tombstone keys applies at ingest rate, where deleteMor's
    * position-marking scan and delete()'s COW rewrite both cost table
    * reads. Trade-off: while marks are outstanding, metadata-only
    * count/min-max refuse (match counts are unknown without a scan) —
    * compact restores them. */
  def deleteEq(keys: DataFrame): Snapshot =
    withStaleRetry(() => deleteEqOnce(keys))

  private def deleteEqOnce(keys: DataFrame): Snapshot = {
    val snap = snapshot()
    if (snap.files.isEmpty) return snap
    val cols = keys.columns.toSeq
    require(cols.nonEmpty, "deleteEq needs at least one key column")
    val schema = schemaOf(snap)
    cols.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"equality-delete column '$c' is not a table column"))
    // CDC change files (opt-in): the rows this tombstone makes
    // invisible — every currently-VISIBLE row matching a key (the new
    // tombstone outranks all live files' sequences). One semi-join
    // scan, only when enabled: without CDC, deleteEq's whole point is
    // O(keys) with no table scan.
    val cdcFiles =
      if (!cdcEnabled(snap)) Nil
      else writeCdcFiles(
        read().join(keys.dropDuplicates(), cols, "left_semi"), "delete")
    writeEqFiles(keys.dropDuplicates()) match {
      case Nil =>
        cdcFiles.foreach(c => Files.deleteIfExists(Paths.get(c.path)))
        snap
      case ds =>
        try commit("eq-delete", cdcFiles = cdcFiles,
            nextEqDeletes = prev => prev.eqDeletes ++ ds) { prev =>
          // CDC pre-images were scanned against `snap`; a commit that
          // landed since (detected under the commit retry) may hold
          // rows the tombstone also masks — stale change files would
          // silently under-report deletes to every CDC reader.
          // Restage from fresh state instead (withStaleRetry).
          if (cdcFiles.nonEmpty && prev.version != snap.version)
            throw LogTable.StaleSourceFiles
          prev.files
        }
        catch {
          case e: Throwable =>
            ds.foreach(d => Files.deleteIfExists(Paths.get(d.path)))
            cdcFiles.foreach(c => Files.deleteIfExists(Paths.get(c.path)))
            throw e
        }
    }
  }

  /** STREAMING UPSERT (equality-delete + append in ONE atomic commit):
    * the source's keys tombstone every OLDER row with the same key and
    * the whole source batch lands as new data files — total cost
    * O(source), never a table scan, never a file rewrite. The
    * merge-on-read ladder, fastest to most general: upsertEq (CDC
    * ingest rate) → [[mergeMor]] (position marks, needs one marking
    * scan) → [[merge]] (COW, full clause surface). Source keys must be
    * unique (enforced); schema evolution as append. */
  def upsertEq(updates: DataFrame, key: String, tag: String = ""): Snapshot =
    withStaleRetry(() => upsertEqOnce(updates, key, tag))

  private def upsertEqOnce(updates: DataFrame, key: String, tag: String): Snapshot = {
    import org.apache.spark.sql.functions.{col, count, lit}
    if (tag.nonEmpty && hasTag(tag)) return snapshot()
    val snap = snapshot()
    if (snap.files.isEmpty) return append(updates, tag)
    require(updates.columns.exists(_.equalsIgnoreCase(key)),
      s"upsert key '$key' missing from the source")
    require(schemaOf(snap).fieldNames.exists(_.equalsIgnoreCase(key)),
      s"upsert key '$key' is not a table column")
    // ONE aggregation answers the dup-key guard AND the key count the
    // sharded tombstone write sizes by — no separate count job
    val gstat = {
      import org.apache.spark.sql.functions.{first, sum, when}
      updates.groupBy(col(key)).agg(count(lit(1)).as("_n"))
        .agg(sum(when(col("_n") > 1, 1L).otherwise(0L)).as("_dups"),
          first(when(col("_n") > 1, col(key)), ignoreNulls = true).as("_ex"),
          count(lit(1)).as("_nkeys"))
        .head()
    }
    require(gstat.isNullAt(0) || gstat.getLong(0) == 0L,
      s"upsert source has duplicate keys (e.g. $key=${gstat.get(1)}); " +
        "keys must be unique in updates — aggregate the source first")
    val mergedNow = mergedSchemaWith(snap, updates.schema)
    // CDC change files (opt-in): matched keys' visible pre-images as
    // 'delete', the whole batch as 'insert' — the upsert's
    // delete+insert net encoding, replayable by every CDC reader
    // (without them an eq-upsert commit is a visibility flip streaming
    // CDC must refuse). One semi-join scan, only when enabled.
    val cdcFiles =
      if (!cdcEnabled(snap)) Nil
      else writeCdcFiles(read().join(updates.select(col(key)).dropDuplicates(),
          Seq(key), "left_semi"), "delete") ++
        writeCdcFiles(conformTypes(updates, mergedNow), "insert")
    val eq = writeEqFiles(updates.select(col(key)),
      knownCount = Some(gstat.getLong(2)))
    val newFiles = writeDataFiles(conformTypes(updates, mergedNow),
      distribute = true, blooms = Some(snap.bloomCols), sort = Some(snap.sortCols), props = Some(snap.props))
    var validatedChecks = snap.checks.keySet
    try {
      enforceChecksOnWritten(newFiles, snap.checks, "the upserted batch",
        mergedNow.json)
      commit("eq-upsert", tag, cdcFiles = cdcFiles,
          nextSchema = prev => mergedSchemaWith(prev, updates.schema).json,
          nextEqDeletes = prev => prev.eqDeletes ++ eq) { prev =>
        // replay absorber, re-checked under the commit retry (cf. append)
        if (tag.nonEmpty && hasTag(tag)) return snapshot()
        // CDC pre-images were scanned against `snap`; a concurrent
        // commit since then may hold matched rows this upsert's
        // tombstone masks — stale change files would omit their
        // 'delete' images and CDC readers would silently diverge from
        // table history. Restage from fresh state (withStaleRetry).
        if (cdcFiles.nonEmpty && prev.version != snap.version)
          throw LogTable.StaleSourceFiles
        val fresh = prev.checks -- validatedChecks
        if (fresh.nonEmpty) {
          enforceChecksOnWritten(newFiles, fresh,
            "the upserted batch (late check)", mergedNow.json)
          validatedChecks ++= fresh.keySet
        }
        prev.files ++ newFiles
      }
    } catch {
      case e: Throwable =>
        newFiles.foreach(f => Files.deleteIfExists(Paths.get(f.path)))
        eq.foreach(d => Files.deleteIfExists(Paths.get(d.path)))
        cdcFiles.foreach(c => Files.deleteIfExists(Paths.get(c.path)))
        throw e
    }
  }

  /** Write a deduplicated key frame as HASH-SHARDED equality-delete
    * parquet files under `deletes/`; Nil when the frame is empty. The
    * sequence number is stamped at commit (the version is not known
    * yet). Shards split every ~`graft.eq.shard.keys` keys (cap 64) —
    * a CDC-sized batch stays one file (readers load every eq file
    * covering their seq range, so file count is read amplification),
    * while a bulk deleteEq of millions of keys writes in parallel
    * instead of funnelling through one task, mirroring the
    * position-delete shard scheme ([[writeDeleteFiles]]). */
  private def writeEqFiles(keys: DataFrame,
      knownCount: Option[Long] = None): Seq[EqDeleteFile] = {
    import org.apache.spark.sql.functions.col
    val cols = keys.columns.toSeq
    val perShard = spark.conf.getOption("graft.eq.shard.keys")
      .map(_.toLong).getOrElse(1000000L)
    val n = knownCount.getOrElse(keys.count())
    if (n == 0L) return Nil
    LogTable.ensureMicrosTimestamps(keys.sparkSession)
    val shards = math.min((n + perShard - 1) / perShard, 64L).toInt
    val stage = rootPath.resolve(s"stage-${UUID.randomUUID()}")
    val delDir = rootPath.resolve("deletes")
    Files.createDirectories(delDir)
    // zero-rename commit into deletes/ (cf. writeDataFiles)
    DirectCommitProtocol.install(spark)
    keys.repartition(shards, cols.map(col): _*).write
      .option(DirectCommitProtocol.TargetKey, delDir.toAbsolutePath.toString)
      .parquet(stage.toString)
    val sidecar = stage.resolve(DirectCommitProtocol.Sidecar)
    val parts =
      if (Files.exists(sidecar))
        Files.readAllLines(sidecar).asScala.toSeq.filter(_.nonEmpty)
          .map(line => Paths.get(line.substring(line.indexOf('\t') + 1)))
          .sortBy(_.toString)
      else {
        val walk = Files.walk(stage)
        val staged = try walk.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
          finally walk.close()
        staged.map { part =>
          val dest = delDir.resolve(s"${UUID.randomUUID()}.parquet")
          Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
          dest
        }
      }
    val out = parts.flatMap { dest =>
      Files.deleteIfExists(dest.resolveSibling(s".${dest.getFileName}.crc"))
      val (rows, _, _, _, _) = parquetFooterMeta(dest)
      if (rows == 0L) { Files.deleteIfExists(dest); None }
      else Some(EqDeleteFile(dest.toString, Files.size(dest), cols, rows, 0L))
    }
    LogTable.deleteRecursively(stage)
    out
  }

  /** `write.cdc.enabled` gate: COW delete/update/merge additionally
    * stage per-commit change files when true (Delta's
    * `delta.enableChangeDataFeed`). Off by default — the extra
    * pre/post-image pass is the documented CDF write cost. */
  private def cdcEnabled(snap: Snapshot): Boolean =
    snap.props.get(LogTable.CdcEnabledProp).exists(_.equalsIgnoreCase("true"))

  /** Write one commit's CHANGE rows as plain parquet under `changes/`
    * (Delta CDF's `_change_data` dir; see [[CdcFile]]) — full rows in
    * the frame's schema, flat (partition columns are stored physically
    * — CDC readers read change files without the hive-layout constant
    * channel). Staged before the commit like data files: invisible
    * until the manifest lands; a lost race deletes them
    * ([[commitOrCleanup]]). Nil for an empty frame. */
  private def writeCdcFiles(df: DataFrame, change: String): Seq[CdcFile] = {
    LogTable.ensureMicrosTimestamps(df.sparkSession)
    val stage = rootPath.resolve(s"stage-${UUID.randomUUID()}")
    val chDir = rootPath.resolve("changes")
    Files.createDirectories(chDir)
    DirectCommitProtocol.install(spark)
    df.write.option(DirectCommitProtocol.TargetKey, chDir.toAbsolutePath.toString)
      .parquet(stage.toString)
    val sidecar = stage.resolve(DirectCommitProtocol.Sidecar)
    val parts =
      if (Files.exists(sidecar))
        Files.readAllLines(sidecar).asScala.toSeq.filter(_.nonEmpty)
          .map(line => Paths.get(line.substring(line.indexOf('\t') + 1)))
          .sortBy(_.toString)
      else {
        val walk = Files.walk(stage)
        val staged = try walk.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
          finally walk.close()
        staged.map { part =>
          val dest = chDir.resolve(s"${UUID.randomUUID()}.parquet")
          Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
          dest
        }
      }
    val out = parts.flatMap { dest =>
      Files.deleteIfExists(dest.resolveSibling(s".${dest.getFileName}.crc"))
      val (rows, _, _, _, _) = parquetFooterMeta(dest)
      if (rows == 0L) { Files.deleteIfExists(dest); None }
      else Some(CdcFile(dest.toString, rows, Files.size(dest), change))
    }
    LogTable.deleteRecursively(stage)
    out
  }

  /** Write `(file_path, pos)` marks as SHARDED position-delete parquet
    * files under `deletes/`; Nil when no row matched. Marks hash-shard
    * by `file_path` — one delete file per ~[[LogTable.DeleteShardSpan]]
    * referenced data files — so a large deleteMor/mergeMor marking
    * pass writes in parallel instead of funnelling every position
    * through one task (Iceberg likewise splits delete files along the
    * data-file axis), and each data file's marks land WHOLLY in one
    * delete file, keeping per-file read amplification at one delete
    * read. At CDC batch sizes `candidateFiles` is small → one shard,
    * the old shape. Each shard task writes its own parquet (the same
    * executor-side [[GraftStageDataWriter]] the row-level seam stages
    * through) AND returns its per-data-file mark counts — ONE Spark
    * job total, no staged read-back pass (the r6 read-back job cost
    * every deleteMor/mergeMor a second full scan of its marks). */
  private[sources] def writeDeleteFiles(marked: DataFrame,
      candidateFiles: Int): Seq[DeleteFile] = {
    import org.apache.spark.sql.functions.col
    val shards = math.max(1, math.min(
      (candidateFiles + LogTable.DeleteShardSpan - 1) / LogTable.DeleteShardSpan,
      256))
    val stage = rootPath.resolve(s"stage-${UUID.randomUUID()}")
    Files.createDirectories(stage)
    // locals only — the task closure must not capture the table handle
    val stageStr = stage.toString
    // DELETION VECTORS by default (see [[DeletionVectors]]): each
    // shard task accumulates its marks per data file and writes one
    // compact sorted-positions blob — reads then filter by codegen'd
    // binary search instead of an anti-join. `graft.deletes.vector`
    // = false keeps the legacy parquet row encoding (readers support
    // both forever; old snapshots' parquet deletes read unchanged).
    val useDv = spark.conf.getOption("graft.deletes.vector")
      .forall(_.toBoolean)
    val perShard: Array[(String, Map[String, Long])] =
      if (useDv)
        marked.repartition(shards, col("file_path"))
          .queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
            if (it.isEmpty) Iterator.empty
            else {
              val acc = scala.collection.mutable
                .HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
              it.foreach { r =>
                acc.getOrElseUpdate(LogTable.localPath(
                  r.getUTF8String(0).toString),
                  scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
              }
              val p = Paths.get(stageStr, s"dv-$pid.dv")
              DeletionVectors.write(p, acc.view.mapValues(_.toArray).toMap)
              Iterator((p.toString,
                acc.view.mapValues(_.length.toLong).toMap))
            }
          }.collect()
      else {
        val schema = LogTable.DeleteSchema
        val sql = org.apache.spark.sql.internal.SQLConf.get
        import org.apache.spark.sql.internal.SQLConf._
        val pairs = Seq(PARQUET_WRITE_LEGACY_FORMAT, PARQUET_OUTPUT_TIMESTAMP_TYPE,
            PARQUET_FIELD_ID_WRITE_ENABLED, PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
          .map(e => e.key -> String.valueOf(sql.getConf(e))).toMap
        val codec = sql.getConf(PARQUET_COMPRESSION)
        marked.repartition(shards, col("file_path"))
          .queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
            if (it.isEmpty) Iterator.empty
            else {
              val w = new GraftStageDataWriter(stageStr, schema, pairs, codec,
                pid, 0L)
              val counts = scala.collection.mutable.HashMap.empty[String, Long]
              var ok = false
              try {
                it.foreach { r =>
                  val key = r.getUTF8String(0).toString
                  counts.update(key, counts.getOrElse(key, 0L) + 1L)
                  w.write(r)
                }
                ok = true
              } finally if (!ok) w.abort()
              w.commit() match {
                case GraftStagedFiles(Seq(p)) => Iterator((p, counts.toMap))
                case _ => Iterator.empty
              }
            }
          }.collect()
      }
    val delDir = rootPath.resolve("deletes")
    Files.createDirectories(delDir)
    val out = perShard.toSeq.map { case (part, rawCounts) =>
      val counts = rawCounts.map { case (p, n) => LogTable.localPath(p) -> n }
      val dest = delDir.resolve(
        s"${UUID.randomUUID()}.${if (useDv) "dv" else "parquet"}")
      Files.move(Paths.get(part), dest, StandardCopyOption.ATOMIC_MOVE)
      DeleteFile(dest.toString, Files.size(dest), counts)
    }
    LogTable.deleteRecursively(stage)
    out
  }

  /** Copy-on-write row-level UPDATE (Iceberg/Delta
    * `UPDATE t SET c = expr, ... WHERE cond`): one distributed pass
    * finds the files containing condition-true rows (file names only),
    * ONLY those files are rewritten with `sets` applied to their
    * matching rows, and a replacing snapshot commits. Set expressions
    * may reference any of the row's columns and are cast to the
    * column's existing type (no silent schema drift); NULL conditions
    * leave the row unchanged (SQL three-valued logic). Prior snapshots
    * still read the pre-update rows. */
  def update(condition: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column]): Snapshot =
    withStaleRetry { () => updateOnce(condition, sets) }

  private def updateOnce(condition: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column]): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, col, input_file_name, lit, when}
    require(sets.nonEmpty, "update needs at least one SET column")
    val snap = snapshot()
    if (snap.files.isEmpty) return snap
    // validate SET names against the schema BEFORE any scan: a typo'd
    // column must fail loudly even when no row matches the condition
    val allCols = schemaOf(snap).fieldNames.toSeq
    sets.keys.foreach(k => require(allCols.contains(k),
      s"unknown SET column '$k' (table has ${allCols.mkString(", ")})"))
    val hit = readLiveTagged(snap, snap.files).filter(condition)
      .select(col("_file")).distinct()
      .collect().map(r => LogTable.localPath(r.getString(0))).toSet
    if (hit.isEmpty) return snap
    val affected = snap.files.filter(f => hit.contains(f.path))
    // delete-aware: rewriting an affected file folds its outstanding
    // position deletes in instead of resurrecting the marked rows.
    // Lineage-carrying inputs: every row KEEPS its `_row_id` through
    // the update (the CDC-reconciliation property lineage exists
    // for); an UPDATED row's `_last_updated_sequence_number` resets
    // to null so it re-inherits THIS commit's sequence — the spec's
    // update rule. SET cannot name the lineage columns (set keys
    // validate against the table schema above, which never holds
    // them).
    val src = readLiveRw(snap, affected)
    val cols = src.columns.toSeq
    val cond = coalesce(condition, lit(false))
    val rewrittenRows = src.select(cols.map { c =>
      if (c == LogTable.LuSeqCol)
        when(cond, lit(null).cast(org.apache.spark.sql.types.LongType))
          .otherwise(col(c)).as(c)
      else sets.get(c) match {
        case Some(e) =>
          when(cond, e.cast(src.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    // CDC change files (opt-in): matched rows' old values as
    // pre-images ('delete') and their SET-applied twins as post-images
    // ('insert') — the standard update = delete + insert encoding.
    // Lineage metadata never enters the change feed (CDC replays DATA).
    val cdcFiles =
      if (!cdcEnabled(snap)) Nil
      else {
        val hitRows = src.filter(cond)
          .drop(LogTable.RowIdCol, LogTable.LuSeqCol)
        val dataCols = cols.filterNot(c =>
          c == LogTable.RowIdCol || c == LogTable.LuSeqCol)
        writeCdcFiles(hitRows, "delete") ++
          writeCdcFiles(hitRows.select(dataCols.map { c =>
            sets.get(c) match {
              case Some(e) => e.cast(src.schema(c).dataType).as(c)
              case None => col(c)
            }
          }: _*), "insert")
      }
    val rewritten = writeDataFiles(rewrittenRows,
      blooms = Some(snap.bloomCols), sort = Some(snap.sortCols), props = Some(snap.props))
    enforceChecksOnWritten(rewritten, snap.checks, "the updated rows",
      snap.schemaJson)
    var validatedChecks = snap.checks.keySet
    commitOrCleanup(rewritten, "update", cdcFiles = cdcFiles) { prev =>
      val replaced = affected.map(_.path).toSet
      val prevPaths = prev.files.map(_.path).toSet
      if (!replaced.forall(prevPaths.contains)) throw LogTable.StaleSourceFiles
      assertNoLateDeletesOn(snap, prev, replaced)
      // a check that landed concurrently (addCheck won a commit between
      // our validation and this one) must hold for the rewritten rows
      // too — same late-check closure append() runs, so addCheck's
      // "every writer enforces" contract has no update-shaped hole
      val fresh = prev.checks -- validatedChecks
      if (fresh.nonEmpty) {
        enforceChecksOnWritten(rewritten, fresh,
          "the updated rows (late check)", snap.schemaJson)
        validatedChecks ++= fresh.keySet
      }
      prev.files.filterNot(f => replaced.contains(f.path)) ++ rewritten
    }
  }

  /** Copy-on-write MERGE by key — the full ANSI/Delta/Spark-3.4+
    * clause surface over the reference's table
    * (reference README.md:125-140 — the "arbitrary SQL" surface a
    * Trino/Iceberg user of the reference's table reaches for):
    * `MERGE INTO t USING s ON t.key = s.key
    *    WHEN MATCHED AND <deleteWhen> THEN DELETE
    *    WHEN MATCHED AND <updateWhen> THEN UPDATE SET *
    *    WHEN NOT MATCHED THEN INSERT *
    *    WHEN NOT MATCHED BY SOURCE AND <cond> THEN DELETE`
    *
    * Clause semantics, evaluated per matched (target, source) pair in
    * clause order:
    *   1. `matchedDeleteWhen` true  → target row removed;
    *   2. else `matchedUpdateWhen` true (None = always) → target row
    *      REPLACED by the source row;
    *   3. else → target row kept unchanged.
    * Source rows whose key matches nothing are inserted; matched source
    * rows are never inserted (they act via clause 2 only). Target rows
    * with NO source match are deleted when `notMatchedBySourceDelete`
    * is true for them (the retention/sync shape: "rows that vanished
    * from the source feed age out of the table"). NULL conditions are
    * false (SQL three-valued logic).
    *
    * Matched-clause conditions may reference BOTH sides: target
    * columns by name, source columns as `src_<name>` (e.g.
    * `col("value") < col("src_value")`); the not-matched-by-source
    * condition sees target columns only (there is no source row).
    * Keys must be unique in `updates` — multiple source matches per
    * target row are ambiguous (Iceberg raises; here the join would
    * duplicate target rows).
    *
    * COLUMN-LEVEL clauses (Trino/Delta `UPDATE SET c = expr, ...` and
    * `INSERT (cols) VALUES (exprs)`): `matchedSet` replaces the
    * whole-row update with per-column expressions evaluated over the
    * matched pair (target columns bare, source columns `src_<name>`),
    * cast to the column's existing type; unlisted columns keep their
    * target values; the merge key cannot be SET. `insertValues` builds
    * inserted rows from per-column expressions over the SOURCE row
    * (bare source column names); unlisted target columns become typed
    * nulls. When BOTH are column-level, the source frame's own schema
    * never touches the table schema (no merge schema evolution — extra
    * source columns exist only as expression inputs), matching SQL
    * expectations; a whole-row side keeps the evolution semantics.
    *
    * COW: only files containing matched keys — plus, when the
    * not-matched-by-source clause is present, files containing rows it
    * deletes — are rewritten (distributed discovery passes find both
    * sets, as delete). */
  def merge(updates: DataFrame, key: String,
      matchedUpdateWhen: Option[org.apache.spark.sql.Column] = None,
      matchedDeleteWhen: Option[org.apache.spark.sql.Column] = None,
      notMatchedBySourceDelete: Option[org.apache.spark.sql.Column] = None,
      matchedSet: Option[Map[String, org.apache.spark.sql.Column]] = None,
      insertValues: Option[Map[String, org.apache.spark.sql.Column]] = None,
      tag: String = "",
      /** The caller VOUCHES the source is key-unique (e.g. it is the
        * output of a groupBy on the key), so the dup-key guard — one
        * aggregation job over the source per merge — is skipped. The
        * guard exists for arbitrary user frames; a provably-grouped
        * delta (the MaterializedView refresh path, which merges on
        * every batch of a continuous ingest loop) pays it for no
        * information. */
      sourceKeysUnique: Boolean = false): Snapshot =
    withStaleRetry { () =>
      mergeOnce(updates, key, matchedUpdateWhen, matchedDeleteWhen,
        notMatchedBySourceDelete, matchedSet, insertValues, tag,
        sourceKeysUnique) }

  private def mergeOnce(updates0: DataFrame, key: String,
      matchedUpdateWhen: Option[org.apache.spark.sql.Column],
      matchedDeleteWhen: Option[org.apache.spark.sql.Column],
      notMatchedBySourceDelete: Option[org.apache.spark.sql.Column],
      matchedSet: Option[Map[String, org.apache.spark.sql.Column]],
      insertValues: Option[Map[String, org.apache.spark.sql.Column]],
      tag: String = "",
      sourceKeysUnique: Boolean = false): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val snap = snapshot()
    if (snap.files.isEmpty) return append(updates0, tag)
    // a narrow source (int batch into a widened long column) upcasts
    // once here, so every downstream path sees the table's types
    val updates = conformTypes(updates0, schemaOf(snap))
    // whole-row sides (SET * replace / INSERT *) carry the source
    // frame's schema into the table → merge schema evolution; with
    // both sides column-level the table schema is untouched and extra
    // source columns are expression inputs only
    val wholeRow = matchedSet.isEmpty || insertValues.isEmpty
    // schema pre-validation, symmetric with append: a retyping source
    // must fail BEFORE discovery scans and file writes, not inside the
    // commit after every rewrite file has landed
    if (wholeRow) mergedSchemaWith(snap, updates.schema)
    // column-level specs validate against the target schema up front:
    // a typo'd column fails loudly before any scan, and the merge key
    // cannot be rewritten out from under the join
    locally {
      val tgtNames = schemaOf(snap).fieldNames.map(_.toLowerCase).toSet
      matchedSet.foreach { m =>
        m.keys.foreach(k => require(tgtNames.contains(k.toLowerCase),
          s"unknown SET column '$k' in merge"))
        require(!m.keys.exists(_.equalsIgnoreCase(key)),
          s"merge cannot SET the merge key '$key'")
      }
      insertValues.foreach(m =>
        m.keys.foreach(k => require(tgtNames.contains(k.toLowerCase),
          s"unknown INSERT column '$k' in merge (column lists name existing " +
            "target columns; use whole-row INSERT * to widen the schema)")))
    }
    val keys = updates.select(col(key))
    // rows are tagged with their source file by the delete-aware scan
    // (`_metadata`-derived) BEFORE the semi join against the updates
    // source; MoR-deleted rows never match (they are gone).
    val tagged = readLiveTagged(snap, snap.files).select(col(key), col("_file"))
    // the not-matched-by-source clause widens the rewrite set to files
    // holding unmatched rows it deletes. ONE discovery pass either way
    // (file names only — never a data collect): with the clause, a
    // left join marks matched rows and the same scan evaluates the
    // NMBS condition on the unmatched ones.
    val hit = notMatchedBySourceDelete match {
      case None =>
        tagged.join(keys, Seq(key), "left_semi")
          .select(col("_file")).distinct()
          .collect().map(r => LogTable.localPath(r.getString(0))).toSet
      case Some(cond) =>
        readLiveTagged(snap, snap.files)
          .join(keys.withColumn("_matched", lit(true)), Seq(key), "left")
          .filter(col("_matched").isNotNull || coalesce(cond, lit(false)))
          .select(col("_file")).distinct()
          .collect().map(r => LogTable.localPath(r.getString(0))).toSet
    }
    val affected = snap.files.filter(f => hit.contains(f.path))
    // lineage-carrying targets thread `_row_id` through the rewrite
    // (updated rows KEEP their id — the spec's update rule; inserted
    // rows carry null and take fresh ids at the next v3 export), so
    // the source frame must not collide with the reserved names
    if (affected.exists(_.hasLineage))
      require(!updates.columns.exists(c => c == LogTable.RowIdCol ||
          c == LogTable.LuSeqCol),
        s"merge source cannot carry a ${LogTable.RowIdCol}/" +
          s"${LogTable.LuSeqCol} column into a row-lineage table " +
          "(Iceberg reserves those names for lineage metadata)")
    // The documented "keys unique in updates" contract is ENFORCED, not
    // trusted: a duplicate source key would fan the left join out and
    // silently duplicate target rows (Iceberg raises for the same
    // condition — "multiple matching rows"). One limit-1 aggregation
    // job over the source; only needed when matches exist.
    if (affected.nonEmpty && !sourceKeysUnique) {
      val dup = updates.groupBy(col(key))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("_n"))
        .filter(col("_n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"merge source has duplicate keys (e.g. $key=${dup.headOption.map(_.get(0)).orNull}); " +
          "keys must be unique in updates — aggregate the source first")
    }
    // Matched keys live only in affected files — the anti-join source
    // for WHEN NOT MATCHED THEN INSERT scans just those.
    val inserts =
      if (affected.isEmpty) updates
      else updates.join(readLive(snap, affected).select(col(key)),
        Seq(key), "left_anti")
    // (surviving rows to rewrite, CDC pre-images, CDC update post-images)
    val (survivors, cdcPre, cdcPost) =
      if (affected.isEmpty)
        (spark.emptyDataFrame, Option.empty[DataFrame], Option.empty[DataFrame])
      else {
        val src = readLiveRw(snap, affected)
        val cols = src.columns.toSeq
        require(!cols.contains("_matched") && !cols.exists(_.startsWith("src_")),
          "merge cannot target tables with a _matched or src_-prefixed column " +
            "(they collide with the clause-evaluation markers)")
        require(!updates.columns.contains("_matched") &&
            !updates.columns.exists(_.startsWith("src_")),
          "merge updates cannot carry a _matched or src_-prefixed column " +
            "(the rename to src_<name> would collide)")
        // case-INSENSITIVE membership, matching Spark's default column
        // resolution — a target `Score` must find updates column `score`
        // or the matched row would be silently nulled instead of updated
        val updCols = updates.columns.map(_.toLowerCase).toSet
        // source columns renamed src_<name> (key stays for the join);
        // _matched marks pairs (left join → null on unmatched targets)
        val renamed = updates.columns.foldLeft(updates) { (d, c) =>
          if (c == key) d else d.withColumnRenamed(c, s"src_$c")
        }.withColumn("_matched", lit(true))
        val joined = src.join(renamed, Seq(key), "left")
        val matched = col("_matched").isNotNull
        val doDelete = matched &&
          coalesce(matchedDeleteWhen.getOrElse(lit(false)), lit(false))
        val doUpdate = matched && !doDelete &&
          coalesce(matchedUpdateWhen.getOrElse(lit(true)), lit(false))
        val doNmbsDelete = !matched &&
          coalesce(notMatchedBySourceDelete.getOrElse(lit(false)), lit(false))
        // MERGE SCHEMA EVOLUTION (Delta parity): a WIDER source does
        // not only grow the schema through the inserts — matched rows
        // taking the update receive the new columns' VALUES, and kept
        // rows materialize them as typed nulls, exactly what a later
        // read of unrewritten files will show for their rows. With
        // both clauses column-level there is no evolution: the source
        // frame's own columns never touch the table schema.
        val targetLower = cols.map(_.toLowerCase).toSet
        val newCols =
          if (!wholeRow) Nil
          else updates.schema.fields.toSeq
            .filter(f => f.name != key && !targetLower.contains(f.name.toLowerCase))
        val kept = joined.filter(!doDelete && !doUpdate && !doNmbsDelete)
          .select(cols.map(col) ++ newCols.map(f =>
            lit(null).cast(f.dataType).as(f.name)): _*)
        val updated = matchedSet match {
          case Some(setsRaw) =>
            // column-level UPDATE SET: listed columns take their
            // expression (evaluated over the matched pair — target
            // bare, source as src_<name>), cast to the column's
            // existing type; unlisted columns keep the target value
            val sets = setsRaw.map { case (k, v) => k.toLowerCase -> v }
            joined.filter(doUpdate)
              .select(cols.map { c =>
                // updated rows keep `_row_id` (default col(c) below —
                // SET cannot name it) but re-inherit this commit's
                // sequence for `_last_updated_sequence_number`
                if (c == LogTable.LuSeqCol)
                  lit(null).cast(org.apache.spark.sql.types.LongType).as(c)
                else sets.get(c.toLowerCase) match {
                  case Some(e) => e.cast(src.schema(c).dataType).as(c)
                  case None => col(c)
                }
              } ++ newCols.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
          case None =>
            // whole-row replace. updates may be NARROWER than the
            // table (same contract as the pre-clause merge, where
            // mergeSchema read absent columns as null on replaced
            // rows): target columns missing from the source become
            // typed nulls in the updated row.
            joined.filter(doUpdate)
              .select(cols.map { c =>
                // whole-row replace preserves the target's `_row_id`
                // (a replaced row is still the same row) and
                // re-inherits the sequence
                if (c == LogTable.RowIdCol) col(c)
                else if (c == LogTable.LuSeqCol)
                  lit(null).cast(org.apache.spark.sql.types.LongType).as(c)
                else if (c == key) col(c)
                else if (updCols.contains(c.toLowerCase)) col(s"src_$c").as(c)
                else lit(null).cast(src.schema(c).dataType).as(c)
              } ++ newCols.map(f => col(s"src_${f.name}").as(f.name)): _*)
        }
        // CDC pre-images: every target row this merge removes or
        // replaces, at its OLD values (matched deletes, updated rows'
        // old images, not-matched-by-source deletes)
        val pre = joined.filter(doDelete || doUpdate || doNmbsDelete)
          .select(cols.map(col): _*)
        (kept.unionByName(updated), Some(pre), Some(updated))
      }
    // column-level INSERT (cols) VALUES: inserted rows are built from
    // per-column expressions over the SOURCE row; unlisted target
    // columns land as typed nulls (including the key, if unlisted —
    // list it, as any SQL INSERT would)
    val insertRows = insertValues match {
      case Some(ivRaw) =>
        val iv = ivRaw.map { case (k, v) => k.toLowerCase -> v }
        val tgt = schemaOf(snap)
        val tLower = tgt.fieldNames.map(_.toLowerCase).toSet
        val newIns =
          if (!wholeRow) Nil
          else updates.schema.fields.toSeq
            .filter(f => f.name != key && !tLower.contains(f.name.toLowerCase))
        inserts.select(tgt.map { f =>
          iv.get(f.name.toLowerCase) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        } ++ newIns.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      case None => inserts
    }
    // CDC change files (opt-in): pre-images of removed/replaced rows,
    // post-images of updates, and the inserted rows — the full
    // merge = delete + insert net-change encoding, replayable by every
    // CDC reader across this otherwise-opaque mixed rewrite
    val cdcFiles =
      if (!cdcEnabled(snap)) Nil
      else cdcPre.toSeq.flatMap(p => writeCdcFiles(
          p.drop(LogTable.RowIdCol, LogTable.LuSeqCol), "delete")) ++
        cdcPost.toSeq.flatMap(p => writeCdcFiles(
          p.drop(LogTable.RowIdCol, LogTable.LuSeqCol), "insert")) ++
        writeCdcFiles(insertRows, "insert")
    val rewritten =
      (if (affected.isEmpty) Seq.empty
       else writeDataFiles(survivors, blooms = Some(snap.bloomCols), sort = Some(snap.sortCols), props = Some(snap.props))) ++
        writeDataFiles(insertRows, blooms = Some(snap.bloomCols), sort = Some(snap.sortCols), props = Some(snap.props))
    // constraints validate everything this merge WROTE (survivor files
    // conform by induction but re-checking them costs one read of the
    // just-written local files, not a re-execution of the join). A
    // narrow insert lands its missing checked columns as NULL, and a
    // NULL predicate passes — SQL CHECK semantics, same as any engine.
    val mergedJson =
      if (wholeRow) mergedSchemaWith(snap, updates.schema).json
      else snap.schemaJson
    enforceChecksOnWritten(rewritten, snap.checks, "the merged rows", mergedJson)
    var validatedChecks = snap.checks.keySet
    // inserts carry the updates frame as-is, so a WIDER source grows
    // the table schema (validated: shared columns must keep types);
    // fully column-level merges leave the schema untouched
    commitOrCleanup(rewritten, "merge",
        nextSchema = prev =>
          if (wholeRow) mergedSchemaWith(prev, updates.schema).json
          else prev.schemaJson,
        tag = tag, cdcFiles = cdcFiles) { prev =>
      val replaced = affected.map(_.path).toSet
      val prevPaths = prev.files.map(_.path).toSet
      if (!replaced.forall(prevPaths.contains)) throw LogTable.StaleSourceFiles
      assertNoLateDeletesOn(snap, prev, replaced)
      // late-check closure, as append()/update(): a constraint that
      // committed after our validation must hold for every written row
      val fresh = prev.checks -- validatedChecks
      if (fresh.nonEmpty) {
        enforceChecksOnWritten(rewritten, fresh,
          "the merged rows (late check)", mergedJson)
        validatedChecks ++= fresh.keySet
      }
      prev.files.filterNot(f => replaced.contains(f.path)) ++ rewritten
    }
  }

  /** Re-cluster the table on `column` (Iceberg's rewrite_data_files
    * with a sort order): rewrite ALL current data into `nFiles`
    * range-partitioned, internally-sorted files and commit the
    * replacing snapshot. After re-clustering, each file covers a
    * disjoint slice of the column's domain, so the manifest [min, max]
    * ranges turn readRange into a near-perfect file pruner — the
    * sort+skip maintenance step that keeps time-range scans
    * I/O-proportional on a log table whose appends arrived out of
    * order. The rewrite is one range-partitioned shuffle (sampling
    * picks balanced split points), never a global single-node sort. */
  def recluster(column: String, nFiles: Int): Snapshot = {
    require(nFiles >= 1, "nFiles must be >= 1")
    withStaleRetry { () =>
      val snap = snapshot()
      if (snap.files.isEmpty) snap
      else {
        import org.apache.spark.sql.functions.col
        val rewritten = writeDataFiles(
          readLiveRw(snap, snap.files)
            .repartitionByRange(nFiles, col(column))
            .sortWithinPartitions(column),
          blooms = Some(snap.bloomCols), sort = Some(Nil),
          props = Some(snap.props))
        commitOrCleanup(rewritten, "recluster") { prev =>
          val replaced = snap.files.map(_.path).toSet
          val prevPaths = prev.files.map(_.path).toSet
          if (!replaced.forall(prevPaths.contains)) throw LogTable.StaleSourceFiles
          assertNoLateDeletesOn(snap, prev, replaced)
          prev.files.filterNot(f => replaced.contains(f.path)) ++ rewritten
        }
      }
    }
  }

  /** Two-dimensional Z-ORDER recluster (Delta OPTIMIZE ZORDER BY /
    * Iceberg sort-order z-order): rewrite the table ordered along the
    * Morton curve of (c1, c2) so each file covers a compact RECTANGLE of
    * the 2-D key space — after which readRange prunes usefully on
    * EITHER column, which no single-column sort can give. Both
    * columns are min/max-normalized to 32-bit fixed point and their
    * bits interleaved into one 64-bit z-value; normalization precision
    * only shapes the layout, never the data (the z column is dropped
    * before write). One range-partitioned shuffle, like recluster. */
  def reclusterZ(c1: String, c2: String, nFiles: Int): Snapshot =
    reclusterZ(Seq(c1, c2), nFiles)

  /** N-DIMENSIONAL Z-order rewrite (Iceberg/Delta `ZORDER BY (a, b,
    * ...)` accept arbitrary column lists): one range+sort rewrite on
    * the interleaved Morton value of ALL the listed columns, each
    * normalized to its live [min, max] over ⌊62/k⌋ bits — the z stays
    * non-negative in a signed long, so range partitioning never
    * straddles the sign wrap. Two columns keep the masked-spread fast
    * kernel; higher dimensions interleave bit-by-bit (still plain
    * shift/mask arithmetic, fully codegen'd — it only runs in the
    * rewrite job). Manifest [min, max] ranges on every listed column
    * tighten together, so point/range reads prune on ALL axes. */
  def reclusterZ(cols: Seq[String], nFiles: Int): Snapshot = {
    require(nFiles >= 1, "nFiles must be >= 1")
    require(cols.size >= 2, "z-ordering needs at least two columns")
    require(cols.map(_.toLowerCase).distinct.size == cols.size,
      s"duplicate z-order column in ${cols.mkString(", ")}")
    withStaleRetry { () =>
      val snap = snapshot()
      if (snap.files.isEmpty) snap
      else {
        import org.apache.spark.sql.functions.{col, max, min}
        val df = readLiveRw(snap, snap.files)
        cols.foreach { c =>
          val f = df.schema.fields.find(_.name.equalsIgnoreCase(c))
          require(f.nonEmpty, s"no such column '$c'")
          val integral = {
            import org.apache.spark.sql.types._
            Seq(ByteType, ShortType, IntegerType, LongType)
              .contains(f.get.dataType)
          }
          require(integral,
            s"z-order column '$c' must be integral (got ${f.get.dataType}); " +
              "derive an integral proxy column for other types")
        }
        val aggs = cols.flatMap(c =>
          Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
        val b = df.agg(aggs.head, aggs.tail: _*).head()
        val bits = 62 / cols.size
        val z = LogTable.mortonN(cols.zipWithIndex.map { case (c, i) =>
          LogTable.normBits(col(c), b.getLong(2 * i), b.getLong(2 * i + 1),
            bits)
        })
        val rewritten = writeDataFiles(
          df.withColumn("_z", z)
            .repartitionByRange(nFiles, col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z"),
          blooms = Some(snap.bloomCols), sort = Some(Nil),
          props = Some(snap.props))
        commitOrCleanup(rewritten, "recluster") { prev =>
          val replaced = snap.files.map(_.path).toSet
          val prevPaths = prev.files.map(_.path).toSet
          if (!replaced.forall(prevPaths.contains)) throw LogTable.StaleSourceFiles
          assertNoLateDeletesOn(snap, prev, replaced)
          prev.files.filterNot(f => replaced.contains(f.path)) ++ rewritten
        }
      }
    }
  }

  /** Remove files a crashed writer left behind (Iceberg's
    * remove_orphan_files(older_than)): delete every file under data/
    * referenced by NO live manifest, plus stray stage-* directories —
    * but only those last modified before `olderThanMs`, because a
    * healthy in-flight writer moves data files into place BEFORE its
    * manifest commits, and vacuuming its fresh files would break the
    * commit. Returns the deleted data-file paths. */
  def removeOrphans(olderThanMs: Long = System.currentTimeMillis() - 3600000L,
      dryRun: Boolean = false): Seq[String] = {
    // MARKER-PENDING files are NOT orphans: a published 0-byte index
    // marker ([[MarkerCommit.flush]]) is the durability line — "this
    // file WILL commit" — even though no manifest references it yet.
    // Sweeping one while the leader is down would silently lose a
    // durably-flushed batch; the markers themselves are cleaned by the
    // committer, never by this sweep.
    val pendingFiles = MarkerCommit.pending(root, io).map(m =>
      dataDir.toAbsolutePath.normalize
        .resolve(MarkerCommit.relOfMarker(m)).toString).toSet
    val live = allLiveFiles() ++ pendingFiles
    // orphan candidates span the data pool AND the position-delete
    // pool — a crashed deleteMor leaves its delete file unreferenced
    // exactly as a crashed append leaves data files
    val delDir = rootPath.resolve("deletes")
    val chDir = rootPath.resolve("changes")
    val candidates = Seq(dataDir, delDir, chDir).filter(Files.isDirectory(_))
      .flatMap { d =>
        val walk = Files.walk(d)
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        finally walk.close()
      }
    val dead = candidates.filter(p => !live.contains(p.toString) &&
      Files.getLastModifiedTime(p).toMillis < olderThanMs)
    // DRY RUN (Delta `VACUUM ... DRY RUN`): report the reclaim list,
    // touch nothing — what an operator runs before the real sweep
    if (!dryRun) {
      dead.foreach(Files.deleteIfExists(_))
      val ls = Files.list(rootPath)
      val stages = try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("stage-")).toSeq
        finally ls.close()
      stages.filter(p => Files.getLastModifiedTime(p).toMillis < olderThanMs)
        .foreach(LogTable.deleteRecursively)
      // stray manifest segments: a commit that crashed between writing
      // its segments and publishing its snapshot leaves pool files no
      // manifest references — same age guard as data files (a healthy
      // in-flight commit writes segments moments before its manifest).
      // mtime is a local-FS probe; non-local seg entries are skipped
      // (their stores reclaim via expire's referenced-by-dropped rule).
      val liveSegs = allLiveSegNames()
      io.list(mainLogDir).filter(_.startsWith("seg-"))
        .filterNot(liveSegs.contains).foreach { n =>
          val p = mainLogDir.resolve(n)
          if (scala.util.Try(
              Files.getLastModifiedTime(p).toMillis < olderThanMs)
              .getOrElse(false)) {
            io.delete(p)
            LogTable.segCache.evict(p.toString)
          }
        }
    }
    dead.map(_.toString)
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` / Iceberg
    * snapshot-ref-as-table): create a NEW table at `destRoot` whose
    * first snapshot references THIS table's `version` data/delete
    * files by absolute path — zero data copied, O(metadata), the
    * instant-sandbox shape (experiment on production data without
    * touching it). The clone then lives its own life: its writes land
    * under its own root, its commits never touch the source, and its
    * retention can never reclaim borrowed source files (expire's
    * own-root guard). CAVEAT, same as Delta's: the clone DEPENDS on
    * the source's files — a source expire()/removeOrphans that
    * reclaims them breaks the clone (the source cannot see the
    * clone's references). Clone from a snapshot the source retains,
    * or run `clone.compact(smallBytes = Long.MaxValue)` to migrate
    * the data into files the clone owns. */
  def cloneTo(destRoot: String, version: Long = currentVersion): LogTable = {
    val snap = snapshot(version)
    val dest = LogTable(spark, destRoot)
    require(dest.currentVersion == 0L,
      s"clone destination $destRoot already has commits")
    // private-member access across instances of the same class: the
    // clone's first commit carries the WHOLE snapshot state — files
    // (original seqs kept), delete context, schema (field ids + name
    // history), spec, sort order, properties, blooms, NDVs. Segments
    // are NOT carried (they live under the source's log dir); the
    // clone packs its own.
    dest.commit("clone", tag = s"clone-of-$root@v$version",
      nextSchema = _ => snap.schemaJson,
      nextChecks = _ => snap.checks,
      nextRetired = _ => snap.retired,
      nextDeletes = _ => snap.deletes,
      nextSpec = Some((snap.partCols, snap.transforms)),
      nextEqDeletes = _ => snap.eqDeletes,
      nextBlooms = _ => snap.bloomCols,
      nextNdvs = _ => snap.ndvs,
      nextSortCols = _ => snap.sortCols,
      nextProps = _ => snap.props)(_ => snap.files)
    LogTable(spark, destRoot)
  }

  /** A snapshot's outstanding position-delete marks as one frame of
    * (file_path: plain manifest path, pos) rows, across BOTH delete
    * encodings (DV blobs keyed by plain paths; legacy parquet rows
    * keyed URI-rendered — normalized here). The [[IcebergExport]]
    * seam: exporting merge-on-read state needs the marks in
    * engine-neutral row form. */
  private[sources] def marksFrame(snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val (dvs, pqs) = snap.deletes.partition(d => DeletionVectors.isVector(d.path))
    val parts = Seq(
      if (pqs.isEmpty) None
      else Some(spark.read.schema(LogTable.DeleteSchema)
        .parquet(pqs.map(_.path): _*)
        .withColumn("file_path", regexp_replace(col("file_path"),
          "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))),
      if (dvs.isEmpty) None
      else {
        val sess = spark
        import sess.implicits._
        Some(spark.sparkContext
          .parallelize(dvs.map(_.path), math.min(dvs.size, 64))
          .flatMap(p => DeletionVectors.read(p).iterator.flatMap {
            case (f, ps) => ps.iterator.map(f -> _)
          })
          .toDF("file_path", "pos"))
      }).flatten
    if (parts.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        LogTable.DeleteSchema)
    else parts.reduce(_.unionByName(_))
  }

  /** ADOPT a foreign snapshot as this (empty) table's first commit —
    * the [[IcebergImport]] seam: schema (field ids + name history),
    * partition spec, and data files referenced IN PLACE by absolute
    * path (zero copy, like [[cloneTo]]'s borrow). The importing
    * handle's retention can never reclaim the foreign files (the
    * own-root guard expire/vacuum already enforce for clones). */
  private[sources] def commitAdoption(operation: String, tag: String,
      schemaJson: String, partCols: Seq[String],
      transforms: Seq[Transform], files: Seq[DataFile],
      deletes: Seq[DeleteFile] = Nil,
      eqDeletes: Seq[EqDeleteFile] = Nil,
      /** Table properties riding the adoption commit ATOMICALLY —
        * importTable's next-row-id watermark lands here, never as a
        * follow-up commit (a crash between the two would leave
        * adopted files without the watermark, and a later v3 export
        * could assign a fresh file an id range overlapping an
        * adopted one). */
      props: Map[String, String] = Map.empty): Snapshot = {
    require(currentVersion == 0L,
      s"adoption destination $root already has commits")
    commit(operation, tag = tag, nextSchema = _ => schemaJson,
      nextSpec = Some((partCols, transforms)),
      nextDeletes = _ => deletes,
      nextEqDeletes = _ => eqDeletes,
      nextProps = prev => prev.props ++ props)(_ => files)
  }

  /** Explicitly DISCARD v3 row lineage — per-file first_row_id,
    * materialized-lineage flags and the next-row-id watermark — as an
    * audited `drop-lineage` commit. Afterwards v3 exports assign
    * fresh ids from graft's own version order, exactly as for a
    * native table. NOT needed for maintenance (compact/recluster/COW
    * DML all carry lineage through rewrites via [[readLiveRw]]) —
    * this is the deliberate "sever the imported continuity" tool.
    *
    * Files that carry MATERIALIZED lineage columns must be
    * physically rewritten (a spec reader resolves the stored
    * `_row_id` by its reserved field id regardless of graft
    * metadata — a stale stored id next to a fresh export assignment
    * would serve DUPLICATE ids), so those files — and only those —
    * are re-written without the columns before the metadata commit.
    * Pure-adopted files (inheritance only, nothing stored) stay
    * untouched: for them the drop is metadata-only, as before. */
  def dropLineage(): Snapshot = withStaleRetry { () =>
    val snap = snapshot()
    val mat = snap.files.filter(_.matLineage)
    val scrub = (fs: Seq[DataFile]) =>
      fs.map(_.copy(firstRowId = None, matLineage = false))
    if (mat.isEmpty)
      commit("drop-lineage",
        nextProps = prev => prev.props - LogTable.NextRowIdProp)(p =>
        scrub(p.files))
    else {
      // plain delete-aware read never surfaces the stored lineage
      // columns, so the rewrite output is physically clean
      val rewritten = writeDataFiles(readLive(snap, mat),
        blooms = Some(snap.bloomCols), sort = Some(snap.sortCols),
        props = Some(snap.props))
      commitOrCleanup(rewritten, "drop-lineage",
          nextProps = prev => prev.props - LogTable.NextRowIdProp) { prev =>
        val replaced = mat.map(_.path).toSet
        val prevPaths = prev.files.map(_.path).toSet
        if (!replaced.forall(prevPaths.contains)) throw LogTable.StaleSourceFiles
        assertNoLateDeletesOn(snap, prev, replaced)
        scrub(prev.files.filterNot(f => replaced.contains(f.path))) ++
          rewritten
      }
    }
  }

  /** Roll the table back to a prior snapshot's file list as a NEW
    * commit — history stays intact, readers atomically flip. */
  def rollback(version: Long): Snapshot = {
    val target = snapshot(version)
    commit("rollback", nextSchema = _ => target.schemaJson,
      nextChecks = _ => target.checks,
      nextRetired = _ => target.retired,
      nextDeletes = _ => target.deletes,
      nextEqDeletes = _ => target.eqDeletes,
      nextNdvs = _ => target.ndvs,
      segHints = target.segs)(_ => target.files)
  }

  /** Drop all but the newest `keepLast` snapshots and delete data files
    * referenced ONLY by the dropped ones. */
  def expire(keepLast: Int = 1): Snapshot = {
    require(keepLast >= 1, "keepLast must be >= 1")
    expireManifests { all => protectBranchBase(all.dropRight(keepLast)) }
  }

  /** A branch's v1 base manifest is its FORK-POINT RECORD (`base-vN`
    * tag): [[branch]] opens through it and [[fastForward]]'s guard
    * reads it — so branch-scoped retention (`t.branch(n).expire(...)`,
    * the busy-WAP-branch shape) may drop any intermediate snapshot but
    * never the base. Main lineages are unaffected (expiry stays a
    * contiguous oldest prefix there). */
  private def protectBranchBase(
      drop: Seq[(Long, Path)]): Seq[(Long, Path)] =
    if (isBranchHandle) drop.filterNot(_._1 == 1L) else drop

  /** Age-based snapshot expiry — Iceberg's
    * `expire_snapshots(older_than => ts, retain_last => n)`: drop
    * snapshots whose commit timestamp is before `olderThanMs`, always
    * retaining at least the newest `keepLast` regardless of age. This
    * is the knob a continuous-ingest deployment schedules (reference
    * README.md:104-107: a commit every ~3 min → ~480 snapshots/day —
    * count-based expiry would need constant re-tuning; age-based is
    * "keep 7 days" forever). */
  def expireOlderThan(olderThanMs: Long, keepLast: Int = 1): Snapshot = {
    require(keepLast >= 1, "keepLast must be >= 1")
    expireManifests { all =>
      // takeWhile, not filter: commit timestamps come from wall clocks,
      // and a clock that stepped backwards between commits could
      // otherwise age out a MID-history manifest while retaining older
      // ones — leaving a hole that breaks history()/timeTravel across
      // the gap. Expiry always removes a contiguous oldest prefix.
      protectBranchBase(all.dropRight(keepLast)
        .takeWhile { case (v, _) => snapshot(v).timestampMs < olderThanMs })
    }
  }

  /** Shared expiry machinery: `pick` chooses which manifests to drop
    * from the ascending (version, path) list; data files referenced
    * only by dropped snapshots are deleted. */
  private def expireManifests(
      pick: Seq[(Long, Path)] => Seq[(Long, Path)]): Snapshot = {
    // DRAIN-BEFORE-EXPIRE, enforced (MarkerCommit's documented
    // invariant): a pending marker's file may already be committed by
    // a leader that crashed before cleanup, and replay detection reads
    // the committing snapshot's staged-paths summary
    // ([[stagedCommittedAmong]]) — expiring under pending markers
    // could drop that record (the next leader would re-commit
    // duplicate rows) or delete a marker-pending committed file
    // (poison drain). removeOrphans exempts marker-pending files the
    // same way. Cost: one prefix LIST of an (almost always empty)
    // directory.
    val stale = MarkerCommit.pending(root, io)
    require(stale.isEmpty, s"expire refused: ${stale.size} pending " +
      s"marker(s) under ${MarkerCommit.pendingDir(root)} — drain the " +
      "marker commit loop (MarkerCommit.runUntilDrained) or remove " +
      "poison markers before expiring snapshots")
    val all = listManifests(logDir)
    val drop = pick(all)
    if (drop.nonEmpty) {
      val dropped = drop.map(m => parseManifest(io.readString(m._2)))
      // Drop the manifests FIRST: a rollback targeting an expired
      // version now fails loudly (missing manifest) instead of
      // resurrecting files we are about to delete.
      drop.foreach(m => io.delete(m._2))
      // Re-list AFTER the drop so commits that landed concurrently
      // (e.g. a rollback that read its source manifest in time) pin
      // their files as live. The live set spans main AND every branch —
      // a branch still referencing an expired main snapshot's files
      // keeps them on disk. A commit landing between this re-list
      // and the deletes below is the residual TOCTOU a plain FS
      // cannot close — a real catalog serializes expire-vs-commit;
      // run expire from the maintenance role, as with Iceberg.
      val live = allLiveFiles()
      val dead = dropped.flatMap(s =>
          s.files.map(_.path) ++ s.deletes.map(_.path) ++
            s.eqDeletes.map(_.path) ++ s.cdc.map(_.path))
        .distinct.filterNot(live.contains)
        // SHALLOW-CLONE safety: reclaim only files THIS table owns
        // (under its own root). A clone's manifests reference the
        // SOURCE's files by absolute path, and the source cannot see
        // those references — so a clone must never delete upstream
        // data it merely borrowed (Delta's shallow-clone vacuum rule).
        .filter(p => Paths.get(p).toAbsolutePath.startsWith(
          rootPath.toAbsolutePath))
      dead.foreach(p => Files.deleteIfExists(Paths.get(p)))
      // segment GC, same rule as data files: a segment referenced
      // only by dropped snapshots (no kept version of ANY lineage
      // re-lists its name) leaves the pool with them
      val liveSegs = allLiveSegNames()
      dropped.flatMap(_.segs.map(_.name)).distinct
        .filterNot(liveSegs.contains).foreach { n =>
          io.delete(mainLogDir.resolve(n))
          LogTable.segCache.evict(mainLogDir.resolve(n).toString)
        }
      // evict dropped versions from the parsed-snapshot cache so a
      // later timeTravel to an expired version fails loudly here too
      drop.foreach { case (v, _) => snapCache.remove(v) }
    }
    snapshot()
  }

  /** Paths referenced by ANY live manifest of the whole table — the
    * main lineage and every branch. The reclamation floor for expire
    * and removeOrphans: a file a branch still references stays live
    * even when main's lineage no longer lists it (and vice versa). */
  private def allLiveFiles(): Set[String] = {
    // THIS handle's lineage goes through the per-version snapshot
    // cache (manifests are immutable) — a maintenance loop calling
    // expire/removeOrphans repeatedly must not re-parse all JSON every
    // time. Other lineages (main when called from a branch; every
    // branch) are parsed raw: their manifests can appear/vanish under
    // other writers, so they take the uncached path.
    val mine = versions.flatMap { v =>
      val s = snapshot(v)
      s.files.map(_.path) ++ s.deletes.map(_.path) ++
        s.eqDeletes.map(_.path) ++ s.cdc.map(_.path)
    }.toSet
    val branchDirs = io.listDirs(mainLogDir)
      .filter(_.startsWith("branch-")).map(mainLogDir.resolve)
    val others = (mainLogDir +: branchDirs)
      .filterNot(_.toString == logDir.toString)
    mine ++ others.flatMap(d =>
      listManifests(d).flatMap { m =>
        val s = parseManifest(io.readString(m._2))
        s.files.map(_.path) ++ s.deletes.map(_.path) ++
          s.eqDeletes.map(_.path) ++ s.cdc.map(_.path)
      })
  }

  /** Segment names referenced by ANY live manifest of the whole table
    * (cf. [[allLiveFiles]]) — the reclamation floor for segment GC. */
  private def allLiveSegNames(): Set[String] = {
    val mine = versions.flatMap(v => snapshot(v).segs.map(_.name)).toSet
    val branchDirs = io.listDirs(mainLogDir)
      .filter(_.startsWith("branch-")).map(mainLogDir.resolve)
    val others = (mainLogDir +: branchDirs)
      .filterNot(_.toString == logDir.toString)
    mine ++ others.flatMap(d => listManifests(d).flatMap(m =>
      parseManifest(io.readString(m._2)).segs.map(_.name)))
  }

  // ------------------------------------------------------------ internals

  /** Write `df` into the data dir under fresh UUID names; returns the
    * new files with footer-exact row counts. Data files are invisible
    * until a manifest referencing them is committed. On partitioned
    * tables the hive-style `k=v` layout is preserved under data/ and
    * each file's partition values are captured for manifest pruning. */
  /** [[writeDataFiles]] for the row-level-operation seam (staged task
    * output re-laid into the table's partition layout, clustered). */
  private[sources] def restageFiles(df: DataFrame): Seq[DataFile] =
    writeDataFiles(df, distribute = true)

  private def writeDataFiles(df: DataFrame,
      distribute: Boolean = false,
      blooms: Option[Seq[BloomCol]] = None,
      sort: Option[Seq[String]] = None,
      props: Option[Map[String, String]] = None): Seq[DataFile] = {
    LogTable.ensureMicrosTimestamps(df.sparkSession)
    // MATERIALIZED ROW LINEAGE (see [[readLiveRw]]): when the rewrite
    // frame carries the lineage columns, store them physically under
    // the Iceberg-reserved parquet field ids (Spark's writer emits a
    // field id for any column whose metadata declares one) so a
    // v3-native foreign reader resolves `_row_id` by id straight from
    // the data file — the spec's materialized-lineage layout. The
    // columns never enter the table schema; graft's own explicit-
    // schema scans don't project them.
    val matLineage = df.columns.contains(LogTable.RowIdCol)
    val dfL = if (!matLineage) df else {
      def fid(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      df.withColumn(LogTable.RowIdCol,
          df(LogTable.RowIdCol).as(LogTable.RowIdCol,
            fid(LogTable.RowIdFieldId)))
        .withColumn(LogTable.LuSeqCol,
          df(LogTable.LuSeqCol).as(LogTable.LuSeqCol,
            fid(LogTable.LuSeqFieldId)))
    }
    val stage = rootPath.resolve(s"stage-${UUID.randomUUID()}")
    // hidden transforms: derive the layout keys from row data — every
    // write path (append, compact, recluster, COW rewrites) re-derives
    // them, so rewritten rows always land in the correct partition.
    // The derived column is pulled into the directory key by
    // partitionBy and never enters the parquet data.
    hiddenBy.foreach { t =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(t.source))
      f.foreach(fld => require(
        LogTable.transformSourceOk(t, fld.dataType),
        s"hidden transform ${t.kind}(${t.source}) needs a LongType " +
          s"source${LogTable.transformSourceAlt(t)}, " +
          s"got ${fld.dataType} (hash/derive arithmetic is Long-domain; " +
          "mbucket also hashes UTF-8 strings per the Iceberg spec, and " +
          "day/hour/truncate also derive from TIMESTAMP µs)"))
    }
    val laid = hiddenBy.filter(t =>
        df.columns.exists(_.equalsIgnoreCase(t.source)))
      .foldLeft(dfL)((d, t) => d.withColumn(t.colName, t.columnFor(
        df.schema.fields.find(_.name.equalsIgnoreCase(t.source)).get.dataType)))
    val partCols = partitionBy ++
      hiddenBy.filter(t => laid.columns.contains(t.colName)).map(_.colName)
    // CLUSTERED INGEST (Iceberg's hash write-distribution mode), opted
    // into by append/overwrite: without it, EVERY input task opens a
    // writer for EVERY partition tuple it holds — tasks × tuples tiny
    // files, and a single-task source writes hundreds of directories
    // sequentially. One hash shuffle on the layout key bounds it at
    // one file per tuple, written in parallel across the cluster.
    // Rewrite paths keep their own deliberate arrangements (compact's
    // bin coalesce, recluster's range+sort).
    val distributed =
      if (distribute && partCols.nonEmpty)
        laid.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
      else laid
    // DECLARED SORT ORDER (see setSortOrder): a task-local sort just
    // before the write — no extra shuffle — leaves every data file
    // internally ordered. Columns absent from this frame (a narrow
    // COW rewrite) are skipped rather than failed: the order is a
    // write-side optimization, never a correctness gate. Callers with
    // a deliberate arrangement (recluster) pass Some(Nil) to keep it.
    // On a partitioned table the sort is PREFIXED by the layout
    // columns (Iceberg prefixes the partition spec the same way):
    // FileFormatWriter requires task rows ordered by the partition
    // columns and would otherwise insert its OWN sort — by them
    // alone, not order-preserving — right after ours.
    val declaredSort = sort.getOrElse(snapshot().sortCols)
      .filter(c => distributed.columns.exists(_.equalsIgnoreCase(c)))
    val arranged =
      if (declaredSort.isEmpty) distributed
      else distributed.sortWithinPartitions(
        (partCols ++ declaredSort).map(org.apache.spark.sql.functions.col): _*)
    // zero-rename commit: tasks write final UUID names under data/
    // directly and job commit leaves a sidecar file list in the stage
    // dir — no per-file task-commit rename, no driver-side move. On an
    // object store that deletes the only O(data) copy in the commit.
    DirectCommitProtocol.install(df.sparkSession)
    var w = arranged.write
      .option(DirectCommitProtocol.TargetKey, dataDir.toAbsolutePath.toString)
    // honored table property: roll to a new file past N rows — the
    // target-file-size knob. A wide ingest task otherwise writes ONE
    // file however large its slice is; unsplittable multi-GB parquet
    // is the classic self-inflicted scan-skew at 100 TB. Spark's own
    // writer does the rolling; the sidecar lists every rolled file.
    props.getOrElse(snapshot().props).get(LogTable.MaxRecordsProp)
      .flatMap(_.toLongOption).foreach(n =>
        w = w.option("maxRecordsPerFile", n.toString))
    // manifest-declared bloom columns ride into the write job's hadoop
    // conf (parquet-mr writes the filters; pushed equality/IN filters
    // consult them at read) — every write path inherits the property,
    // so compact/recluster retrofit older files automatically. The
    // caller threads its own snapshot when it has one (one manifest
    // read saved per write, and no race with a concurrent set-bloom).
    blooms.getOrElse(snapshot().bloomCols).foreach { b =>
      if (arranged.columns.exists(_.equalsIgnoreCase(b.col)))
        w = w.option(s"parquet.bloom.filter.enabled#${b.col}", "true")
          .option(s"parquet.bloom.filter.expected.ndv#${b.col}", b.ndv.toString)
    }
    // honored table property: pin VARIANT physical layout (see
    // VariantShredProp — Spark's writer shreds by default; the
    // property forces shredded or twin-binary regardless of the
    // engine default). The shredding writer is driven by SESSION
    // confs, so they wrap THIS write and restore after. A concurrent
    // write on another table of the same session may observe the
    // pinned values for the duration — benign: both layouts (and any
    // mix) read exactly; the pin guarantees THIS table's files, not
    // session isolation.
    val shredProp = props.getOrElse(snapshot().props)
      .get(LogTable.VariantShredProp)
      .filter(_ => arranged.schema.exists(f =>
        IcebergExport.containsVariant(f.dataType)))
    val doWrite = () =>
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .parquet(stage.toString)
    shredProp match {
      case None => doWrite()
      case Some(v) =>
        val conf = df.sparkSession.conf
        val mode = v.toLowerCase(java.util.Locale.ROOT)
        val keys = Seq("spark.sql.variant.writeShredding.enabled",
          "spark.sql.variant.inferShreddingSchema")
        val prev = keys.map(k => k -> conf.getOption(k))
        keys.foreach(conf.set(_, mode))
        try doWrite()
        finally prev.foreach { case (k, pv) =>
          pv.fold(conf.unset(k))(conf.set(k, _)) }
    }
    def partValsOf(rel: String): Map[String, String] =
      LogTable.partValsOfRel(rel)
    val sidecar = stage.resolve(DirectCommitProtocol.Sidecar)
    val placed =
      if (Files.exists(sidecar)) {
        // direct commit engaged: data files are already at their final
        // names; the sidecar is the committed list (empty write → no
        // lines). Sorted for deterministic manifest order.
        Files.readAllLines(sidecar).asScala.toSeq.filter(_.nonEmpty)
          .map { line =>
            val cut = line.indexOf('\t')
            (java.nio.file.Paths.get(line.substring(cut + 1)),
              partValsOf(line.substring(0, cut)))
          }.sortBy(_._1.toString)
      } else {
        // fallback (another protocol active on the session): walk the
        // stage job output and move each file into place
        val walk1 = Files.walk(stage)
        val parts = try walk1.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
          finally walk1.close()
        parts.map { p =>
          val rel = stage.relativize(p.getParent)
          val destDir = dataDir.resolve(rel)
          Files.createDirectories(destDir)
          val dest = destDir.resolve(s"${UUID.randomUUID()}.parquet")
          Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
          (dest, partValsOf(rel.toString))
        }
      }
    // footer stats in parallel: each is an independent ~KB footer read,
    // and a partitioned append lands O(partition tuples) files — read
    // sequentially this is the commit's dominant driver-side cost
    val moved = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(placed) { case (dest, partVals) =>
        Future {
          // local-FS writers (ChecksumFileSystem) drop a `.f.crc`
          // sibling next to direct-written files; the manifest is the
          // integrity layer here (footer-exact stats), so clear it
          Files.deleteIfExists(
            dest.resolveSibling(s".${dest.getFileName}.crc"))
          val (rows, ranges, strRanges, nulls, vsets) = parquetFooterMeta(dest)
          DataFile(dest.toString, rows, Files.size(dest), partVals,
            ranges, strRanges, nulls = nulls, valueSets = vsets)
        }
      }, Duration.Inf)
    }
    // best-effort cleanup of the staging dir (_SUCCESS, .crc files)
    LogTable.deleteRecursively(stage)
    // FileFormatWriter always opens task 0's writer so an all-empty
    // result still records a schema — that leaves a zero-row file
    // when task 0 holds no rows (e.g. a repartition that hashed every
    // row elsewhere). The manifest never needs it: drop it from disk
    // and from the returned list.
    val (live, empty) = moved.partition(_.rows > 0L)
    empty.foreach(f => Files.deleteIfExists(Paths.get(f.path)))
    // lineage-carrying rewrites flag their outputs so a SECOND
    // rewrite knows to read the stored ids, the v3 export assigns
    // the file a fresh first_row_id block for its unassigned rows,
    // and dropLineage knows the file needs a physical strip
    if (matLineage) live.map(_.copy(matLineage = true)) else live
  }

  /** TEST/BENCH SEAM — commit `newFiles` as manifest entries WITHOUT
    * physical parquet behind them. Powers the metadata-scale evidence
    * (SegmentedManifestSpec's 100k-file cases): the manifest/segment
    * algebra is pure path/stats arithmetic, so its scale properties —
    * O(changed) commit serialization, O(matching) plan loads, O(1)
    * branch forks — can be pinned without writing 100k real files.
    * Never called by a production path (reading such a table would
    * fail at the parquet layer, loudly). */
  private[sources] def commitSynthetic(newFiles: Seq[DataFile]): Snapshot =
    commit("append",
      extraSummary = () => Map(LogTable.StagedPathsKey -> ""))(prev =>
      prev.files ++ newFiles)

  /** Optimistic-concurrency commit: build the next snapshot's file list
    * from the CURRENT one, write the manifest to a temp name, and
    * atomically hard-link it to v{next}. Link collision = another
    * writer won that version → re-read state and retry on top of it. */
  private def commit(operation: String, tag: String = "",
      nextSchema: Snapshot => String = _.schemaJson,
      nextChecks: Snapshot => Map[String, String] = _.checks,
      nextRetired: Snapshot => Seq[String] = _.retired,
      nextDeletes: Snapshot => Seq[DeleteFile] = _.deletes,
      nextSpec: Option[(Seq[String], Seq[Transform])] = None,
      nextEqDeletes: Snapshot => Seq[EqDeleteFile] = _.eqDeletes,
      nextBlooms: Snapshot => Seq[BloomCol] = _.bloomCols,
      nextNdvs: Snapshot => Map[String, Long] = _.ndvs,
      nextSortCols: Snapshot => Seq[String] = _.sortCols,
      nextProps: Snapshot => Map[String, String] = _.props,
      /** Extra reusable-segment candidates beyond the previous
        * snapshot's own (fastForward offers the branch head's, so a
        * publish re-lists branch-written segments instead of
        * re-serializing their entries). */
      segHints: Seq[Segment] = Nil,
      /** Per-commit CDC change files ([[CdcFile]]); recorded on THIS
        * snapshot only, never carried forward. */
      cdcFiles: Seq[CdcFile] = Nil,
      /** Extra audit-summary entries, evaluated AFTER `nextFiles` each
        * attempt (so a closure can report what that attempt actually
        * changed — [[commitStagedAppend]] records its batch's staged
        * paths here for the marker leader's O(pending) replay probe). */
      extraSummary: () => Map[String, String] = () => Map.empty)(
      nextFiles: Snapshot => Seq[DataFile]): Snapshot = {
    var attempts = 0
    while (attempts < MaxCommitRetries) {
      attempts += 1
      val prev = snapshot()
      val ver = prev.version + 1
      // DATA SEQUENCE stamping: files joining the table in THIS commit
      // (seq not yet assigned) take a TABLE-GLOBAL monotonic sequence —
      // the ordering axis equality deletes apply along. The counter is
      // max(live file seq, live eq-delete seq, lineage version) + 1,
      // NOT the lineage-local version: a branch re-bases its manifest
      // lineage at v1 while carrying main-stamped (high) seqs, so
      // version-stamping would give branch appends seqs BELOW carried
      // equality tombstones — silently deleting the new rows — and
      // would let a branch-issued deleteEq be GC'd as "older than every
      // file". Iceberg's sequence numbers are likewise table-global and
      // monotonic across refs. On an unbranched lineage the counter
      // degenerates to exactly the old `prev.version + 1`. Files
      // carried forward (or restored by rollback) keep their original
      // seq.
      val seqStamp = (prev.files.map(_.seq) ++
        prev.eqDeletes.map(_.seq) :+ prev.version).max + 1
      val files = nextFiles(prev).map(f =>
        if (f.seq == 0L) f.copy(seq = seqStamp) else f)
      // delete-file GC: a position-delete file whose referenced data
      // files ALL left the snapshot (compacted / COW-rewritten /
      // rolled away) marks nothing any reader can see — drop it from
      // the manifest (the physical file is reclaimed by expire /
      // removeOrphans, as with data files). An EQUALITY delete dies
      // when no live file is OLDER than it (every old row either left
      // or was rewritten under a newer sequence with the delete
      // already folded in).
      val livePaths = files.map(_.path).toSet
      val dels = nextDeletes(prev).filter(_.refPaths.exists(livePaths.contains))
      val eqDels = nextEqDeletes(prev)
        .map(d => if (d.seq == 0L) d.copy(seq = seqStamp) else d)
        .filter(d => files.exists(_.seq < d.seq))
      // partition-spec persistence: a handle that declares a spec records
      // it in the manifest; a spec-less handle (readers, maintenance jobs
      // opened via LogTable(spark, root)) carries the recorded one
      // forward, so the spec survives handle/session boundaries and a
      // later writer reconstructs the declared layout (apply() adopts it).
      // A handle that declares a spec DIFFERENT from the recorded one is
      // stale — the spec evolved since it opened ([[evolveSpec]]); its
      // files are laid out under the old spec, so committing them would
      // silently revert the evolution AND mislabel the layout. Loud.
      val (pc, tf) = nextSpec.getOrElse {
        if (partitionBy.nonEmpty || hiddenBy.nonEmpty) {
          require((prev.partCols.isEmpty && prev.transforms.isEmpty) ||
              (prev.partCols == partitionBy && prev.transforms == hiddenBy),
            s"this handle's partition spec (partitionBy=${partitionBy
              .mkString(",")}; hiddenBy=${hiddenBy.mkString(",")}) no longer " +
              s"matches the table's recorded spec (partitionBy=${prev.partCols
                .mkString(",")}; hiddenBy=${prev.transforms.mkString(",")}) — " +
              "the spec evolved since this handle opened; reopen the table")
          (partitionBy, hiddenBy)
        } else (prev.partCols, prev.transforms)
      }
      val (segs, createdSegs) = packSegments(prev.segs ++ segHints, files)
      // pointer-resident planning metadata: computed here, where the
      // full file list is already in memory, so READ-side planning
      // surfaces (SPJ layout report, runtime-filter attributes) answer
      // from the pointer without materializing a segmented file list
      val layoutKeys = pc ++ tf.map(_.colName)
      val meta =
        if (segs.isEmpty) LogTable.readMetaOf(layoutKeys, files)
        else {
          // segmented: packSegments covers EVERY file with a segment,
          // so the fold is per-SEGMENT through a JVM-wide memo keyed
          // by (immutable segment name, layout keys) — a steady-state
          // append rescans only repacked segments and the fresh tail,
          // keeping this pointer metadata O(changed + segments) per
          // commit instead of an O(table-files) sweep
          val parts = segs.map(s => LogTable.segReadMeta(s, layoutKeys))
          val complete = layoutKeys.nonEmpty && parts.forall(_.complete)
          ReadMeta(complete,
            if (complete) parts.iterator.flatMap(_.tuples).toSet.size else 0,
            parts.iterator.flatMap(_.statsCols).toSeq.distinct.sorted)
        }
      // audit summary (Iceberg snapshot-summary parity): writer
      // identity + what the commit changed, in counts. Path-set
      // arithmetic only — the same O(files) hash work the seq-stamp
      // sweep above already pays.
      val prevPathSet = prev.files.map(_.path).toSet
      val addedF = files.filterNot(f => prevPathSet.contains(f.path))
      val removedF = prev.files.filterNot(f => livePaths.contains(f.path))
      val summary = Map(
        "app-id" -> spark.sparkContext.applicationId,
        "added-data-files" -> addedF.size.toString,
        "added-rows" -> addedF.map(_.rows).sum.toString,
        "removed-data-files" -> removedF.size.toString,
        "removed-rows" -> removedF.map(_.rows).sum.toString,
        "total-data-files" -> files.size.toString,
        "total-rows" -> files.map(_.rows).sum.toString) ++ extraSummary()
      val next = Snapshot(ver, prev.version, operation,
        System.currentTimeMillis(), files, tag, nextSchema(prev),
        nextChecks(prev), nextRetired(prev), dels, pc, tf, eqDels,
        nextBlooms(prev), nextNdvs(prev), segs, Some(meta), summary,
        nextSortCols(prev), nextProps(prev), cdcFiles)
      // ATOMIC CREATE-OR-FAIL publish through the storage seam: the
      // full manifest is visible the instant the name exists, and a
      // version collision reports failure instead of overwriting the
      // winner. Locally that is write-temp + link(2) (rename(2) would
      // silently REPLACE a concurrent winner's manifest); on an object
      // store it is a conditional PUT / catalog compare-and-swap —
      // the ONE primitive the whole commit protocol needs.
      if (io.publishAtomic(manifestPath(logDir, next.version),
          renderManifest(next)))
        return next
      // lost the race; reclaim segments THIS attempt wrote (reused
      // ones belong to the winner's history), re-read state and retry
      createdSegs.foreach { n =>
        io.delete(mainLogDir.resolve(n))
        LogTable.segCache.evict(mainLogDir.resolve(n).toString)
      }
    }
    throw new IllegalStateException(s"commit failed after $MaxCommitRetries retries at $root")
  }

  /** One footer read per committed file: exact row count plus
    * per-column [min, max] for INT64 columns (the time/id axes a log
    * table prunes on) and for STRING columns (the dictionary-ish axes:
    * op name, event type, language). A column's range is recorded only
    * when every row group has non-null statistics for it — a missing
    * range means "cannot prune", never "no rows match". String bounds
    * are kept only when pure-ASCII and ≤64 bytes, where parquet's
    * unsigned-byte comparator and Java's string order provably agree. */
  private def parquetFooterMeta(p: Path):
      (Long, Map[String, (Long, Long)], Map[String, (String, String)],
        Map[String, Long], Map[String, Seq[String]]) = {
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), new Configuration())
    val reader = ParquetFileReader.open(in)
    try footerMetaOf(reader) finally reader.close()
  }

  /** The stats body of [[parquetFooterMeta]] over an ALREADY-OPEN
    * reader — lets callers that also need the footer's schema (the
    * marker leader) read the footer ONCE instead of once per fact. */
  private def footerMetaOf(reader: ParquetFileReader):
      (Long, Map[String, (Long, Long)], Map[String, (String, String)],
        Map[String, Long], Map[String, Seq[String]]) = {
    {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
      val perBlock: Seq[Map[String, (Long, Long)]] = blocks.map { b =>
        b.getColumns.asScala.flatMap { c =>
          val tpe = c.getPrimitiveType.getPrimitiveTypeName
          val st = c.getStatistics
          if ((tpe == INT64 || tpe == INT32) && st != null &&
              st.hasNonNullValue && c.getPath.size() == 1)
            Some(c.getPath.toDotString -> (
              st.genericGetMin.asInstanceOf[Number].longValue(),
              st.genericGetMax.asInstanceOf[Number].longValue()))
          else None
        }.toMap
      }
      def asciiBounded(s: String): Boolean =
        s.length <= 64 && s.forall(_ < 128)
      val perBlockStr: Seq[Map[String, (String, String)]] = blocks.map { b =>
        b.getColumns.asScala.flatMap { c =>
          val isString = c.getPrimitiveType.getPrimitiveTypeName == BINARY &&
            c.getPrimitiveType.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          val st = c.getStatistics
          if (isString && st != null && st.hasNonNullValue && c.getPath.size() == 1) {
            val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8
            val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8
            if (asciiBounded(mn) && asciiBounded(mx))
              Some(c.getPath.toDotString -> (mn, mx))
            else None
          } else None
        }.toMap
      }
      // intersect: keep columns with stats in EVERY block, fold ranges
      def fold[T](per: Seq[Map[String, (T, T)]])(implicit ord: Ordering[T]):
          Map[String, (T, T)] =
        if (per.isEmpty) Map.empty
        else per.map(_.keySet).reduce(_ & _).map { k =>
          val rs = per.map(_(k))
          k -> (rs.map(_._1).min, rs.map(_._2).max)
        }.toMap
      // per-column null counts for the range-carrying columns, summed
      // across blocks — recorded only when EVERY block reports them
      val perBlockNulls: Seq[Map[String, Long]] = blocks.map { b =>
        b.getColumns.asScala.flatMap { c =>
          val tpe = c.getPrimitiveType.getPrimitiveTypeName
          val st = c.getStatistics
          if ((tpe == INT64 || tpe == INT32) && st != null &&
              st.isNumNullsSet && c.getPath.size() == 1)
            Some(c.getPath.toDotString -> st.getNumNulls)
          else None
        }.toMap
      }
      val nulls =
        if (perBlockNulls.isEmpty) Map.empty[String, Long]
        else perBlockNulls.map(_.keySet).reduce(_ & _)
          .map(k => k -> perBlockNulls.map(_(k)).sum).toMap
      // COMPLETE value sets from dictionary pages: sound only when the
      // EncodingStats PROVE no page fell back to a non-dictionary
      // encoding (a plain-encoded tail could hold values outside the
      // dictionary — a wrong skip). Capped at 32 values per column.
      val dictCap = 32
      val schema = reader.getFooter.getFileMetaData.getSchema
      val perBlockSets: Seq[Map[String, Set[String]]] = blocks.map { b =>
        // widen to the public interface: the concrete reader class is
        // package-private in parquet-mr
        val dicts: org.apache.parquet.column.page.DictionaryPageReadStore =
          reader.getDictionaryReader(b)
        b.getColumns.asScala.flatMap { c =>
          val isString = c.getPrimitiveType.getPrimitiveTypeName == BINARY &&
            c.getPrimitiveType.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          val es = c.getEncodingStats
          // cost gates BEFORE any page read: the column's [min,max]
          // must already be ASCII-bounded (a JSON/props column fails
          // here), and the dictionary page itself must be tiny on
          // disk (32 values × ≤64 ASCII chars ≈ 2 KB; a high-NDV
          // dictionary can be megabytes — reading it just to discard
          // by the cap would tax every commit)
          lazy val smallDict = c.getDictionaryPageOffset >= 0 &&
            c.getFirstDataPageOffset > c.getDictionaryPageOffset &&
            c.getFirstDataPageOffset - c.getDictionaryPageOffset <= 4096L
          lazy val boundedStats = {
            val st = c.getStatistics
            st != null && st.hasNonNullValue &&
              asciiBounded(st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8) &&
              asciiBounded(st.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
          }
          if (isString && c.getPath.size() == 1 && es != null &&
              es.hasDictionaryPages && !es.hasNonDictionaryEncodedPages &&
              smallDict && boundedStats) {
            val cd = schema.getColumnDescription(c.getPath.toArray)
            Option(dicts.readDictionaryPage(cd)).flatMap { dp =>
              val dict = dp.getEncoding.initDictionary(cd, dp)
              if (dict.getMaxId + 1 > dictCap) None
              else {
                val vals = (0 to dict.getMaxId)
                  .map(i => dict.decodeToBinary(i).toStringUsingUTF8).toSet
                if (vals.forall(asciiBounded))
                  Some(c.getPath.toDotString -> vals)
                else None
              }
            }
          } else None
        }.toMap
      }
      val valueSets =
        if (perBlockSets.isEmpty) Map.empty[String, Seq[String]]
        else perBlockSets.map(_.keySet).reduce(_ & _)
          .map(k => k -> perBlockSets.flatMap(_(k)).distinct)
          .filter(_._2.size <= dictCap)
          .map { case (k, v) => k -> v.sorted }.toMap
      (reader.getRecordCount, fold(perBlock), fold(perBlockStr), nulls,
        valueSets)
    }
  }
}

object LogTable {
  private val ManifestDir = "_graft_log"
  private val MaxCommitRetries = 20
  /** Internal column names for position-delete plumbing ("_del_"
    * prefix keeps them out of any user schema's way; writers reject
    * colliding user columns loudly). */
  private[sources] val FileCol = "_del_file"
  private[sources] val PosCol = "_del_pos"
  /** CDC output columns (Delta CDF naming; see [[LogTable.readCdc]]). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  /** Honored table property: roll data files past this row count. */
  val MaxRecordsProp = "write.max-records-per-file"
  /** Honored table property: COW delete/update/merge stage per-commit
    * CDC change files (Delta's `delta.enableChangeDataFeed`). */
  val CdcEnabledProp = "write.cdc.enabled"
  /** Honored table property: pin the physical layout of VARIANT
    * writes. Spark's writer SHREDS by default (the parquet
    * variant-shredding layout — per-field typed_value subcolumns next
    * to the residual binary, schema inferred per write; Iceberg v3's
    * blessed form). `true` pins shredding against engine-default
    * drift; `false` forces the twin-binary layout for downstream
    * readers that predate shredding. Absent = the engine default.
    * Existing files keep their layout until rewritten (compact/COW
    * retrofit, like blooms); readers handle both layouts and any mix. */
  val VariantShredProp = "write.variant.shredding"
  /** ADOPTED v3 row-lineage watermark ([[IcebergImport.importTable]]):
    * the imported table's `next-row-id` — graft's v3 export resumes
    * assigning fresh row ids FROM here, so post-import appends can
    * never collide with the adopted per-file `first_row_id` ranges. */
  val NextRowIdProp = "graft.next-row-id"
  /** Iceberg v3 ROW-LINEAGE metadata columns, stored PHYSICALLY (by
    * these reserved names, under the spec's reserved parquet field
    * ids) in files the rewrite paths materialize — see
    * [[DataFile.matLineage]]. Never part of any table schema; the
    * explicit-schema scan paths simply don't project them. */
  private[sources] val RowIdCol = "_row_id"
  private[sources] val LuSeqCol = "_last_updated_sequence_number"
  /** The Iceberg spec's reserved field ids for the two lineage
    * columns, written into the parquet footer so a v3-native reader
    * resolves them by id (name mapping never covers metadata
    * columns). */
  private[sources] val RowIdFieldId = 2147483540L
  private[sources] val LuSeqFieldId = 2147483539L
  /** Position-delete sharding: one delete file per up to this many
    * referenced data files (capped at 256 shards). Keeps a large
    * marking pass parallel on the write side without exploding tiny
    * delete files on the read side. */
  private[sources] val DeleteShardSpan = 8
  /** Manifest segmentation (see [[Segment]]): tables with more data
    * files than `graft.manifest.segment.files` (default) store their
    * file list as immutable shared segments of up to that many
    * entries; smaller tables stay inline (one file per commit, the
    * simplest shape). Segments under cap/8 entries dissolve back into
    * the packing pool each commit so steady small appends coalesce
    * (LSM-style) instead of accumulating one micro-segment per
    * commit; the rewrite cost is O(unfrozen tail), bounded by cap. */
  private[sources] val DefaultSegmentFiles = 512

  /** Audit-summary key under which [[commitStagedAppend]] records its
    * batch's pool-relative paths ('\n'-joined) — the pointer-resident
    * replay record [[stagedCommittedAmong]] probes. */
  private[sources] val StagedPathsKey = "staged-paths"

  /** Widest partition-value set a segment summary records per key
    * (see [[Segment.partVals]]): beyond this the key is simply not
    * summarized — absence never prunes, so the cap trades summary
    * bytes in the pointer against pruning reach, never correctness. */
  private[sources] val MaxSegSummaryVals = 64

  /** The partition-value summary of a segment's entries: for each
    * directory key EVERY entry carries, the complete distinct value
    * set — only while it stays within [[MaxSegSummaryVals]]. A key
    * some file lacks is omitted (its rows could hide anywhere), so
    * every recorded key satisfies: every file's value ∈ the set —
    * the invariant [[GraftPrune.segMayMatch]]'s refutation rests on. */
  private[sources] def segSummary(
      entries: Seq[DataFile]): Map[String, Seq[String]] = {
    if (entries.isEmpty) return Map.empty
    val keys = entries.head.partitions.keysIterator.filter(k =>
      entries.forall(_.partitions.contains(k))).toSeq
    keys.flatMap { k =>
      val vs = entries.iterator.map(_.partitions(k)).toSeq.distinct
      if (vs.size <= MaxSegSummaryVals) Some(k -> vs.sorted) else None
    }.toMap
  }

  /** One full-list ReadMeta fold (inline manifests, or the fallback
    * when nothing is segmented): completeness of the layout keys over
    * every file, the distinct layout-tuple count, and the union of
    * columns with recorded stats. */
  private[sources] def readMetaOf(layoutKeys: Seq[String],
      files: Seq[DataFile]): ReadMeta = {
    val complete = layoutKeys.nonEmpty &&
      files.forall(f => layoutKeys.forall(f.partitions.contains))
    ReadMeta(complete,
      if (complete) files.map(f => layoutKeys.map(f.partitions(_))).distinct.size
      else 0,
      files.iterator.flatMap(f =>
        f.ranges.keysIterator ++ f.strRanges.keysIterator)
        .toSeq.distinct.sorted)
  }

  /** A segment's ReadMeta contribution: layout-key completeness, the
    * distinct layout tuples (for the cross-segment distinct count),
    * and the stats-column union. */
  private[sources] final case class SegReadMeta(complete: Boolean,
      tuples: Set[Seq[String]], statsCols: Seq[String])

  /** Memoized per-segment fold — segments are write-once and
    * UUID-named, so an entry keyed by (name, layout keys) can never go
    * stale; the layout keys join the key because spec evolution
    * changes what "complete" means. */
  private[sources] def segReadMeta(s: Segment,
      keys: Seq[String]): SegReadMeta =
    segMetaCache.get((s.name, keys), () => {
      val entries = s.files
      val complete = keys.nonEmpty &&
        entries.forall(f => keys.forall(f.partitions.contains))
      SegReadMeta(complete,
        if (complete)
          entries.iterator.map(f => keys.map(f.partitions(_))).toSet
        else Set.empty,
        entries.iterator.flatMap(f =>
          f.ranges.keysIterator ++ f.strRanges.keysIterator)
          .toSeq.distinct.sorted)
    })

  private[sources] object segMetaCache {
    private val MaxEntries = 4096
    private val m = new java.util.LinkedHashMap[(String, Seq[String]),
        SegReadMeta](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]), SegReadMeta]): Boolean =
        size() > MaxEntries
    }
    def get(key: (String, Seq[String]),
        load: () => SegReadMeta): SegReadMeta = {
      val hit = m.synchronized(m.get(key))
      if (hit != null) hit
      else {
        val v = load()
        m.synchronized(m.put(key, v))
        v
      }
    }
  }

  /** JVM-wide LRU for parsed segments, keyed by absolute path:
    * segments are immutable and UUID-named, so entries can never go
    * stale. Bounded by ESTIMATED BYTES, not entry count — a 1M-file
    * table resolves ~2k segments per planning pass, so a fixed
    * name-count bound either thrashes (too small) or is unbounded in
    * bytes (segments vary 1–1000s of entries). 64 MB holds ~200k
    * parsed entries — an entire 100 TB table's metadata working
    * set — while still bounding a many-table JVM. */
  private[sources] object segCache {
    private[sources] val MaxBytes = 64L << 20
    /** Estimated retained bytes of one parsed entry: object headers +
      * path chars + ~64 B per stats-map entry (boxed longs, tuple,
      * hash table slot). An estimate only — guards the JVM, never
      * correctness. */
    private def costOf(v: Seq[DataFile]): Long =
      64L + v.iterator.map(f => 128L + 2L * f.path.length +
        64L * (f.partitions.size + f.ranges.size + f.strRanges.size +
          f.nulls.size + f.valueSets.valuesIterator.map(_.size).sum)).sum
    private var bytes = 0L
    private val m = new java.util.LinkedHashMap[String, Seq[DataFile]](
      64, 0.75f, true)
    def get(key: String, load: String => Seq[DataFile]): Seq[DataFile] = {
      val hit = m.synchronized(m.get(key))
      if (hit != null) hit
      else {
        // load OUTSIDE the lock so parallel planning over many
        // segments actually parallelizes; a racing duplicate load of
        // the same immutable segment is benign (last put wins)
        val v = load(key)
        val cost = costOf(v)
        m.synchronized {
          val prev = m.put(key, v)
          if (prev != null) bytes -= costOf(prev)
          bytes += cost
          // evict eldest-by-access until under budget; never the entry
          // just inserted (it is being returned — keeping it cached
          // costs nothing extra and preserves the hot-path invariant)
          val it = m.entrySet().iterator()
          while (bytes > MaxBytes && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) { bytes -= costOf(e.getValue); it.remove() }
          }
        }
        v
      }
    }
    private[sources] def estimatedBytes: Long = m.synchronized(bytes)
    private[sources] def evict(key: String): Unit =
      m.synchronized {
        val prev = m.remove(key)
        if (prev != null) bytes -= costOf(prev)
        ()
      }
  }
  /** Schema of a position-delete parquet file: the row's source data
    * file (as the scan's `_metadata.file_path` renders it) and its
    * 0-based row index within that file. */
  private[sources] val DeleteSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Safe widening type promotions (Iceberg's allowed schema
    * promotions): every value of `from` is exactly representable in
    * `to`, and the parquet reader can widen at scan time. */
  private[sources] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
    case (org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType) => true
    case (org.apache.spark.sql.types.FloatType,
      org.apache.spark.sql.types.DoubleType) => true
    // a struct widens when its shape is identical and every field is
    // same-typed or widens — what lets a narrow incoming batch append
    // into a [[LogTable!.widenField]]-evolved struct column (the
    // writer's struct cast upcasts recursively)
    case (f: org.apache.spark.sql.types.StructType,
        t: org.apache.spark.sql.types.StructType) =>
      f.length == t.length && f.fields.zip(t.fields).forall { case (a, b) =>
        a.name.equalsIgnoreCase(b.name) &&
          (org.apache.spark.sql.GraftBridge.sameTypeIgnoreNullability(
            a.dataType, b.dataType) || widens(a.dataType, b.dataType))
      }
    case _ => false
  }

  /** Split a dotted field path, refusing empties (`"a..b"`). */
  private[sources] def splitPath(path: String): Seq[String] = {
    val parts = path.split("\\.", -1).toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"invalid field path '$path'")
    parts
  }

  /** Rebuild `schema` with `op` applied to the struct at `parents`
    * (empty = the root) — the shared navigation of the nested
    * evolution DDL. Fails loudly on a missing segment or a
    * non-struct parent. */
  private[sources] def rebuildAt(schema: org.apache.spark.sql.types.StructType,
      parents: Seq[String])(
      op: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (parents.isEmpty) op(schema)
    else {
      val idx = schema.indexWhere(_.name.equalsIgnoreCase(parents.head))
      require(idx >= 0, s"no such column '${parents.head}'")
      schema(idx).dataType match {
        case s: org.apache.spark.sql.types.StructType =>
          org.apache.spark.sql.types.StructType(schema.updated(idx,
            schema(idx).copy(dataType = rebuildAt(s, parents.tail)(op))))
        case dt => throw new IllegalArgumentException(
          s"'${parents.head}' is $dt, not a struct")
      }
    }

  /** Accepted source types per transform kind: Long everywhere;
    * String additionally for mbucket (UTF-8 spec bucket); Timestamp
    * additionally for the monotonic kinds (internal µs rep — the
    * reference's day(time) log-table shape) AND for mbucket (the
    * spec buckets timestamps as their micros value). */
  private[sources] def transformSourceOk(t: Transform,
      dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.LongType ||
      (t.kind == "mbucket" && dt == org.apache.spark.sql.types.StringType) ||
      ((t.monotonic || t.kind == "mbucket") &&
        dt == org.apache.spark.sql.types.TimestampType)

  private[sources] def transformSourceAlt(t: Transform): String =
    if (t.kind == "mbucket") " (or StringType/TimestampType)"
    else if (t.monotonic) " (or TimestampType)"
    else ""

  /** "" or k=v[/k2=v2...] path segments → manifest partition values.
    * Spark escapes partition dirs with its OWN escaping (%XX for
    * specials, '+' left intact) — URLDecoder would turn a legitimate
    * '+' into a space and poison manifest pruning. */
  private[sources] def partValsOfRel(rel: String): Map[String, String] =
    rel.split("/").toSeq.filter(_.contains("=")).map { seg =>
      val Array(k, v) = seg.split("=", 2)
      k -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)
    }.toMap

  /** Iceberg requires TIMESTAMP columns stored as INT64 micros; Spark's
    * default `spark.sql.parquet.outputTimestampType` is the
    * NON-STANDARD INT96 — a strict foreign reader over an export of a
    * timestamp-carrying graft table would fail on the data files.
    * Every graft write path upgrades the session value to
    * TIMESTAMP_MICROS once, sticky and idempotent. Deliberately so on
    * BOTH axes:
    *  - session-global, because Spark has no per-write
    *    outputTimestampType option (ParquetOptions carries only
    *    compression/mergeSchema/rebase) and a set-restore window would
    *    race concurrent writers on the shared session — non-graft
    *    parquet writes in the same session therefore also switch to
    *    MICROS, a standards-compliant logical type every reader
    *    handles (unlike INT96);
    *  - including an EXPLICITLY-set INT96 (the conf API cannot
    *    distinguish it from the unset default, and even a deliberate
    *    INT96 choice would break graft's own seam contract — table
    *    data files must read under any Iceberg-compatible engine).
    * An explicit non-INT96 setting (MICROS/MILLIS) is left untouched:
    * both are self-describing logical types a foreign reader converts
    * correctly. */
  private[sources] def ensureMicrosTimestamps(spark: SparkSession): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    if (spark.conf.get(key, "INT96") == "INT96")
      spark.conf.set(key, "TIMESTAMP_MICROS")
  }

  /** A scan-rendered file reference (`_metadata.file_path` /
    * `input_file_name` URI form) as the local filesystem path the
    * manifest records. */
  private[sources] def localPath(uri: String): String =
    java.net.URI.create(uri).getPath

  /** The data-pool root of a manifest path: its nearest ancestor dir
    * named `data` (every table lays files out as
    * `<root>/data[/<hive dirs>]/<file>`). Shallow clones borrow files
    * under OTHER roots, so scans derive each file's base from its own
    * path instead of assuming this table's dataDir. */
  private[sources] def dataBaseOf(p: String): String = {
    var d = Paths.get(p).getParent
    while (d != null && d.getFileName != null &&
        d.getFileName.toString != "data")
      d = d.getParent
    if (d == null) Paths.get(p).getParent.toString else d.toString
  }

  /** Parse a manifest's recorded schema JSON (one place to fail on a
    * malformed string). */
  private[sources] def parseSchema(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Depth-first recursive delete with the walk stream closed —
    * shared by staging cleanup and Verify's stale-output wipe. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Min/max-normalize a numeric column to 31-bit fixed point
    * (clustering precision only — the data itself is never
    * transformed). 31 bits, not 32: the interleaved z-value must stay
    * NON-NEGATIVE in a signed long, or range partitioning would order
    * the upper half of the domain before the lower and one output
    * file would straddle the sign wrap, covering the extremes of both
    * columns and defeating pruning. */
  private[sources] def norm32(c: org.apache.spark.sql.Column,
      lo: Long, hi: Long): org.apache.spark.sql.Column = normBits(c, lo, hi, 31)

  /** Normalize to [0, 2^bits - 1] over the live [lo, hi] range. */
  private[sources] def normBits(c: org.apache.spark.sql.Column,
      lo: Long, hi: Long, bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    if (hi == lo) lit(0L)
    else ((c.cast("double") - lit(lo.toDouble)) / lit((hi - lo).toDouble) *
      lit(((1L << bits) - 1).toDouble)).cast("long")
  }

  /** Morton interleave of k equally-wide values (each ⌊62/k⌋ bits) —
    * the masked-spread kernel for k = 2, a bit-by-bit interleave for
    * higher k. Plain shift/mask arithmetic either way: codegen'd,
    * no UDF. */
  private[sources] def mortonN(cs: Seq[org.apache.spark.sql.Column])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val k = cs.size
    if (k == 2) morton(cs(0), cs(1))
    else {
      val bits = 62 / k
      (for { d <- cs.indices; i <- 0 until bits } yield
        shiftleft(shiftright(cs(d), i).bitwiseAND(lit(1L)), i * k + d))
        .reduce(_ bitwiseOR _)
    }
  }

  /** Morton interleave of two 31-bit values into a non-negative
    * 62-bit z — plain shift/mask arithmetic, fully codegen'd (no
    * UDF). */
  private[sources] def morton(a32: org.apache.spark.sql.Column,
      b32: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    def spread(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val s1 = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      val s4 = s3.bitwiseOR(shiftleft(s3, 2)).bitwiseAND(lit(0x3333333333333333L))
      s4.bitwiseOR(shiftleft(s4, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a32).bitwiseOR(shiftleft(spread(b32), 1))
  }

  /** True iff Spark's multiset set operations (exceptAll) are defined
    * over this schema: MAP types (at any nesting depth) have no
    * equality and are rejected by the analyzer. */
  private[sources] def setOpComparable(schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    def ok(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => ok(f.dataType))
      case a: ArrayType => ok(a.elementType)
      case _ => true
    }
    schema.fields.forall(f => ok(f.dataType))
  }

  /** An appends-only incremental read ([[LogTable.readAppends]] /
    * appendedFilesBetween) refused because a commit in the window
    * CHANGES rows (delete/update/merge/rollback/publish) — the
    * maintenance-boundary refusal consumers like
    * [[MaterializedView.refreshOrFull]] catch to pick a stronger
    * refresh strategy. Extends IllegalStateException so callers
    * treating it as a generic state error keep working. */
  final class MaintenanceBoundaryException(msg: String)
    extends IllegalStateException(msg)

  /** A CDC replay window starts below the expired-history floor
    * ([[LogTable.expire]] removed the manifests the replay would
    * read). Extends IllegalStateException for compatibility. */
  final class CdcHistoryExpiredException(msg: String)
    extends IllegalStateException(msg)

  /** Control-flow signal: a compact/delete source file vanished from
    * the current snapshot mid-operation (concurrent rewrite). */
  private case object StaleSourceFiles
    extends Exception("stale source files", null, false, false)

  /** Control-flow signal: a metadata delete re-planned to zero files
    * inside the commit loop (concurrent commit removed them all) —
    * succeed without publishing a no-op snapshot. */
  private case object NoopMetadataDelete
    extends Exception("noop metadata delete", null, false, false)
  private val mapper = new ObjectMapper()

  /** Open (creating directories if needed) the table rooted at `root`.
    * `partitionBy` makes appends lay data out hive-style and records
    * per-file partition values in the manifest for pruned scans.
    * `hiddenBy` declares HIDDEN partition transforms ([[Transform]]):
    * files are additionally laid out by derived values (`hour(ts_us)`,
    * `bucket(16, id)`) that never become table columns, and
    * readRange/readPoint prune through them. Like `partitionBy`, the
    * spec is writer-declared per handle; files written under a
    * different spec are conservatively scanned, never mis-pruned. */
  def apply(spark: SparkSession, root: String,
      partitionBy: Seq[String] = Nil,
      hiddenBy: Seq[Transform] = Nil,
      io: GraftFileIO = GraftFileIO.Local): LogTable = {
    Files.createDirectories(Paths.get(root).resolve("data"))
    io.mkdirs(Paths.get(root).resolve(ManifestDir))
    // the partition spec is TABLE metadata, not handle state: commits
    // record it in the manifest, and a spec-less open of an existing
    // table adopts the recorded spec — so every handle (a fresh
    // session, the SQL surface, the catalog) writes the declared
    // layout instead of silently mixing layouts. A caller-declared
    // spec must agree with the recorded one (changing the layout of an
    // existing table is a rewrite, not an open-time flag).
    val t0 = new LogTable(spark, root, partitionBy, ManifestDir, hiddenBy, io)
    val snap = t0.snapshot()
    if (partitionBy.isEmpty && hiddenBy.isEmpty &&
        (snap.partCols.nonEmpty || snap.transforms.nonEmpty))
      new LogTable(spark, root, snap.partCols, ManifestDir, snap.transforms, io)
    else {
      if ((snap.partCols.nonEmpty || snap.transforms.nonEmpty) &&
          (partitionBy.nonEmpty || hiddenBy.nonEmpty))
        require(partitionBy == snap.partCols && hiddenBy == snap.transforms,
          s"table at $root records partition spec (partitionBy=" +
            s"${snap.partCols.mkString(",")}; hiddenBy=${snap.transforms
              .mkString(",")}) but the handle declares (${partitionBy
              .mkString(",")}; ${hiddenBy.mkString(",")}) — open without " +
            "a spec to adopt the recorded one")
      t0
    }
  }

  private def manifestPath(logDir: Path, version: Long): Path =
    logDir.resolve(f"v$version%05d.manifest.json")

  private val ManifestRe = """v(\d+)\.manifest\.json""".r

  private def renderManifest(s: Snapshot): String = {
    val node: ObjectNode = mapper.createObjectNode()
    node.put("version", s.version)
    node.put("parent", s.parent)
    node.put("operation", s.operation)
    node.put("timestampMs", s.timestampMs)
    if (s.tag.nonEmpty) node.put("tag", s.tag)
    if (s.schemaJson.nonEmpty) node.put("schema", s.schemaJson)
    if (s.retired.nonEmpty) {
      val rn = node.putArray("retired")
      s.retired.foreach(rn.add)
    }
    if (s.checks.nonEmpty) {
      val cn = node.putObject("checks")
      s.checks.toSeq.sortBy(_._1).foreach { case (k, v) => cn.put(k, v) }
    }
    if (s.partCols.nonEmpty) {
      val pn = node.putArray("partitionBy")
      s.partCols.foreach(pn.add)
    }
    if (s.transforms.nonEmpty) {
      val tn = node.putArray("hiddenBy")
      s.transforms.foreach { t =>
        val e = tn.addObject()
        e.put("source", t.source); e.put("kind", t.kind); e.put("n", t.n)
      }
    }
    // files held by segments travel BY NAME; only the remainder
    // serializes inline — the structural-sharing half of the
    // two-level manifest (see [[Segment]])
    if (s.segs.nonEmpty) {
      val sn = node.putArray("segments")
      s.segs.foreach { seg =>
        if (seg.partVals.isEmpty) sn.add(seg.name) // unsummarized: bare name
        else {
          val e = sn.addObject()
          e.put("name", seg.name)
          val pn = e.putObject("parts")
          seg.partVals.toSeq.sortBy(_._1).foreach { case (k, vs) =>
            val a = pn.putArray(k); vs.foreach(a.add)
          }
        }
      }
    }
    s.readMeta.foreach { rm =>
      val r = node.putObject("readMeta")
      r.put("layoutComplete", rm.layoutComplete)
      r.put("layoutParts", rm.layoutParts)
      val sc = r.putArray("statsCols")
      rm.statsCols.foreach(sc.add)
    }
    if (s.summary.nonEmpty) {
      val sn = node.putObject("summary")
      s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sn.put(k, v) }
    }
    if (s.sortCols.nonEmpty) {
      val so = node.putArray("sortOrder")
      s.sortCols.foreach(so.add)
    }
    if (s.props.nonEmpty) {
      val pn = node.putObject("props")
      s.props.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    }
    if (s.cdc.nonEmpty) {
      val cn = node.putArray("cdc")
      s.cdc.foreach { c =>
        val e = cn.addObject()
        e.put("path", c.path); e.put("rows", c.rows)
        e.put("bytes", c.bytes); e.put("change", c.change)
      }
    }
    val segPaths = s.segs.iterator.flatMap(_.paths).toSet
    val arr: ArrayNode = node.putArray("files")
    renderFilesInto(arr, s.files.filterNot(f => segPaths.contains(f.path)))
    if (s.deletes.nonEmpty) {
      val dn = node.putArray("deletes")
      s.deletes.foreach { d =>
        val e = dn.addObject()
        e.put("path", d.path); e.put("bytes", d.bytes)
        val cn = e.putObject("counts")
        d.counts.toSeq.sortBy(_._1).foreach { case (k, v) => cn.put(k, v) }
      }
    }
    if (s.bloomCols.nonEmpty) {
      val bn = node.putArray("bloomCols")
      s.bloomCols.foreach { b =>
        val e = bn.addObject(); e.put("col", b.col); e.put("ndv", b.ndv)
      }
    }
    if (s.eqDeletes.nonEmpty) {
      val dn = node.putArray("eqDeletes")
      s.eqDeletes.foreach { d =>
        val e = dn.addObject()
        e.put("path", d.path); e.put("bytes", d.bytes)
        e.put("rows", d.rows); e.put("seq", d.seq)
        val cn = e.putArray("cols")
        d.cols.foreach(cn.add)
      }
    }
    if (s.ndvs.nonEmpty) {
      val nn = node.putObject("ndvs")
      s.ndvs.toSeq.sortBy(_._1).foreach { case (k, v) => nn.put(k, v) }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
  }

  private def renderFilesInto(arr: ArrayNode, files: Seq[DataFile]): Unit =
    files.foreach { f =>
      val fn = arr.addObject()
      fn.put("path", f.path); fn.put("rows", f.rows); fn.put("bytes", f.bytes)
      if (f.seq != 0L) fn.put("seq", f.seq)
      f.firstRowId.foreach(id => fn.put("firstRowId", id))
      if (f.matLineage) fn.put("matLineage", true)
      if (f.nulls.nonEmpty) {
        val nn = fn.putObject("nulls")
        f.nulls.toSeq.sortBy(_._1).foreach { case (k, v) => nn.put(k, v) }
      }
      if (f.partitions.nonEmpty) {
        val pn = fn.putObject("partitions")
        f.partitions.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
      }
      if (f.ranges.nonEmpty) {
        val rn = fn.putObject("ranges")
        f.ranges.toSeq.sortBy(_._1).foreach { case (k, (mn, mx)) =>
          val a = rn.putArray(k); a.add(mn); a.add(mx)
        }
      }
      if (f.strRanges.nonEmpty) {
        val rn = fn.putObject("strRanges")
        f.strRanges.toSeq.sortBy(_._1).foreach { case (k, (mn, mx)) =>
          val a = rn.putArray(k); a.add(mn); a.add(mx)
        }
      }
      if (f.valueSets.nonEmpty) {
        val vn = fn.putObject("valueSets")
        f.valueSets.toSeq.sortBy(_._1).foreach { case (k, vs) =>
          val a = vn.putArray(k); vs.foreach(a.add)
        }
      }
    }


  /** Parse one SEGMENT file's JSON into its DataFile entries —
    * deliberately static (no table handle, no seam state) so the
    * distributed metadata-table scan can ship segment PATHS to
    * executor tasks and parse there: a million-file table's
    * `.entries`/`.files` query never builds a million-row
    * LocalRelation on the driver. */
  private[sources] def parseSegmentJson(json: String): Seq[DataFile] =
    parseFilesArray(mapper.readTree(json).get("files"))

  private def parseFilesArray(node: JsonNode): Seq[DataFile] =
    node.elements().asScala.map { f =>
      val parts = Option(f.get("partitions")).map { pn =>
        pn.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty[String, String])
      val ranges = Option(f.get("ranges")).map { rn =>
        rn.fields().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
        }.toMap
      }.getOrElse(Map.empty[String, (Long, Long)])
      val strRanges = Option(f.get("strRanges")).map { rn =>
        rn.fields().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asText(), e.getValue.get(1).asText())
        }.toMap
      }.getOrElse(Map.empty[String, (String, String)])
      DataFile(f.get("path").asText(), f.get("rows").asLong(),
        f.get("bytes").asLong(), parts, ranges, strRanges,
        Option(f.get("seq")).map(_.asLong()).getOrElse(0L),
        Option(f.get("nulls")).map(_.fields().asScala.map(e =>
          e.getKey -> e.getValue.asLong()).toMap).getOrElse(Map.empty),
        Option(f.get("valueSets")).map(_.fields().asScala.map(e =>
          e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq)
          .toMap).getOrElse(Map.empty),
        Option(f.get("firstRowId")).map(_.asLong()),
        Option(f.get("matLineage")).exists(_.asBoolean()))
    }.toSeq



  // ------------------------------------------- field ids & name history

  /** StructField metadata keys: a STABLE FIELD ID assigned when the
    * column first joins the table (Iceberg's defining schema-evolution
    * mechanism — identity survives renames), and the field's historical
    * physical names (the names under which older data files store its
    * values). Both travel inside the manifest's schema JSON, so they
    * version with the snapshot like everything else. */
  private[sources] val FieldIdKey = "graft.field-id"
  private[sources] val PrevNamesKey = "graft.prev-names"

  /** The field's stable id (None on legacy fields not yet assigned). */
  def fieldId(f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey)) else None

  /** Physical names this field had BEFORE its current one, newest
    * first — the names older data files store its values under. */
  def prevNames(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(PrevNamesKey))
      f.metadata.getStringArray(PrevNamesKey).toSeq
    else Nil

  private[sources] def withFieldMeta(f: org.apache.spark.sql.types.StructField,
      id: Long, prevs: Seq[String]): org.apache.spark.sql.types.StructField = {
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id)
    if (prevs.nonEmpty) b.putStringArray(PrevNamesKey, prevs.toArray)
    f.copy(metadata = b.build())
  }

  /** Every physical name a schema's live fields answer to, lowercased —
    * current names plus rename history. New columns must not collide
    * with ANY of them: a new field named like some field's old name
    * would read that field's values out of pre-rename files. */
  private[sources] def liveNames(
      s: org.apache.spark.sql.types.StructType): Set[String] =
    s.flatMap(f => (f.name +: prevNames(f)).map(_.toLowerCase)).toSet

  /** Does `dt` contain a RENAMED struct field at any depth? Drives the
    * nested rename-aware read paths: only types with history pay the
    * struct-rebuild projection. Renames under array/map elements are
    * refused at DDL time, so descent covers structs only. */
  private[sources] def hasNestedRenames(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.exists(f => prevNames(f).nonEmpty || hasNestedRenames(f.dataType))
    case _ => false
  }

  /** The PHYSICAL twin of a logical type with nested rename history:
    * every renamed struct field is joined by siblings named after its
    * historical physical names (same twin type) — each data file
    * stores at most one of them, the others read as null, and the
    * read projection coalesces per field (the nested analog of the
    * top-level physical-name union). Types without history pass
    * through untouched. */
  private[sources] def physicalType(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case st: org.apache.spark.sql.types.StructType if hasNestedRenames(st) =>
        org.apache.spark.sql.types.StructType(st.fields.flatMap { f =>
          val pdt = physicalType(f.dataType)
          org.apache.spark.sql.types.StructField(f.name, pdt,
              nullable = true, f.metadata) +:
            prevNames(f).map(p => org.apache.spark.sql.types.StructField(
              p, pdt, nullable = true))
        })
      case other => other
    }

  /** Rebuild a physically-read struct value back to its LOGICAL shape:
    * per renamed field, coalesce the historical names; recurse into
    * nested structs; null structs stay null. Identity for types
    * without rename history. */
  private[sources] def renameFixCol(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case st: org.apache.spark.sql.types.StructType if hasNestedRenames(st) =>
        import org.apache.spark.sql.functions.{coalesce, lit, struct, when}
        val rebuilt = struct(st.fields.toSeq.map { f =>
          val names = f.name +: prevNames(f)
          val gets = names.map(n => c.getField(n))
          val picked = if (gets.size == 1) gets.head else coalesce(gets: _*)
          renameFixCol(picked, f.dataType).as(f.name)
        }: _*)
        when(c.isNull, lit(null).cast(st)).otherwise(rebuilt)
      case _ => c
    }

  /** Assign fresh field ids to fields that lack one (new columns,
    * legacy schemas) — max existing id + position, deterministic. */
  private[sources] def assignFieldIds(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    if (s.forall(f => fieldId(f).isDefined)) return s
    var next = s.flatMap(fieldId).foldLeft(0L)(math.max) + 1
    org.apache.spark.sql.types.StructType(s.map { f =>
      fieldId(f) match {
        case Some(_) => f
        case None =>
          val g = withFieldMeta(f, next, prevNames(f)); next += 1; g
      }
    })
  }

  /** Merge an incoming write's schema into the table's: NEW columns
    * append (add-column evolution) and get fresh field ids, columns
    * sharing a name must keep their exact type — the write-time
    * validation Iceberg does, so a retype fails at the WRITER instead
    * of poisoning every subsequent reader. Case-insensitive matching,
    * like Spark's resolution. Existing fields keep their manifest
    * metadata (id, name history) — the incoming batch's bare fields
    * never overwrite it. `blocked` carries names a new column may NOT
    * take: retired (dropped) names and live fields' former names. */
  private[sources] def mergeStructs(prev: org.apache.spark.sql.types.StructType,
      add: org.apache.spark.sql.types.StructType,
      blocked: Set[String] = Set.empty): org.apache.spark.sql.types.StructType = {
    val byName = prev.map(f => f.name.toLowerCase -> f).toMap
    add.foreach { f =>
      byName.get(f.name.toLowerCase) match {
        case Some(ex) =>
          // nullability-insensitive: containsNull/struct-field nullability
          // legitimately varies between writes of the same logical type.
          // An incoming type that safely WIDENS to the table's (int
          // batch into a long column) is fine — the writer upcasts it
          // (conformTypes); the table's wide type always wins.
          require(org.apache.spark.sql.GraftBridge.sameTypeIgnoreNullability(
              ex.dataType, f.dataType) || widens(f.dataType, ex.dataType),
            s"write would change column '${f.name}' from ${ex.dataType} to " +
              s"${f.dataType}; schema evolution may ADD columns or take a " +
              "widening promotion via widenColumn, never retype otherwise")
        case None =>
          require(!blocked.contains(f.name.toLowerCase),
            s"cannot add column '${f.name}': the name belonged to a dropped or " +
              "renamed field and old data files still store values under it — " +
              "re-using it would resurrect them (pick a different name)")
      }
    }
    assignFieldIds(org.apache.spark.sql.types.StructType(
      prev ++ add.filterNot(f => byName.contains(f.name.toLowerCase))))
  }
}
