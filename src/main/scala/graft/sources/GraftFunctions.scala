package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64Function}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions}
import org.apache.spark.sql.types._

/** The partition-transform functions as Spark V2 catalog functions —
  * the seam behind STORAGE-PARTITIONED JOINS (the reference's Iceberg
  * tables get the same from Iceberg's SparkFunctions): when two graft
  * tables are laid out by the same transform of the join key, Spark's
  * `KeyGroupedPartitioning` machinery joins them partition-by-partition
  * with ZERO shuffle — at 100 TB the dominant cost of a fact⋈fact join
  * is the two exchanges, and this deletes both.
  *
  * Each function is the EXACT arithmetic of [[Transform.column]] /
  * [[Transform.derive]] (integral `div`; the Iceberg-spec murmur3
  * for `bucket`/mbucket layouts, xxhash64 seed 42 for the legacy
  * `xxbucket` kind) — Spark may evaluate it
  * (`spark.sql.sources.v2.bucketing.shuffle.enabled` hashes the
  * un-bucketed side with it), so a drifted definition would silently
  * co-locate WRONG rows. One definition, three consumers: writer
  * layout, manifest pruning, join planning. */
private[sources] object GraftFunctions {

  /** Every name `load` resolves — the FunctionCatalog listing surface
    * (`mbucket` included: it is `bucket`'s explicit alias, and a
    * listing that omits a loadable name hides it from discovery). */
  val names: Seq[String] =
    Seq("bucket", "mbucket", "xxbucket", "hours", "days", "years",
      "months", "truncate")

  def load(name: String): Option[UnboundFunction] = name.toLowerCase match {
    // `bucket` (and its explicit alias `mbucket`) is the Iceberg-spec
    // murmur3 bucket — the function Spark resolves for an SPJ over
    // mbucket layouts, so it MUST match what those layouts were
    // written with. The legacy xxhash64 kind answers to `xxbucket`
    // only (its layouts report no SPJ claim — see SpjLayout.of).
    case "bucket" | "mbucket" => Some(MBucketUnbound)
    case "xxbucket" => Some(XxBucketUnbound)
    case "hours" => Some(HoursUnbound)
    case "days" => Some(DaysUnbound)
    case "years" => Some(YearsUnbound)
    case "months" => Some(MonthsUnbound)
    case "truncate" => Some(TruncateUnbound)
    case _ => None
  }

  private def requireTypes(fn: String, in: StructType, want: Seq[DataType]): Unit =
    require(in.fields.map(_.dataType).toSeq == want,
      s"graft.$fn expects (${want.mkString(", ")}), got " +
        s"(${in.fields.map(_.dataType).mkString(", ")})")

  /** xxbucket(n, col): the LEGACY graft bucket,
    * `pmod(xxhash64(col), n)` — [[Transform.derive]] for kind
    * `bucket`. Kept loadable for completeness; xx layouts report no
    * SPJ claim, so nothing resolves it on the join path. */
  private object XxBucketUnbound extends UnboundFunction {
    override def name(): String = "xxbucket"
    override def description(): String =
      "xxbucket(n, col) - legacy graft hash bucket: pmod(xxhash64(col), n)"
    override def bind(inputType: StructType): BoundFunction = {
      requireTypes("xxbucket", inputType, Seq(IntegerType, LongType))
      XxBucketBound
    }
  }
  private object XxBucketBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "xxbucket"
    override def canonicalName(): String = "graft.xxbucket"
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = LongType
    override def produceResult(row: InternalRow): java.lang.Long =
      if (row.isNullAt(1)) null
      else {
        val n = row.getInt(0).toLong
        ((XxHash64Function.hash(row.getLong(1), LongType, 42L) % n) + n) % n
      }
  }

  /** mbucket(n, col): the Iceberg-spec bucket —
    * `(murmur3_x86_32(col, seed 0) & MaxInt) % n` ([[Transform.derive]]
    * for kind `mbucket`; identical to Iceberg's SparkFunctions bucket,
    * so an SPJ against a genuinely-Iceberg-bucketed dataset would
    * co-locate the same keys). */
  private object MBucketUnbound extends UnboundFunction {
    override def name(): String = "mbucket"
    override def description(): String =
      "mbucket(n, col) - Iceberg-spec bucket: (murmur3_x86_32(col) & MaxInt) % n"
    override def bind(inputType: StructType): BoundFunction =
      inputType.fields.map(_.dataType).toSeq match {
        // timestamps bucket as their µs-epoch long (the spec rule and
        // the internal rep) — same bound function as long inputs
        case Seq(IntegerType, LongType | TimestampType) => MBucketBound
        case Seq(IntegerType, StringType) => MBucketStrBound
        case other => throw new IllegalArgumentException(
          s"graft.mbucket expects (int, bigint|timestamp) or " +
            s"(int, string), got (${other.mkString(", ")})")
      }
  }
  private object MBucketBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "mbucket"
    override def canonicalName(): String = "graft.mbucket"
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = LongType
    override def produceResult(row: InternalRow): java.lang.Long =
      if (row.isNullAt(1)) null
      else {
        val n = row.getInt(0)
        ((graft.functions.IcebergBucketHash.hashLong(row.getLong(1))
          & Int.MaxValue) % n).toLong
      }
  }
  /** The STRING binding of the same spec bucket (Iceberg hashes the
    * UTF-8 bytes) — a distinct canonicalName: a long-keyed and a
    * string-keyed layout must never read as co-partitioned. */
  private object MBucketStrBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "mbucket"
    override def canonicalName(): String = "graft.mbucket.str"
    override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
    override def resultType(): DataType = LongType
    override def produceResult(row: InternalRow): java.lang.Long =
      if (row.isNullAt(1)) null
      else {
        val n = row.getInt(0)
        ((graft.functions.IcebergBucketHash.hashString(row.getUTF8String(1))
          & Int.MaxValue) % n).toLong
      }
  }

  private abstract class UnaryLongUnbound(fn: String, desc: String,
      bound: BoundFunction) extends UnboundFunction {
    override def name(): String = fn
    override def description(): String = desc
    override def bind(inputType: StructType): BoundFunction = {
      // TIMESTAMP binds too: its internal rep is the µs-epoch long the
      // writer derived from, and produceResult reads the raw long —
      // so a days(ts)-laid table still reports SPJ co-partitioning
      require(inputType.fields.map(_.dataType).toSeq == Seq(LongType) ||
          inputType.fields.map(_.dataType).toSeq == Seq(TimestampType),
        s"graft.$fn expects (bigint) or (timestamp), got " +
          s"(${inputType.fields.map(_.dataType).mkString(", ")})")
      bound
    }
  }
  private abstract class UnaryLongBound(fn: String, div: Long)
      extends ScalarFunction[java.lang.Long] {
    override def name(): String = fn
    override def canonicalName(): String = s"graft.$fn"
    override def inputTypes(): Array[DataType] = Array(LongType)
    override def resultType(): DataType = LongType
    override def produceResult(row: InternalRow): java.lang.Long =
      if (row.isNullAt(0)) null else row.getLong(0) / div
  }
  private object HoursBound extends UnaryLongBound("hours", 3600000000L)
  private object DaysBound extends UnaryLongBound("days", 86400000000L)
  private object HoursUnbound extends UnaryLongUnbound("hours",
    "hours(us) - graft hour number of a microsecond-epoch long", HoursBound)
  private object DaysUnbound extends UnaryLongUnbound("days",
    "days(us) - graft day number of a microsecond-epoch long", DaysBound)

  /** years/months: the CALENDAR ordinals ([[Transform.yearOrdinal]] /
    * [[Transform.monthOrdinal]] — Iceberg's year/month transforms),
    * not fixed-width divisions. */
  private object YearsBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "years"
    override def canonicalName(): String = "graft.years"
    override def inputTypes(): Array[DataType] = Array(LongType)
    override def resultType(): DataType = LongType
    override def produceResult(row: InternalRow): java.lang.Long =
      if (row.isNullAt(0)) null else Transform.yearOrdinal(row.getLong(0))
  }
  private object MonthsBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "months"
    override def canonicalName(): String = "graft.months"
    override def inputTypes(): Array[DataType] = Array(LongType)
    override def resultType(): DataType = LongType
    override def produceResult(row: InternalRow): java.lang.Long =
      if (row.isNullAt(0)) null else Transform.monthOrdinal(row.getLong(0))
  }
  private object YearsUnbound extends UnaryLongUnbound("years",
    "years(us) - calendar years since 1970 of a microsecond-epoch long",
    YearsBound)
  private object MonthsUnbound extends UnaryLongUnbound("months",
    "months(us) - calendar months since 1970-01 of a microsecond-epoch long",
    MonthsBound)

  /** truncate(w, col): `(col div w) * w` — [[Transform.derive]]. */
  private object TruncateUnbound extends UnboundFunction {
    override def name(): String = "truncate"
    override def description(): String =
      "truncate(w, col) - graft fixed-width truncation: (col div w) * w"
    override def bind(inputType: StructType): BoundFunction = {
      requireTypes("truncate", inputType, Seq(LongType, LongType))
      TruncateBound
    }
  }
  private object TruncateBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "truncate"
    override def canonicalName(): String = "graft.truncate"
    override def inputTypes(): Array[DataType] = Array(LongType, LongType)
    override def resultType(): DataType = LongType
    override def produceResult(row: InternalRow): java.lang.Long =
      if (row.isNullAt(1)) null
      else row.getLong(1) / row.getLong(0) * row.getLong(0)
  }
}

/** The partition-key layout a scan reports for storage-partitioned
  * joins: `cols` names each key's manifest spelling (hive column or
  * transform directory key) with the catalyst type its values parse
  * to; `keys` is the same layout in Spark's connector-expression
  * vocabulary, in the SAME order — [[GraftBatch]] builds each file's
  * `partitionKey()` row from `cols`, so reported keys and delivered
  * rows can never disagree on order or type. */
private[sources] final case class SpjLayout(cols: Seq[(String, DataType)],
    keys: Array[VExpression], numPartitions: Int) {

  private val NullDir = "__HIVE_DEFAULT_PARTITION__"

  /** The partition-key row for one planned file (driver-side, manifest
    * metadata only). A file missing a layout value means the layout
    * CHANGED between partitioning report and split planning (a racing
    * evolveSpec) — refuse loudly, a silent null key would join rows
    * into the wrong co-partition. */
  def keyRowOf(f: DataFile): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      cols.map { case (name, dt) =>
        f.partitions.get(name) match {
          case None => throw new IllegalStateException(
            s"graft storage-partitioned scan: file ${f.path} lacks layout " +
              s"key '$name' — partition spec changed during planning; re-run")
          case Some(NullDir) => null
          case Some(v) => Cast(Literal(v), dt, Some("UTC")).eval(null)
        }
      }.toArray[Any])
}

private[sources] object SpjLayout {
  /** The reportable layout of a snapshot, or None when any gate fails:
    * no layout, a pre-evolution file missing a derived value, or an
    * identity partition column of a type hive-string round-tripping
    * can't carry exactly. Degrade to "no report" (Spark plans the
    * usual exchanges), never to a wrong co-partition claim. */
  def of(snap: Snapshot): Option[SpjLayout] = {
    if (snap.partCols.isEmpty && snap.transforms.isEmpty) return None
    if (snap.schemaJson.isEmpty) return None
    val schema = LogTable.parseSchema(snap.schemaJson)
    val identity: Seq[Option[(String, DataType, VExpression)]] =
      snap.partCols.map { c =>
        schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap(f =>
          f.dataType match {
            case LongType | IntegerType | ShortType | ByteType | StringType =>
              Some((c, f.dataType, Expressions.identity(c): VExpression))
            case _ => None
          })
      }
    if (identity.exists(_.isEmpty)) return None
    // the LEGACY xxhash64 bucket kind reports NO layout: Spark's SPJ
    // machinery special-cases only the transform NAMED `bucket`
    // (its numBuckets literal moves into TransformExpression's
    // numBucketsOpt; any other name keeps the literal as an argument
    // and KeyGroupedPartitioning.satisfies rejects multi-leaf
    // expressions), and that name now resolves to the murmur3
    // function — an xxhash64 layout claiming it would co-locate WRONG
    // rows. Degrade to no-claim, the rule everywhere in this file.
    if (snap.transforms.exists(_.kind == "bucket")) return None
    // the Iceberg-spec murmur3 bucket rides Spark's special-cased
    // `bucket` transform — the only shape that engages SPJ
    val hidden: Seq[(String, DataType, VExpression)] =
      snap.transforms.map(t => (t.colName, LongType, Transform.v2(t)))
    val all = identity.flatten ++ hidden
    // every live file must carry every layout value (spec evolution
    // leaves pre-evolution files without the new keys — those
    // snapshots simply don't report). The commit-recorded ReadMeta
    // answers both the completeness gate and the partition count from
    // the snapshot pointer; legacy manifests fall back to the file
    // list. Sound because commit computes layoutComplete over exactly
    // partCols ++ transforms' directory keys — the same `names`.
    val names = all.map(_._1)
    val (complete, n) = snap.readMeta match {
      case Some(rm) => (rm.layoutComplete, rm.layoutParts)
      case None =>
        val c = snap.files.forall(f => names.forall(f.partitions.contains))
        (c, if (c) snap.files.map(f => names.map(f.partitions(_))).distinct.size
            else 0)
    }
    if (!complete) return None
    Some(SpjLayout(all.map(t => (t._1, t._2)), all.map(_._3).toArray,
      math.max(n, 1)))
  }
}
