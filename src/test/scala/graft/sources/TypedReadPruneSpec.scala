package graft.sources

import graft.SparkSpec
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll

import java.nio.file.Files
import scala.util.Try

/** The file selection behind LogTable's typed reads (`filesInRange`,
  * `filesForPoint`, `filesForBuckets`, `filesInRangeStr`,
  * `filesForPointStr` — the sets their `read*` twins open) over random
  * manifest layouts. Each file's ROWS are generated first; its
  * directory keys (identity and hidden-transform, null sources landing
  * in `__HIVE_DEFAULT_PARTITION__`) and its long/string stats and
  * dictionary value sets are derived from them, so the rows are the
  * ground truth. Properties: (a) SOUND — every file holding a matching
  * row is kept; (b) NEVER WEAKER — the kept set is a subset of what
  * the per-method legacy rules (reproduced in [[Legacy]]) kept,
  * wherever those rules answer at all. */
class TypedReadPruneSpec extends SparkSpec {
  import TypedReadPruneSpec._

  private val hourUs = 3600000000L

  /** Spark's string order (UTF-8 bytes) — the generated strings are
    * ASCII, where it agrees with Java's. */
  private def matches(r: Row, ts: Seq[Transform], q: Q): Boolean = q match {
    case RangeQ(c, lo, hi) => r.long(c).exists(x => lo <= x && x <= hi)
    case PointQ(c, v) => r.long(c).contains(v)
    case RangeStrQ(c, lo, hi) => r.str(c).exists(x => lo <= x && x <= hi)
    case PointStrQ(c, v) => r.str(c).contains(v)
    // a bucket-set probe wants the rows whose bucket over `c` is in the
    // set; without a bucket layout on `c` it is a full read
    case BucketsQ(c, ids) =>
      ts.filter(t => !t.monotonic && t.source.equalsIgnoreCase(c)).forall(t =>
        r.dirKey(t).toLongOption.exists(ids.contains))
  }

  private def api(t: LogTable, q: Q): Seq[DataFile] = q match {
    case RangeQ(c, lo, hi) => t.filesInRange(c, lo, hi)
    case PointQ(c, v) => t.filesForPoint(c, v)
    case BucketsQ(c, ids) => t.filesForBuckets(c, ids)
    case RangeStrQ(c, lo, hi) => t.filesInRangeStr(c, lo, hi)
    case PointStrQ(c, v) => t.filesForPointStr(c, v)
  }

  /** The five per-method pruners the typed reads used before they went
    * through [[Snapshot.prunedFiles]]: transforms from the handle,
    * directory values parsed with `toLong` (a null directory throws),
    * identity partition values ignored, case-sensitive stats lookups in
    * the range rules. Kept only as the "never weaker" reference. */
  private object Legacy {
    def range(fs: Seq[DataFile], ts: Seq[Transform], c: String,
        lo: Long, hi: Long): Seq[DataFile] = {
      val monos = ts.filter(t => t.monotonic && t.source == c)
      fs.filter { f =>
        f.ranges.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi } &&
        monos.forall(t => f.partitions.get(t.colName).forall(v =>
          v.toLong >= t.derive(lo) && v.toLong <= t.derive(hi)))
      }
    }
    def point(fs: Seq[DataFile], ts: Seq[Transform], c: String,
        v: Long): Seq[DataFile] = {
      val buckets = ts.filter(t => !t.monotonic && t.source == c)
      range(fs, ts, c, v, v).filter(f => buckets.forall(t =>
        f.partitions.get(t.colName).forall(_.toLong == t.derive(v))))
    }
    def buckets(fs: Seq[DataFile], ts: Seq[Transform], c: String,
        ids: Set[Long]): Seq[DataFile] = {
      val bs = ts.filter(t => !t.monotonic && t.source.equalsIgnoreCase(c))
      fs.filter(f => bs.forall(t =>
        f.partitions.get(t.colName).forall(_.toLongOption.forall(ids.contains))))
    }
    def rangeStr(fs: Seq[DataFile], c: String, lo: String,
        hi: String): Seq[DataFile] =
      fs.filter(f => f.strRanges.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi })
    def pointStr(fs: Seq[DataFile], ts: Seq[Transform], c: String,
        v: String): Seq[DataFile] = {
      val bs = ts.filter(t => t.kind == "mbucket" && t.source.equalsIgnoreCase(c))
      rangeStr(fs, c, v, v).filter(f =>
        f.valueSets.find(_._1.equalsIgnoreCase(c)).forall(_._2.contains(v)) &&
        bs.forall(t => f.partitions.get(t.colName)
          .forall(_.toLongOption.forall(_ == t.deriveStr(v)))))
    }
    def apply(fs: Seq[DataFile], ts: Seq[Transform], q: Q): Seq[DataFile] = q match {
      case RangeQ(c, lo, hi) => range(fs, ts, c, lo, hi)
      case PointQ(c, v) => point(fs, ts, c, v)
      case BucketsQ(c, ids) => buckets(fs, ts, c, ids)
      case RangeStrQ(c, lo, hi) => rangeStr(fs, c, lo, hi)
      case PointStrQ(c, v) => pointStr(fs, ts, c, v)
    }
  }

  // ------------------------------------------------------------ generators

  private def orNull[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(1 -> Gen.const(None), 8 -> g.map(Some(_)))

  private val tsGen: Gen[Long] = for {
    h <- Gen.choose(0L, 49L)
    off <- Gen.oneOf(Gen.const(0L), Gen.const(hourUs - 1), Gen.choose(0L, hourUs - 1))
  } yield h * hourUs + off

  private val strs = Seq("a", "b", "c", "d", "e")

  private val rowGen: Gen[Row] = for {
    ts <- orNull(tsGen)
    v <- orNull(Gen.choose(0L, 15L))
    g <- orNull(Gen.choose(0L, 3L))
    s <- orNull(Gen.oneOf(strs))
    k <- orNull(Gen.oneOf("x", "y", "z"))
  } yield Row(ts, v, g, s, k)

  /** Per-file metadata choices: which of the six stats are recorded,
    * and whether the file predates the spec (no directory keys). */
  private val fileFlagsGen: Gen[(Int, Boolean)] =
    Gen.zip(Gen.choose(0, 63), Gen.frequency(1 -> true, 9 -> false))

  private def fileOf(i: Int, rows: Seq[Row], keys: Map[String, String],
      flags: (Int, Boolean)): DataFile = {
    val (mask, unkeyed) = flags
    def on(bit: Int) = (mask & (1 << bit)) != 0
    def longRange(c: String) = rows.flatMap(_.long(c)) match {
      case Seq() => None
      case xs => Some(c -> (xs.min, xs.max))
    }
    def strRange(c: String) = rows.flatMap(_.str(c)) match {
      case Seq() => None
      case xs => Some(c -> (xs.min, xs.max))
    }
    DataFile(s"data/f$i.parquet", rows.size.toLong, 100L,
      partitions = if (unkeyed) Map.empty else keys,
      ranges = Seq("ts_us", "v", "g").zipWithIndex.collect {
        case (c, b) if on(b) => longRange(c) }.flatten.toMap,
      strRanges = Seq("s", "k").zipWithIndex.collect {
        case (c, b) if on(3 + b) => strRange(c) }.flatten.toMap,
      // a complete dictionary excludes nulls: an all-null column's set is empty
      valueSets = if (on(5)) Map("s" -> rows.flatMap(_.s).distinct.sorted) else Map.empty)
  }

  private val layoutGen: Gen[Layout] = for {
    partBy <- Gen.someOf("g", "k").map(_.toSeq.sorted)
    monos <- Gen.someOf(Transform.hour("ts_us"), Transform.day("ts_us"))
    vb <- Gen.option(Gen.oneOf(Transform.bucket(4, "v"), Transform.mbucket(4, "v")))
    sb <- Gen.option(Gen.const(Transform.mbucket(4, "s")))
    segCap <- Gen.oneOf(None, Some(2), Some(3))
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, rowGen)
    hidden = monos.toSeq.sortBy(_.kind) ++ vb ++ sb
    // a writer splits rows by their full directory key: one file per key
    groups = rows.groupBy { r =>
      partBy.map(c => c -> (if (c == "k") r.k else r.g.map(_.toString))
        .fold(NullDir)(identity)).toMap ++
        hidden.map(t => t.colName -> r.dirKey(t))
    }.toSeq.sortBy(_._2.size)
    flags <- Gen.listOfN(groups.size, fileFlagsGen)
  } yield Layout(partBy, hidden, segCap, groups.zip(flags).zipWithIndex.map {
    case (((keys, rs), fl), i) => (fileOf(i, rs, keys, fl), rs)
  })

  /** Column names in mixed case now and then: Spark resolves columns
    * case-insensitively, so pruning must too. */
  private def colGen(cs: String*): Gen[String] =
    Gen.oneOf(cs).flatMap(c => Gen.frequency(4 -> c, 1 -> c.toUpperCase))

  private val longVal: Gen[Long] = Gen.frequency(
    6 -> tsGen, 4 -> Gen.choose(-1L, 16L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))
  private val strVal: Gen[String] = Gen.oneOf(strs ++ Seq("", "b0", "f", "x", "y", "z", "zz"))

  private val queryGen: Gen[Q] = Gen.oneOf[Q](
    for (c <- colGen("ts_us", "v", "g"); a <- longVal; b <- longVal)
      yield RangeQ(c, math.min(a, b), math.max(a, b)),
    for (c <- colGen("ts_us", "v", "g"); a <- longVal) yield PointQ(c, a),
    for (c <- colGen("v", "s", "ts_us"); ids <- Gen.someOf(0L to 4L))
      yield BucketsQ(c, ids.toSet),
    for (c <- colGen("s", "k"); a <- strVal; b <- strVal)
      yield RangeStrQ(c, if (a <= b) a else b, if (a <= b) b else a),
    for (c <- colGen("s", "k"); a <- strVal) yield PointStrQ(c, a))

  // ------------------------------------------------------------- property

  private lazy val base = Files.createTempDirectory("graft-typed-prune-")
  private val cases = new java.util.concurrent.atomic.AtomicInteger()

  /** Commits the layout's files as manifest entries (no data is ever
    * read) into an in-memory store, in chunks so segmented layouts
    * carry several segments. */
  private def tableOf(l: Layout): LogTable = {
    val root = base.resolve(s"t${cases.incrementAndGet()}").toString
    val t = LogTable(spark, root, partitionBy = l.partBy, hiddenBy = l.hidden,
      io = new GraftFileIO.InMemory)
    l.segCap.foreach(c => spark.conf.set("graft.manifest.segment.files", c.toString))
    try l.files.map(_._1).grouped(3).foreach(t.commitSynthetic)
    finally spark.conf.unset("graft.manifest.segment.files")
    t
  }

  test("property: typed-read file selection keeps every file with a matching row and never more than the legacy per-method rules") {
    val prop = forAll(layoutGen, Gen.listOfN(12, queryGen)) { (l, qs) =>
      val t = tableOf(l)
      val rowsOf = l.files.map { case (f, rs) => f.path -> rs }.toMap
      val all = t.snapshot().files
      val failures = qs.flatMap { q =>
        val kept = api(t, q).map(_.path).toSet
        val missed = rowsOf.collect {
          case (p, rs) if rs.exists(matches(_, l.hidden, q)) && !kept(p) => p }
        val extra = Try(Legacy(all, l.hidden, q)).toOption
          .map(leg => kept -- leg.map(_.path)).getOrElse(Set.empty)
        (if (missed.nonEmpty) Seq(s"$q dropped matching files $missed") else Nil) ++
          (if (extra.nonEmpty) Seq(s"$q kept $extra the legacy rule refutes") else Nil)
      }
      Prop(failures.isEmpty) :| failures.mkString("; ")
    }
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(r.passed, r.status.toString)
  }
}

private object TypedReadPruneSpec {
  private val NullDir = "__HIVE_DEFAULT_PARTITION__"

  /** One row; None is SQL NULL. Long columns `ts_us`, `v`, `g`;
    * string columns `s`, `k`. */
  private final case class Row(ts: Option[Long], v: Option[Long],
      g: Option[Long], s: Option[String], k: Option[String]) {
    def long(c: String): Option[Long] = c.toLowerCase match {
      case "ts_us" => ts
      case "v" => v
      case "g" => g
    }
    def str(c: String): Option[String] = c.toLowerCase match {
      case "s" => s
      case "k" => k
    }
    /** The directory value a writer derives for `t` from this row. */
    def dirKey(t: Transform): String = {
      val d = if (t.source == "s") s.map(t.deriveStr) else long(t.source).map(t.derive)
      d.fold(NullDir)(_.toString)
    }
  }

  private sealed trait Q
  private final case class RangeQ(c: String, lo: Long, hi: Long) extends Q
  private final case class PointQ(c: String, v: Long) extends Q
  private final case class BucketsQ(c: String, ids: Set[Long]) extends Q
  private final case class RangeStrQ(c: String, lo: String, hi: String) extends Q
  private final case class PointStrQ(c: String, v: String) extends Q

  private final case class Layout(partBy: Seq[String], hidden: Seq[Transform],
      segCap: Option[Int], files: Seq[(DataFile, Seq[Row])])
}
