package graft.sources.bench

import org.apache.spark.sql.Row

import scala.collection.mutable

/** What the generator has handed to the system, kept as it goes: rows
  * per node, counts per op name, errors per (name, status), and the 20
  * newest rows. Historical windows are answered from [[Gen.History]]
  * itself (its times are monotone in the row index). Thread-safe. */
final class Tally {
  private val nodeRows = new Array[Long](Gen.Nodes)
  private val names = mutable.Map.empty[String, Long]
  private val errs = mutable.Map.empty[(String, Int), Long]
  private val newest = mutable.TreeMap.empty[(Long, String), Gen.LogRow]

  def add(rows: Iterable[Gen.LogRow]): Unit = synchronized {
    rows.foreach { r =>
      nodeRows(r.node.stripPrefix("node-").toInt) += 1
      names(r.name) = names.getOrElse(r.name, 0L) + 1
      if (r.isError) errs((r.name, r.status)) = errs.getOrElse((r.name, r.status), 0L) + 1
      newest((r.time, r.requestId)) = r
      if (newest.size > 20) newest -= newest.firstKey
    }
  }
  def rows: Long = synchronized(nodeRows.sum)
  def byName: Map[String, Long] = synchronized(names.toMap)
  def errors: Map[(String, Int), Long] = synchronized(errs.toMap)
  /** The 20 newest rows, newest first. */
  def recent: Seq[Gen.LogRow] = synchronized(newest.values.toSeq.reverse)
}

/** The README's five catalog queries as literal SQL, and the exact
  * checks of their answers against the generator's tallies. */
object Catalog {
  val Table = "graft.logs.api"
  val Types: Seq[String] = Seq("count", "recent", "by_name", "time_range", "errors")

  /** A seeded time window inside the history: 1 to 12 hours starting
    * anywhere but the last day. */
  final case class Window(lo: Long, hi: Long)
  def window(rnd: java.util.SplittableRandom, days: Int): Window = {
    val lo = Gen.HistBaseUs + rnd.nextLong((days - 1) * Gen.DayUs)
    Window(lo, lo + (1 + rnd.nextInt(12)) * 3600000000L)
  }

  def sql(t: String, w: Window): String = t match {
    case "count" => s"SELECT COUNT(*) AS n FROM $Table"
    case "recent" =>
      s"SELECT time, name, bucket, object, httpStatusCode FROM $Table " +
        "ORDER BY time DESC LIMIT 20"
    case "by_name" =>
      s"SELECT name, COUNT(*) AS cnt FROM $Table GROUP BY name ORDER BY cnt DESC"
    case "time_range" =>
      s"SELECT * FROM $Table WHERE time >= ${w.lo} AND time < ${w.hi} " +
        "ORDER BY time LIMIT 100"
    case "errors" =>
      s"SELECT name, httpStatusCode, COUNT(*) AS cnt FROM $Table " +
        "WHERE httpStatusCode >= 400 GROUP BY name, httpStatusCode ORDER BY cnt DESC"
  }

  private def descending(counts: Seq[Long]): Boolean =
    counts.zip(counts.drop(1)).forall { case (a, b) => a >= b }

  /** First index of the history whose time is >= `t`. */
  private def firstAtOrAfter(h: Gen.History, t: Long): Int = {
    var lo = 0
    var hi = h.rows
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (h.time(mid) < t) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Exact check of an answer over a table that holds exactly the
    * history. None = correct; Some(reason) otherwise. */
  def checkExact(t: String, w: Window, ans: Array[Row], h: Gen.History,
      tally: Tally): Option[String] = {
    def fail(msg: String) = Some(s"$t: $msg")
    t match {
      case "count" =>
        val n = ans.head.getLong(0)
        if (n != h.rows) fail(s"count $n, expected ${h.rows}") else None
      case "recent" =>
        val want = tally.recent.map(r => (r.time, r.name, r.bucket, r.obj, r.status))
        val got = ans.toSeq.map(r =>
          (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
        if (got != want) fail(s"recent rows differ: ${got.take(2)} vs ${want.take(2)}")
        else None
      case "by_name" => checkGroups(t, ans, tally.byName.map { case (k, v) => (k, v) },
        r => r.getString(0), r => r.getLong(1))
      case "errors" => checkGroups(t, ans,
        tally.errors.map { case ((n, s), v) => (s"$n/$s", v) },
        r => s"${r.getString(0)}/${r.getInt(1)}", r => r.getLong(2))
      case "time_range" =>
        val a = firstAtOrAfter(h, w.lo)
        val b = math.min(firstAtOrAfter(h, w.hi), a + 100)
        val want = (a until b).map(i => { val r = h.at(i); (r.time, r.requestId, r.name, r.status) })
        val got = ans.toSeq.map(r => (r.getAs[Long]("time"), r.getAs[String]("requestId"),
          r.getAs[String]("name"), r.getAs[Int]("httpStatusCode")))
        if (got != want) fail(s"${got.size} rows, expected ${want.size}; " +
          s"first ${got.headOption} vs ${want.headOption}")
        else None
    }
  }

  private def checkGroups(t: String, ans: Array[Row], want: Map[String, Long],
      key: Row => String, cnt: Row => Long): Option[String] = {
    val got = ans.toSeq.map(r => key(r) -> cnt(r))
    if (!descending(got.map(_._2))) Some(s"$t: not ordered by count")
    else if (got.toMap != want || got.size != want.size)
      Some(s"$t: groups ${got.toMap} differ from ${want}")
    else None
  }

  /** Check of an answer over a table that holds the history plus live
    * rows committed so far (`mixed`): every live row is newer than the
    * history, so time ranges stay exact; counts are bounded by the
    * history below and by the rows flushed above. `lastCount` is the
    * reader's previous count answer: counts never decrease. */
  def checkLive(t: String, w: Window, ans: Array[Row], h: Gen.History,
      hist: Tally, flushed: Long, lastCount: Long, nowUs: Long): Option[String] = {
    def fail(msg: String) = Some(s"$t: $msg")
    t match {
      case "count" =>
        val n = ans.head.getLong(0)
        if (n < lastCount) fail(s"count went back from $lastCount to $n")
        else if (n < h.rows || n > h.rows + flushed)
          fail(s"count $n outside [${h.rows}, ${h.rows + flushed}]")
        else None
      case "recent" =>
        val times = ans.toSeq.map(_.getLong(0))
        if (times.size != 20) fail(s"${times.size} rows")
        else if (!times.zip(times.drop(1)).forall { case (a, b) => a >= b })
          fail("not newest first")
        else if (times.head > nowUs) fail("a row from the future")
        else if (times.last < hist.recent.last.time) fail("older than the history's newest")
        else None
      case "by_name" => checkAtLeast(t, ans, hist.byName, r => r.getString(0), r => r.getLong(1))
      case "errors" => checkAtLeast(t, ans,
        hist.errors.map { case ((n, s), v) => (s"$n/$s", v) },
        r => s"${r.getString(0)}/${r.getInt(1)}", r => r.getLong(2))
      case "time_range" => checkExact(t, w, ans, h, hist)
    }
  }

  private def checkAtLeast(t: String, ans: Array[Row], floor: Map[String, Long],
      key: Row => String, cnt: Row => Long): Option[String] = {
    val got = ans.toSeq.map(r => key(r) -> cnt(r))
    val m = got.toMap
    if (!descending(got.map(_._2))) Some(s"$t: not ordered by count")
    else floor.collectFirst {
      case (k, v) if m.getOrElse(k, 0L) < v => s"$t: group $k has ${m.getOrElse(k, 0L)} < $v"
    }
  }
}
