package graft.sources.bench

import graft.sources.{LogTable, MarkerCommit, Transform}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

/** One benchmark run: set-up, the timed window, the final checks and
  * the metrics. A traced run times three windows — untraced, traced,
  * untraced — and reports the traced one's per-layer figures and its
  * difference from the mean of the two around it as the tracing
  * overhead (the bracket cancels warm-up and table growth). Every call into graft is one a deployment
  * makes — `MarkerCommit.flush`/`runOnce`, `spark.sql` against the
  * `GraftCatalog` table, `LogTable.compact`, `snapshot` and
  * `appendedFilesBetween` — timed from outside. */
final class Bench(spark: SparkSession, a: Main.Args, p: Params, jvmStartMs: Long) {
  import Bench._

  private val tracer = new Tracer(spark.sparkContext)
  private val cio = new CountingIO(tracer)
  private val root = Paths.get(spark.conf.get("spark.sql.catalog.graft.warehouse"))
    .resolve("logs").resolve("api").toString
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attempted = new AtomicLong
  private def fail(msg: String): Unit = { failures.add(msg); () }

  private val hist: Gen.History =
    if (a.workload == "ingest") null else new Gen.History(a.seed, p.int("hist_rows"), p.int("hist_days"))
  private val histTally = new Tally
  private val histRows: Long = if (hist == null) 0L else hist.rows
  // per set-up: the live rows acknowledged so far and the next request
  // number of each node
  private var live = new Tally
  private var nodeSeq: Array[AtomicLong] = _
  private val flushStarted = new AtomicLong
  private var table: LogTable = _
  // the reader's query order and windows: re-seeded per phase, so the
  // traced window issues the same queries on every run of a seed
  private var rnd: SplittableRandom = _
  private def reseed(phase: Int): Unit = rnd = new SplittableRandom(a.seed * 31 + phase)

  // ------------------------------------------------------------ set-up

  private def freshTable(): Unit = {
    Main.deleteTree(Paths.get(root))
    live = new Tally
    nodeSeq = Array.fill(Gen.Nodes)(new AtomicLong(if (hist == null) 0L else hist.perNode))
    flushStarted.set(0L)
    table = LogTable(spark, root, hiddenBy = Seq(Transform.day("time")), io = cio)
    table.declareSchema(Gen.schema)
  }

  private def frame(rows: Seq[Gen.LogRow]): DataFrame =
    spark.createDataFrame(rows.map(_.toRow).asJava, Gen.schema)

  /** The `catalog` table, left uncompacted: every node flushes its
    * history as one buffer (from `FlushThreads` threads), which lands
    * one file per day; then leader rounds commit `HistRoundFiles`
    * markers each until none is pending. The same seed gives the same
    * rows, files and versions. */
  private def buildHistory(): Unit = {
    val pool = Executors.newFixedThreadPool(FlushThreads)
    try {
      (0 until Gen.Nodes).map { n =>
        pool.submit(() => MarkerCommit.flush(table, frame(hist.buffer(n))))
      }.foreach(_.get)
    } finally pool.shutdown()
    while (MarkerCommit.runOnce(spark, root, cio, maxMarkers = HistRoundFiles) match {
      case MarkerCommit.Led(n, _, 0, _) => n > 0
      case other => fail(s"history build: leader round gave $other"); false
    }) ()
  }

  private def warmWrites(): Unit = {
    val w = new Win(0L, 0L, table.currentVersion)
    (0 until p.int("warm_flushes")).foreach(i => closedFlush(w, i % Gen.Nodes, p.int("ingest_flush_rows")))
    MarkerCommit.runUntilDrained(spark, root, cio)
  }

  private def warmReads(): Unit = {
    reseed(0)
    val w = new Win(0L, 0L, table.currentVersion)
    Catalog.Types.foreach(t => query(w, t, Catalog.window(rnd, hist.days)))
  }

  /** One set-up from an empty warehouse; returns its seconds. */
  private def setupOnce(): Double = {
    val s = System.nanoTime()
    freshTable()
    if (hist != null) buildHistory()
    if (a.workload != "catalog") warmWrites()
    if (a.workload != "ingest") warmReads()
    (System.nanoTime() - s) / 1e9
  }

  // --------------------------------------------------------- operations

  /** A closed-loop flush of `n` fresh rows for `node`, stamped now. */
  private def closedFlush(w: Win, node: Int, n: Int): Unit = {
    val s0 = nodeSeq(node).getAndAdd(n)
    val now = nowUs()
    flush(w, (0 until n).map(k => Gen.row(a.seed, node, s0 + k, now + k)))
  }

  private def flush(w: Win, rows: Seq[Gen.LogRow]): Unit = {
    val df = frame(rows)
    val op = tracer.newOp()
    attempted.incrementAndGet()
    flushStarted.addAndGet(rows.size)
    val s = System.nanoTime()
    try {
      val paths = tracer.span("flush", op)(MarkerCommit.flush(table, df))
      val e = System.nanoTime()
      live.add(rows)
      w.flushes.add(FlushRec(s, e, rows.size, paths, ok = true))
    } catch {
      case ex: Exception =>
        fail(s"flush: $ex")
        w.flushes.add(FlushRec(s, System.nanoTime(), rows.size, Nil, ok = false))
    }
  }

  /** The leader: `runOnce(maxMarkers = 0)`, rounds starting at most
    * every `everyNs` (0 = back to back). After `stop` it keeps going,
    * back to back, until a round that started after `stop` finds
    * nothing pending. */
  private def commitLoop(w: Win, stop: AtomicBoolean, everyNs: Long): Unit = {
    var done = false
    var failStreak = 0
    var last = System.nanoTime()
    while (!done) {
      if (!stop.get) sleepUntil(last + everyNs)
      val stopping = stop.get
      val op = tracer.newOp()
      attempted.incrementAndGet()
      val s = System.nanoTime()
      last = s
      try {
        tracer.span("leader_round", op)(MarkerCommit.runOnce(spark, root, cio, maxMarkers = 0)) match {
          case MarkerCommit.Led(c, cleaned, skipped, _) =>
            w.rounds.add(RoundRec(s, System.nanoTime(), c, cleaned + skipped, skipped,
              notLeader = false, ok = true))
            done = stopping && cleaned == 0 && skipped == 0
          case MarkerCommit.NotLeader =>
            w.rounds.add(RoundRec(s, System.nanoTime(), 0, 0, 0, notLeader = true, ok = true))
        }
        failStreak = 0
      } catch {
        case ex: Exception =>
          fail(s"leader round: $ex")
          w.rounds.add(RoundRec(s, System.nanoTime(), 0, 0, 0, notLeader = false, ok = false))
          failStreak += 1
          done = stopping && failStreak >= 3
      }
    }
  }

  /** One catalog query through `spark.sql`, checked. Traced: a `query`
    * span holding `sql_plan` (the DataFrame and its QueryExecution
    * phases) and `sql_exec` (the collect). */
  private def query(w: Win, t: String, win: Catalog.Window): Unit = {
    val text = Catalog.sql(t, win)
    val op = tracer.newOp()
    attempted.incrementAndGet()
    val s = System.nanoTime()
    try {
      val (ans, phases) =
        if (!tracer.on) (spark.sql(text).collect(), Map.empty[String, Double])
        else tracer.span("query", op) {
          val df = tracer.span("sql_plan", op) {
            val d = spark.sql(text)
            d.queryExecution.executedPlan
            d
          }
          val r = tracer.span("sql_exec", op)(df.collect())
          (r, df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })
        }
      val e = System.nanoTime()
      val doneUs = nowUs()
      val err =
        if (a.workload == "catalog") Catalog.checkExact(t, win, ans, hist, histTally)
        else Catalog.checkLive(t, win, ans, hist, histTally, flushStarted.get,
          w.lastCount, doneUs)
      err.foreach(fail)
      if (t == "count" && err.isEmpty) w.lastCount = ans.head.getLong(0)
      val fresh =
        if (t == "recent" && a.workload == "mixed" && ans.nonEmpty)
          (doneUs - ans.head.getLong(0)) / 1000.0
        else Double.NaN
      w.queries.add(QueryRec(op, t, s, e, err.isEmpty, fresh, ans.length, phases))
    } catch {
      case ex: Exception =>
        fail(s"$t query: $ex")
        w.queries.add(QueryRec(op, t, s, System.nanoTime(), ok = false, Double.NaN, 0, Map.empty))
    }
  }

  private def readerLoop(w: Win, deadline: Long): Unit = {
    var cycle = List.empty[String]
    while (System.nanoTime() < deadline) {
      if (cycle.isEmpty) cycle = shuffled(Catalog.Types, rnd)
      query(w, cycle.head, Catalog.window(rnd, hist.days))
      cycle = cycle.tail
      if (cycle.isEmpty) w.cycles += 1
    }
  }

  /** `compact(where = today's partition)`; records what it rewrote. */
  private def compact(w: Win): Unit = {
    val op = tracer.newOp()
    attempted.incrementAndGet()
    val today = (nowUs() / Gen.DayUs).toString
    val before = table.currentVersion
    val s = System.nanoTime()
    try {
      val after = tracer.span("compact", op)(
        table.compact(where = Some(_.get(DayKey).contains(today))))
      val e = System.nanoTime()
      val (in, out, bytes) =
        if (after.version <= before || after.operation != "compact") (0, 0, 0L)
        else {
          val prev = table.snapshot(after.parent).files.map(_.path).toSet
          val now = after.files
          val added = now.filterNot(f => prev.contains(f.path))
          (prev.size - (now.size - added.size), added.size, added.map(_.bytes).sum)
        }
      w.compacts.add(CompactRec(s, e, in, out, bytes, ok = true))
    } catch {
      case ex: Exception =>
        fail(s"compact: $ex")
        w.compacts.add(CompactRec(s, System.nanoTime(), 0, 0, 0L, ok = false))
    }
  }

  // ------------------------------------------------------------ windows

  private def window(seconds: Int, phase: Int): Win = {
    reseed(phase)
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    val w = new Win(start, deadline, table.currentVersion)
    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val stop = new AtomicBoolean(false)
    a.workload match {
      case "ingest" =>
        val next = new AtomicLong
        val c = p.int("ingest_flush_rows")
        val flushers = (0 until FlushThreads).map(_ => spawn {
          while (System.nanoTime() < deadline)
            closedFlush(w, (next.getAndIncrement() % Gen.Nodes).toInt, c)
        })
        val committer = spawn(commitLoop(w, stop, 0L))
        flushers.foreach(_.join())
        stop.set(true)
        committer.join()
      case "catalog" =>
        readerLoop(w, deadline)
      case "mixed" =>
        val threads = Seq(
          spawn(openLoop(w, deadline)),
          spawn(readerLoop(w, deadline)),
          spawn {
            val period = (p.dbl("compact_every_s") * 1e9).toLong
            var due = start + period
            while (due < deadline) {
              sleepUntil(due)
              compact(w)
              due += period
            }
          })
        val committer = spawn(commitLoop(w, stop, MixedCommitEveryMs * 1000000L))
        threads.foreach(_.join())
        stop.set(true)
        committer.join()
    }
    w.vEnd = table.currentVersion
    w.gcMs = gcMs() - gc0
    w.heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    w
  }

  /** The `mixed` flusher: an open loop over the four nodes at
    * `mixed_rows_per_s`. Row k goes to node k % 4, is due at start +
    * k / rate and carries its due wall-clock time. A node's buffer
    * flushes at `mixed_flush_rows` rows; the nodes' first buffers are
    * a quarter, half, three quarters and all of that, so flushes come
    * evenly spaced. How late each row was made is recorded; a
    * generator still behind at the deadline stops there.
    *
    * The loop flushes on its own thread, so rows due during a flush are
    * made when it returns. Once flushes take longer than the flush
    * period (`mixed_flush_rows / mixed_rows_per_s`) it falls behind for
    * good, and the run is invalid: a p90 lateness above one period, or
    * more than one buffer's rows due before the deadline and never
    * made, fails the run. */
  private def openLoop(w: Win, deadline: Long): Unit = {
    val rate = p.dbl("mixed_rows_per_s")
    val c = p.int("mixed_flush_rows")
    val periodMs = c / rate * 1000
    val bufs = Array.fill(Gen.Nodes)(Vector.newBuilder[Gen.LogRow])
    val sizes = new Array[Int](Gen.Nodes)
    val limits = Array.tabulate(Gen.Nodes)(n => c * (n + 1) / Gen.Nodes)
    val baseUs = nowUs()
    var k = 0L
    var due = w.start
    while (due < deadline && System.nanoTime() < deadline) {
      sleepUntil(due)
      w.lateMs.add((System.nanoTime() - due) / 1e6)
      val node = (k % Gen.Nodes).toInt
      bufs(node) += Gen.row(a.seed, node, nodeSeq(node).getAndIncrement(),
        baseUs + (due - w.start) / 1000L)
      sizes(node) += 1
      if (sizes(node) == limits(node)) {
        flush(w, bufs(node).result())
        bufs(node).clear()
        sizes(node) = 0
        limits(node) = c
      }
      k += 1
      due = w.start + (k * 1e9 / rate).toLong
    }
    val missed = math.ceil((deadline - w.start) / 1e9 * rate).toLong - k
    val lateP90 = pct(w.lateMs.asScala.toSeq.map(_.doubleValue), 90)
    System.err.println(f"perfbench: generator late p90 $lateP90%.1f ms, $missed rows never made")
    attempted.incrementAndGet()
    if (lateP90 > periodMs || missed > c)
      fail(f"generator fell behind: late p90 $lateP90%.1f ms (limit $periodMs%.0f ms), " +
        s"$missed rows due before the deadline never made (limit $c)")
  }

  // -------------------------------------------------------------- checks

  /** After `ingest`/`mixed`: drain, then committed rows = acknowledged
    * rows, every request id once, and per-name counts = the tallies. */
  private def finalChecks(): Unit = {
    MarkerCommit.runUntilDrained(spark, root, cio)
    val want = histRows + live.rows
    attempted.addAndGet(3)
    val r = spark.sql(s"SELECT COUNT(*), COUNT(DISTINCT requestId) FROM ${Catalog.Table}").head
    if (r.getLong(0) != want) fail(s"committed ${r.getLong(0)} rows, acknowledged $want")
    if (r.getLong(1) != r.getLong(0)) fail(s"${r.getLong(0)} rows but ${r.getLong(1)} request ids")
    val got = spark.sql(s"SELECT name, COUNT(*) FROM ${Catalog.Table} GROUP BY name")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val names = histTally.byName.keySet ++ live.byName.keySet
    val exp = names.map(n => n -> (histTally.byName.getOrElse(n, 0L) + live.byName.getOrElse(n, 0L))).toMap
    if (got != exp) fail(s"per-name counts $got, tallies $exp")
  }

  /** Match every commit of the window to its leader round: the k-th
    * round that committed files made the k-th append version after the
    * window began (the committer is the only appender). Returns, per
    * committed path, its file and its round's end. */
  private def commits(w: Win): Map[String, (graft.sources.DataFile, Long)] = {
    val appends = ((w.vStart + 1) to w.vEnd)
      .filter(v => table.snapshot(v).operation == "append")
    val rounds = w.rounds.asScala.toSeq.filter(r => r.ok && r.committed > 0).sortBy(_.start)
    if (appends.size != rounds.size)
      fail(s"${appends.size} append versions for ${rounds.size} committing rounds")
    appends.zip(rounds).flatMap { case (v, r) =>
      val files = table.appendedFilesBetween(v - 1, v)
      if (files.size != r.committed)
        fail(s"v$v holds ${files.size} new files, its round committed ${r.committed}")
      files.map(f => f.path -> (f, r.end))
    }.toMap
  }

  // ------------------------------------------------------------- metrics

  /** The user-facing figures of one window: the pipeline's metrics by
    * name, plus the workload's `latency_*` pair (commit lag on
    * `ingest`, query latency on `catalog` and `mixed`) and its
    * `throughput_per_s` (rows made visible per second on `ingest` and
    * `mixed`, catalog queries answered per second on `catalog`). */
  private def userMetrics(w: Win): Map[String, Double] = {
    val secs = (w.deadline - w.start) / 1e9
    val queries = w.queries.asScala.toSeq.filter(_.ok)
    // latency percentiles over complete rounds only: every query type
    // then has the same weight, so a partial last round cannot shift
    // the percentiles from one type's latencies to another's
    val inRounds = w.queries.asScala.toSeq.sortBy(_.start)
      .take(Catalog.Types.size * w.cycles).filter(_.ok)
    val qMs = inRounds.map(_.ms)
    val fresh = queries.map(_.freshMs).filterNot(_.isNaN)
    val (lags, rowsPerS) =
      if (a.workload == "catalog") (Seq.empty[Double], 0.0)
      else {
        val c = commits(w)
        val lags = w.flushes.asScala.toSeq.filter(_.ok).flatMap { f =>
          val ends = f.paths.map(c.get)
          if (ends.contains(None)) { fail(s"flushed files ${f.paths} never committed"); None }
          else Some((ends.flatten.map(_._2).max - f.end) / 1e6)
        }
        w.stagedBytes = w.flushes.asScala.toSeq.flatMap(_.paths).flatMap(c.get).map(_._1.bytes).sum
        // rows/s between the first and the last commit that ended inside
        // the window: a count of whole flushes over the window would move
        // in steps of one flush
        val byEnd = c.values.filter(_._2 <= w.deadline).groupMap(_._2)(_._1.rows)
          .view.mapValues(_.sum).toSeq.sortBy(_._1)
        val rate =
          if (byEnd.size < 2) 0.0
          else byEnd.tail.map(_._2).sum / ((byEnd.last._1 - byEnd.head._1) / 1e9)
        (lags, rate)
      }
    val lat = if (a.workload == "ingest") lags else qMs
    // the typical latency: each query type's median, averaged over the
    // types. A pooled median of five types with separate latency bands
    // lands between two bands and jumps from run to run.
    val typical =
      if (a.workload == "ingest") pct(lags, 50)
      else {
        val meds = inRounds.groupBy(_.t).values.map(q => pct(q.map(_.ms), 50))
        if (meds.isEmpty) 0.0 else meds.sum / meds.size
      }
    Map(
      "query_p50_ms" -> pct(qMs, 50), "query_p90_ms" -> pct(qMs, 90),
      "freshness_lag_p50_ms" -> pct(fresh, 50), "freshness_lag_p90_ms" -> pct(fresh, 90),
      "commit_lag_p50_ms" -> pct(lags, 50), "commit_lag_p90_ms" -> pct(lags, 90),
      "ingest_rows_per_s" -> rowsPerS,
      "latency_p50_ms" -> typical, "latency_p75_ms" -> pct(lat, 75),
      "latency_samples" -> lat.size.toDouble,
      "throughput_per_s" -> (if (a.workload == "catalog") queries.size / secs else rowsPerS))
  }

  private def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  private def tableOpenMs(): Double = {
    val ts = (1 to 5).map { _ =>
      val op = tracer.newOp()
      val s = System.nanoTime()
      tracer.span("table_open", op)(LogTable(spark, root).snapshot())
      (System.nanoTime() - s) / 1e6
    }
    pct(ts, 50)
  }

  /** The per-layer figures of the traced window. */
  private def layerMetrics(w: Win, user: Map[String, Double], untraced: Map[String, Double],
      attr: JobAttribution, controls: (Double, Double),
      openMs: Double): Seq[(String, Double, String)] = {
    val spans = tracer.spans.asScala.toSeq
    val self = Tracer.selfMs(spans)
    val byOp = spans.groupBy(_.op)
    val flushes = w.flushes.asScala.toSeq
    val okFlushes = flushes.filter(_.ok)
    val rounds = w.rounds.asScala.toSeq
    val useful = rounds.filter(_.committed > 0)
    val compacts = w.compacts.asScala.toSeq
    val queries = w.queries.asScala.toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOp(kind: String, call: String, n: Int) =
      if (n == 0) 0.0 else cio.count(kind, call).toDouble / n
    val flushRows = okFlushes.map(_.rows).sum
    val snap = table.snapshot()
    val out = Seq.newBuilder[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = { out += ((n, v, u)); () }

    put("failed_ops_ratio", failures.size.toDouble / math.max(1L, attempted.get), "ratio")
    put("latency.samples", user("latency_samples"), "count")
    Seq("ingest_rows_per_s" -> "rows/s", "commit_lag_p50_ms" -> "ms", "commit_lag_p90_ms" -> "ms",
      "freshness_lag_p50_ms" -> "ms", "freshness_lag_p90_ms" -> "ms",
      "query_p50_ms" -> "ms", "query_p90_ms" -> "ms").foreach { case (n, u) =>
      put(n, user.getOrElse(n, 0.0), u)
    }
    Seq("latency_p50_ms" -> "ms", "latency_p75_ms" -> "ms", "throughput_per_s" -> "1/s")
      .foreach { case (n, u) => put(s"overhead.$n", user(n) - untraced(n), u) }

    put("flush.calls", flushes.size, "count")
    put("flush.busy_s", flushes.map(_.ms).sum / 1000, "s")
    put("flush.p50_ms", pct(okFlushes.map(_.ms), 50), "ms")
    put("flush.p90_ms", pct(okFlushes.map(_.ms), 90), "ms")
    put("flush.files_per_call", mean(okFlushes.map(_.paths.size.toDouble)), "count")
    put("flush.staged_bytes_per_row", if (flushRows == 0) 0.0 else w.stagedBytes.toDouble / flushRows, "B/row")
    put("flush.failed", flushes.count(!_.ok), "count")

    put("commit.rounds", rounds.size, "count")
    put("commit.not_leader", rounds.count(_.notLeader), "count")
    put("commit.useful_ratio", if (rounds.isEmpty) 0.0 else useful.size.toDouble / rounds.size, "ratio")
    put("commit.busy_s", rounds.map(_.ms).sum / 1000, "s")
    put("commit.round_p50_ms", pct(rounds.map(_.ms), 50), "ms")
    put("commit.round_p90_ms", pct(rounds.map(_.ms), 90), "ms")
    put("commit.files_per_round", mean(useful.map(_.committed.toDouble)), "count")
    put("commit.skipped", rounds.map(_.skipped).sum, "count")
    put("commit.failed", rounds.count(!_.ok), "count")
    put("backlog.pending_max", if (rounds.isEmpty) 0.0 else rounds.map(_.seen).max, "count")

    Seq("list", "read", "publish", "publish_lost", "delete").foreach { c =>
      put(s"fileio.round.$c", perOp("leader_round", c, rounds.size), "calls/op")
      put(s"fileio.flush.$c", perOp("flush", c, flushes.size), "calls/op")
    }

    val rootP = Paths.get(root)
    put("table.versions", table.versions.size, "count")
    put("table.live_files", snap.files.size, "count")
    put("table.manifest_bytes", dirBytes(rootP.resolve("_graft_log")), "B")
    put("table.data_bytes", dirBytes(rootP.resolve("data")), "B")
    put("table.open_ms", openMs, "ms")

    put("compact.calls", compacts.size, "count")
    put("compact.busy_s", compacts.map(_.ms).sum / 1000, "s")
    put("compact.p50_ms", pct(compacts.filter(_.ok).map(_.ms), 50), "ms")
    put("compact.files_in", compacts.map(_.filesIn).sum, "count")
    put("compact.files_out", compacts.map(_.filesOut).sum, "count")
    put("compact.bytes_rewritten", compacts.map(_.bytes).sum.toDouble, "B")
    put("compact.failed", compacts.count(!_.ok), "count")

    // job/stage/task/record counts come from the first two queries of
    // each type, which are the same queries on every run of a seed
    Catalog.Types.foreach { t =>
      val qs = queries.filter(q => q.t == t && q.ok).sortBy(_.start)
      def accs(of: Seq[QueryRec]) = of.map(q => byOp.getOrElse(q.op, Nil).map(s => attr.of(s.id)))
      def sumOf(f: attr.Acc => Long) = accs(qs).map(_.map(f).sum.toDouble)
      val first = qs.take(2)
      def firstMean(f: attr.Acc => Long) =
        accs(first).map(_.map(f).sum.toDouble).sum / math.max(1, first.size)
      val n = math.max(1, qs.size)
      def phase(k: String) = mean(qs.map(_.phases.getOrElse(k, 0.0)))
      put(s"q.$t.analysis_ms", phase("analysis"), "ms")
      put(s"q.$t.optimization_ms", phase("optimization"), "ms")
      put(s"q.$t.planning_ms", phase("planning"), "ms")
      put(s"q.$t.p50_ms", pct(qs.map(_.ms), 50), "ms")
      put(s"q.$t.jobs", firstMean(_.jobs), "count")
      put(s"q.$t.stages", firstMean(_.stages), "count")
      put(s"q.$t.tasks", firstMean(_.tasks), "count")
      put(s"q.$t.records_read_per_row_returned",
        accs(first).map(_.map(_.recordsRead).sum).sum.toDouble / math.max(1, first.map(_.rowsOut).sum),
        "ratio")
      put(s"q.$t.bytes_read", sumOf(_.bytesRead).sum / n, "B")
      put(s"q.$t.executor_run_ms", sumOf(_.runMs).sum / n, "ms")
      put(s"q.$t.shuffle_bytes", sumOf(_.shuffleBytes).sum / n, "B")
      put(s"q.$t.spill_bytes", sumOf(_.spillBytes).sum / n, "B")
    }

    put("gen.late_p90_ms", pct(w.lateMs.asScala.toSeq.map(_.doubleValue), 90), "ms")
    put("host.control_cpu_ms", controls._1, "ms")
    put("host.control_io_ms", controls._2, "ms")
    put("jvm.gc_ms", w.gcMs, "ms")
    put("jvm.heap_peak_mb", w.heapPeakMb, "MB")

    // layer self times per operation: the root's self time is the
    // part no layer span covers (the unattributed remainder), so the
    // self times of an operation's spans add up to its wall time
    val qOps = queries.filter(_.ok).flatMap(q => byOp.get(q.op))
    def qSelf(name: String) = mean(qOps.map(_.filter(_.name == name).map(s => self(s.id)).sum))
    put("trace.query.wall_ms", mean(qOps.map(_.filter(_.name == "query").map(_.ms).sum)), "ms")
    put("trace.query.sql_plan_self_ms", qSelf("sql_plan"), "ms")
    put("trace.query.sql_exec_self_ms", qSelf("sql_exec"), "ms")
    put("trace.query.unattributed_ms", qSelf("query"), "ms")
    put("trace.self_time_residual_ms", if (byOp.isEmpty) 0.0 else byOp.values.map { ss =>
      val roots = ss.filter(_.parent == 0L)
      math.abs(roots.map(_.ms).sum - ss.map(s => self(s.id)).sum)
    }.max, "ms")
    put("trace.unattributed_jobs", attr.unattributedJobs, "count")
    put("trace.spans", spans.size, "count")
    out.result()
  }

  // ----------------------------------------------------------------- run

  /** Progress on stderr, in seconds since the JVM started. */
  private def phase(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s")

  def run(): Outcome = {
    if (hist != null) histTally.add((0 until hist.rows).map(hist.at))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setups = (1 to p.int("setup_repeats")).map(_ => setupOnce())
    // several set-ups and their median, so one slow set-up cannot move
    // setup_s; the first is slower than the rest (JIT warm-up)
    val setupS = sessionS + pct(setups, 50)
    phase(f"set-up done (session $sessionS%.2f s, set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s)")

    val base = window(a.seconds, 1)
    phase("window done")
    if (a.workload != "catalog") finalChecks()
    val baseUser = userMetrics(base)
    phase("checks done")
    System.err.println("untraced: " + baseUser.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))

    val controls = (HostControls.cpuMs(), HostControls.ioMs(a.work.resolve("control")))
    phase(f"host controls: cpu ${controls._1}%.1f ms, io ${controls._2}%.1f ms;")
    val metrics =
      if (!a.trace) {
        val rootP = Paths.get(root)
        val bytes = dirBytes(rootP.resolve("data")) + dirBytes(rootP.resolve("_graft_log"))
        val liveRows = table.snapshot().liveRows
        Seq(
          ("setup_s", setupS, "s"),
          ("latency_p50_ms", baseUser("latency_p50_ms"), "ms"),
          ("latency_p75_ms", baseUser("latency_p75_ms"), "ms"),
          ("throughput_per_s", baseUser("throughput_per_s"), "1/s"),
          ("stored_bytes_per_row", bytes.toDouble / math.max(1L, liveRows), "B/row"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      } else {
        val attr = new JobAttribution
        spark.sparkContext.addSparkListener(attr)
        tracer.on = true
        cio.on = true
        val traced = window(a.seconds, 2)
        phase("traced window done")
        val openMs = tableOpenMs()
        tracer.on = false
        cio.on = false
        org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(attr)
        val after = window(a.seconds, 3)
        phase("last window done")
        if (a.workload != "catalog") finalChecks()
        val tracedUser = userMetrics(traced)
        val afterUser = userMetrics(after)
        val around = baseUser.map { case (k, v) => k -> (v + afterUser(k)) / 2 }
        val layers = layerMetrics(traced, tracedUser, around, attr, controls, openMs)
        Files.write(a.work.resolve("spans.jsonl"),
          tracer.spans.asScala.toSeq.sortBy(_.start).map(_.json).asJava)
        layers
      }
    Outcome(attempted.get, failures.asScala.toSeq, metrics)
  }
}

object Bench {
  /** Flusher threads of `ingest` and of the history build. */
  val FlushThreads = 2
  /** Markers each leader round commits while building the history. */
  val HistRoundFiles = 2
  /** The shortest time between two leader round starts on `mixed`. */
  val MixedCommitEveryMs = 100L
  /** The manifest key of the `day(time)` partition. */
  val DayKey: String = Transform.day("time").colName

  final case class FlushRec(start: Long, end: Long, rows: Int,
      paths: Seq[String], ok: Boolean) { def ms: Double = (end - start) / 1e6 }
  /** `seen` = markers the round listed (cleaned + skipped). */
  final case class RoundRec(start: Long, end: Long, committed: Int,
      seen: Int, skipped: Int, notLeader: Boolean, ok: Boolean) {
    def ms: Double = (end - start) / 1e6
  }
  final case class QueryRec(op: Long, t: String, start: Long, end: Long, ok: Boolean,
      freshMs: Double, rowsOut: Int, phases: Map[String, Double]) {
    def ms: Double = (end - start) / 1e6
  }
  final case class CompactRec(start: Long, end: Long, filesIn: Int,
      filesOut: Int, bytes: Long, ok: Boolean) { def ms: Double = (end - start) / 1e6 }

  /** Everything one timed window recorded. */
  final class Win(val start: Long, val deadline: Long, val vStart: Long) {
    val flushes = new ConcurrentLinkedQueue[FlushRec]()
    val rounds = new ConcurrentLinkedQueue[RoundRec]()
    val queries = new ConcurrentLinkedQueue[QueryRec]()
    val compacts = new ConcurrentLinkedQueue[CompactRec]()
    val lateMs = new ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var lastCount = 0L
    /** Complete rounds of the five catalog queries the reader made. */
    @volatile var cycles = 0
    var vEnd = 0L
    var gcMs = 0.0
    var heapPeakMb = 0.0
    var stagedBytes = 0L
  }

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def sleepUntil(t: Long): Unit = {
    var left = t - System.nanoTime()
    while (left > 0) { LockSupport.parkNanos(left); left = t - System.nanoTime() }
  }

  def spawn(body: => Unit): Thread = {
    val th = new Thread(() => body)
    th.start()
    th
  }

  def shuffled(xs: Seq[String], r: SplittableRandom): List[String] = {
    val b = xs.toArray
    (b.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
    }
    b.toList
  }

  /** Linear-interpolated percentile; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** `VmHWM` of this JVM, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
}
