package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** [[MarkerCommit]] — the reference's marker-based, leader-elected
  * commit loop as a decoupled component (reference README.md:104-118,
  * :196-212): flusher and committer are separate actors meeting only
  * at 0-byte index markers under `pending/`; a CAS lease elects the
  * leader; the referenced files commit ATOMICALLY and exactly once,
  * and markers are cleaned exactly once — including across a
  * committer crash between commit and cleanup, and across two
  * INDEPENDENT JVMs racing the committer role. */
class MarkerCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("flush stages invisibly; the leader commits atomically, cleans markers, and reconstructs entries from footers alone") {
    val root = tmp("marker_basic_")
    val t = LogTable(spark, root, hiddenBy = Seq(Transform.day("ts_us")))
    // layout + schema recorded so later root-only handles write it
    t.declareSchema(Seq(("s", 0L)).toDF("s", "ts_us").schema)

    val day = 86400000000L
    val staged = MarkerCommit.flush(t,
      (0 until 10).map(i => (s"a$i", (i % 3) * day + i)).toDF("s", "ts_us"))
    assert(staged.nonEmpty)
    // staged files are INVISIBLE (no manifest references them) and the
    // markers are 0-byte objects naming each file
    assert(t.read().count() === 0L)
    // MARKER-PENDING files are NOT orphans: a sweep while the leader
    // is down must never reclaim a durably-flushed batch
    val swept = t.removeOrphans(
      olderThanMs = System.currentTimeMillis() + 60000L)
    assert(staged.toSet.intersect(swept.toSet).isEmpty,
      "the orphan sweep must spare marker-pending files")
    staged.foreach(p => assert(Files.exists(Paths.get(p))))
    assert(MarkerCommit.pending(root).size === staged.size)
    MarkerCommit.pending(root).foreach { m =>
      val p = MarkerCommit.pendingDir(root).resolve(m)
      assert(Files.size(p) === 0L, "index markers are 0-byte")
    }
    // leader reconstruction from footers + hive paths produces
    // ENTRY-IDENTICAL metadata to what stageFlush recorded when it
    // wrote the files (stats, layout values, sizes — seq unstamped
    // on both sides until commit)
    val entries = t.stageFlush(Seq(("x1", 5L), ("x2", day + 7L)).toDF("s", "ts_us"))
    assert(t.adoptStaged(entries.map(_.path)).sortBy(_.path) ===
      entries.sortBy(_.path))
    entries.map(_.path).foreach(p => Files.deleteIfExists(Paths.get(p)))
    // commit round: everything lands in ONE snapshot, markers cleaned
    val out = MarkerCommit.runOnce(spark, root)
    out match {
      case MarkerCommit.Led(committed, cleaned, skipped, version) =>
        assert(committed === staged.size)
        assert(cleaned === staged.size)
        assert(skipped === 0)
        assert(version === 2L) // v1 declareSchema, v2 the marker commit
      case other => fail(s"expected Led, got $other")
    }
    assert(t.read().count() === 10L)
    assert(MarkerCommit.pending(root).isEmpty)
    val sn = LogTable(spark, root).snapshot()
    assert(sn.operation === "append")
    // the committed entries carry the reconstructed footer stats and
    // day-layout values — pruning works on marker-committed files
    assert(sn.files.forall(_.partitions.contains("_p_ts_us_day")))
    assert(staged.toSet.subsetOf(sn.files.map(_.path).toSet))
    val kept = t.filesInRange("ts_us", 0L, day - 1L)
    assert(kept.nonEmpty && kept.size < sn.files.size)
  }

  test("bootstrap schema carries field ids; a poison marker (externally deleted file) fails the drain loudly") {
    val root = tmp("marker_poison_")
    val t = LogTable(spark, root)
    // NO declareSchema: the leader's first commit bootstraps the
    // schema from a staged footer — and must stamp graft field ids
    // like every other schema-committing path (the Iceberg export's
    // same-field-same-id contract depends on it)
    MarkerCommit.flush(t, Seq(("a", 1L)).toDF("s", "v"))
    MarkerCommit.runOnce(spark, root)
    val schema = graft.sources.LogTable.parseSchema(
      LogTable(spark, root).snapshot().schemaJson)
    assert(schema.fields.forall(f => LogTable.fieldId(f).isDefined),
      "bootstrap schema must carry stamped field ids")
    assert(LogTable(spark, root).read().count() === 1L)

    // poison: a pending marker whose file was deleted OUTSIDE the
    // protocol — the drain must fail loudly (never auto-clean, never
    // spin), naming the pending prefix
    val staged = MarkerCommit.flush(t, Seq(("b", 2L)).toDF("s", "v"))
    staged.foreach(p => Files.delete(Paths.get(p)))
    val e = intercept[IllegalArgumentException](
      MarkerCommit.runUntilDrained(spark, root))
    assert(e.getMessage.contains("no longer exist"))
    assert(MarkerCommit.pending(root).nonEmpty, "poison markers are kept for inspection")
    // operator removes the stale markers; the loop drains clean again
    MarkerCommit.pending(root).foreach(m =>
      Files.deleteIfExists(MarkerCommit.pendingDir(root).resolve(m)))
    MarkerCommit.flush(t, Seq(("c", 3L)).toDF("s", "v"))
    MarkerCommit.runUntilDrained(spark, root)
    assert(LogTable(spark, root).read().count() === 2L)
  }

  test("lease: a live leader excludes others; an expired (crashed) lease is re-raced; commit-then-crash replays exactly once") {
    val root = tmp("marker_crash_")
    val t = LogTable(spark, root)
    MarkerCommit.flush(t, Seq(("a", 1L), ("b", 2L)).toDF("s", "v"))
    val nPending = MarkerCommit.pending(root).size

    // a committer that commits and CRASHES before cleanup + release
    val clock = new java.util.concurrent.atomic.AtomicLong(1000000L)
    val crashed = MarkerCommit.runOnce(spark, root, leaseMs = 5000L,
      nowMs = () => clock.get(), crashAfterCommit = true)
    assert(crashed.isInstanceOf[MarkerCommit.Led])
    assert(t.read().count() === 2L, "the crash happened AFTER the atomic commit")
    assert(MarkerCommit.pending(root).size === nPending,
      "markers survive the crash")

    // while the dead leader's lease is live, nobody else leads
    assert(MarkerCommit.runOnce(spark, root, leaseMs = 5000L,
      nowMs = () => clock.get()) === MarkerCommit.NotLeader)

    // an intervening COMPACT rewrites the committed files OUT of the
    // live list while they stay on disk — the replay check must look
    // at the whole retained lineage, or these would silently
    // RE-COMMIT as duplicates
    t.compact(smallBytes = Long.MaxValue)
    assert(t.read().count() === 2L)

    // after expiry the next leader wins the re-race, finds every
    // marker's file ALREADY COMMITTED (in the lineage, not the
    // current snapshot), commits nothing, cleans all
    clock.addAndGet(6000L)
    val v = LogTable(spark, root).currentVersion
    MarkerCommit.runOnce(spark, root, leaseMs = 5000L,
      nowMs = () => clock.get()) match {
      case MarkerCommit.Led(committed, cleaned, skipped, version) =>
        assert(committed === 0, "exactly-once: no re-commit")
        assert(cleaned === nPending, "markers cleaned exactly once")
        assert(skipped === 0)
        assert(version === v, "no new snapshot for a stale batch")
      case other => fail(s"expected Led, got $other")
    }
    assert(t.read().count() === 2L)
    assert(MarkerCommit.pending(root).isEmpty)

    // flusher crash BETWEEN file write and marker write = an orphan
    // pool file: never committed, reclaimed by the age-guarded sweep
    val orphan = t.stageFlush(Seq(("zz", 9L)).toDF("s", "v"))
    assert(t.read().count() === 2L)
    val reclaimed =
      t.removeOrphans(olderThanMs = System.currentTimeMillis() + 60000L)
    assert(orphan.map(_.path).toSet.subsetOf(reclaimed.toSet))
  }

  test("a flush that WIDENS the schema evolves the manifest at commit — the new column is readable, never silently dropped") {
    val root = tmp("marker_evo_")
    val t = LogTable(spark, root)
    t.declareSchema(Seq(("x", 0L)).toDF("s", "v").schema)
    MarkerCommit.flush(t, Seq(("a", 1L)).toDF("s", "v"))
    // second flush carries a NEW column: the staged parquet stores it,
    // and the leader's commit must evolve the schema (append
    // semantics) instead of keeping the old projection
    MarkerCommit.flush(t,
      Seq(("b", 2L, "extra")).toDF("s", "v", "note"))
    MarkerCommit.runUntilDrained(spark, root)
    val read = LogTable(spark, root).read()
    assert(read.columns.toSeq === Seq("s", "v", "note"))
    assert(read.count() === 2L)
    assert(read.filter(col("note") === "extra").count() === 1L,
      "the widened column's values must be readable after the commit")
    assert(read.filter(col("s") === "a").select("note").head().isNullAt(0),
      "pre-evolution rows null-fill")
    // the evolved schema carries stamped field ids (export contract)
    val schema = graft.sources.LogTable.parseSchema(
      LogTable(spark, root).snapshot().schemaJson)
    assert(schema.fields.forall(f => LogTable.fieldId(f).isDefined))
  }

  test("the continuous committer daemon drains flushes on its own cadence; close() stops it") {
    val root = tmp("marker_daemon_")
    val t = LogTable(spark, root)
    t.declareSchema(Seq(("x", 0L)).toDF("s", "v").schema)
    val committer = MarkerCommit.startCommitter(spark, root,
      intervalMs = 50L, leaseMs = 2000L)
    try {
      // flushes arrive over time; the daemon picks them up without any
      // explicit runOnce — the decoupling the reference's interval
      // loop provides
      MarkerCommit.flush(t, Seq(("a", 1L), ("b", 2L)).toDF("s", "v"))
      val deadline = System.currentTimeMillis() + 30000L
      while (MarkerCommit.pending(root).nonEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(25L)
      assert(MarkerCommit.pending(root).isEmpty, "first flush drained")
      MarkerCommit.flush(t, Seq(("c", 3L)).toDF("s", "v"))
      while (MarkerCommit.pending(root).nonEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(25L)
      assert(LogTable(spark, root).read().count() === 3L)
      assert(committer.lastError.isEmpty)
      assert(committer.committed >= 2L)
    } finally committer.close()
    // after close, a new flush stays pending (the daemon is gone)
    MarkerCommit.flush(t, Seq(("d", 4L)).toDF("s", "v"))
    Thread.sleep(200L)
    assert(MarkerCommit.pending(root).nonEmpty)
    MarkerCommit.runUntilDrained(spark, root)
    assert(LogTable(spark, root).read().count() === 4L)
  }

  test("the marker plane runs on S3 SEMANTICS: manifests + markers + lease through ObjectStoreEmu (flat keys, conditional PUT), data on the FS plane") {
    val root = tmp("marker_s3_")
    val store = new GraftFileIO.ObjectStoreEmu(
      Files.createTempDirectory("marker_s3_bucket_"))
    // ONE PLANE: the table's manifest store IS the marker store (the
    // reference keeps index markers beside the table in MinIO) —
    // maintenance (removeOrphans' marker exemption) sees pending state
    val t = LogTable(spark, root, io = store)
    // flush: parquet to the data plane, 0-byte markers as OBJECTS
    // under the pending/ key prefix (no directory ever created)
    val staged = MarkerCommit.flush(t,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("s", "v"))
    assert(MarkerCommit.pending(root, store).nonEmpty)
    assert(t.read().count() === 0L)
    // the sweep sees the pending markers through the SAME store
    val swept = t.removeOrphans(
      olderThanMs = System.currentTimeMillis() + 60000L)
    assert(staged.toSet.intersect(swept.toSet).isEmpty)
    // a racing second marker for the same file loses the conditional
    // PUT (publishAtomic false), which flush() treats as a collision
    val rel = java.nio.file.Paths.get(root).resolve("data")
      .toAbsolutePath.normalize.relativize(
        java.nio.file.Paths.get(staged.head).toAbsolutePath.normalize).toString
    assert(!store.publishAtomic(MarkerCommit.pendingDir(root)
      .resolve(MarkerCommit.markerName(rel)), ""),
      "markers are create-or-fail objects")
    // leader round over the object store: commit + cleanup + lease all
    // through conditional-PUT/prefix-list/delete-object calls only
    MarkerCommit.runOnce(spark, root, io = store) match {
      case MarkerCommit.Led(committed, cleaned, skipped, _) =>
        assert(committed === staged.size)
        assert(cleaned === staged.size)
        assert(skipped === 0)
      case other => fail(s"expected Led, got $other")
    }
    assert(LogTable(spark, root, io = store).read().count() === 3L)
    assert(MarkerCommit.pending(root, store).isEmpty)
  }

  test("cross-process: two flusher JVMs + two racing committer JVMs (one crashing mid-protocol) — every file commits exactly once, every marker cleans exactly once") {
    val root = tmp("marker_xproc_")
    // schema declared up front (the reference's fixed table shape)
    LogTable(spark, root).declareSchema(Seq(("x", 0L)).toDF("s", "v").schema)

    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a == "--add-opens" || a.contains("=ALL-UNNAMED"))
    def spawn(main: String, args: String*): (Process, java.io.File) = {
      val log = Files.createTempFile("marker_xproc_", ".log").toFile
      val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        main) ++ args
      val p = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).redirectOutput(log).start()
      (p, log)
    }
    def await(children: Seq[(Process, java.io.File)]): Unit =
      children.foreach { case (p, log) =>
        assert(p.waitFor(480, TimeUnit.SECONDS), s"child timed out; log: $log")
        assert(p.exitValue() === 0,
          s"child failed (exit ${p.exitValue()}); tail:\n" +
            Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))
      }

    // 1. two flushing nodes stage 4 flushes × 3 rows each WHILE a
    // committer daemon ticks its interval CONCURRENTLY (the reference's
    // live deployment: nodes flush, the leader commits whatever is
    // pending each interval) — whatever the daemon doesn't catch, the
    // drain phase below mops up; exactly-once must hold regardless of
    // how the interleaving lands
    val perNode = 4
    await(Seq(spawn("graft.sources.MarkerFlusherMain", root, "1", perNode.toString),
      spawn("graft.sources.MarkerFlusherMain", root, "2", perNode.toString),
      spawn("graft.sources.MarkerCommitterMain", root, "follow")))
    // the daemon committed SOME prefix of the flushes mid-flight;
    // never more rows than were flushed, and whatever it committed had
    // its markers cleaned
    val total = (2 * perNode * 3).toLong
    val afterFollow = LogTable(spark, root).read().count()
    assert(afterFollow <= total)

    // 2. one committer commits a round over the remainder and CRASHES
    // before cleanup (short lease so the survivors re-race quickly)...
    val pendingBeforeCrash = MarkerCommit.pending(root).size
    await(Seq(spawn("graft.sources.MarkerCommitterMain", root, "crash")))
    assert(MarkerCommit.pending(root).size === pendingBeforeCrash,
      "crashed leader cleaned nothing")
    // ...then TWO committers race the drain concurrently
    await(Seq(spawn("graft.sources.MarkerCommitterMain", root, "drain"),
      spawn("graft.sources.MarkerCommitterMain", root, "drain")))

    // every flushed row exactly once; markers all cleaned exactly once
    val t = LogTable(spark, root)
    val rows = t.read().select("s").as[String].collect().toSeq
    val expected = for (n <- 1 to 2; f <- 0 until perNode; r <- 0 until 3)
      yield s"n$n-f$f-r$r"
    assert(rows.sorted === expected.sorted.toSeq,
      "every flushed file committed EXACTLY once (no loss, no double)")
    assert(MarkerCommit.pending(root).isEmpty, "marker cleanup exactly once")
    // the lineage is pure appends over the declared schema
    (2L to t.currentVersion).foreach(v =>
      assert(t.snapshot(v).operation === "append"))
  }

  test("leader rounds are O(pending) at 100k files: replay probe reads pointers only, never segments; expire refuses while markers pend") {
    val root = tmp("marker_scale_") + "/t"
    val cio = new CountingIO
    val t = LogTable(spark, root, io = cio)
    t.declareSchema(Seq(("x", 0L)).toDF("s", "v").schema)
    // a 100k-file retained lineage (5 snapshots), synthetic entries —
    // the metadata shape of a ~100 TB table at 128 MB/file
    // synthetic v-ranges live far above the real rows' values, so the
    // read-back below range-prunes to the real files alone
    def df(i: Int) = DataFile(s"$root/data/f$i.parquet", rows = 10L,
      bytes = 1000000L, ranges = Map("v" -> (1000L + i * 10L, 1009L + i * 10L)))
    (0 until 5).foreach(b =>
      t.commitSynthetic((b * 20000 until (b + 1) * 20000).map(df)))
    assert(t.snapshot().segs.nonEmpty, "the lineage must be segmented")

    // FRESH-BATCH round (the hot path, warm JVM segment cache): the
    // membership probe reads snapshot POINTERS only — zero seg-* reads
    // anywhere in the round, even though the commit itself iterates
    // the (cached) 100k-entry file list
    val staged1 = MarkerCommit.flush(t,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("s", "v"))
    cio.reset()
    MarkerCommit.runOnce(spark, root, cio) match {
      case MarkerCommit.Led(committed, cleaned, skipped, _) =>
        assert(committed === staged1.size && cleaned === staged1.size &&
          skipped === 0)
      case other => fail(s"expected Led, got $other")
    }
    assert(cio.segReads.isEmpty,
      s"a fresh-batch leader round must load no segments, read: ${cio.segReads}")

    // STALE-MARKER replay round, fully COLD metadata cache: a leader
    // commits 2 files and crashes before cleanup; while its markers
    // pend, expire REFUSES (the invariant that keeps the pointer-
    // resident replay record retained); after lease expiry the next
    // leader finds both files already committed from the staged-paths
    // summaries alone — O(pending) pointer reads, zero segments, no
    // file-list materialization at all (no commit happens)
    val staged2 = MarkerCommit.flush(t, Seq(("d", 4L), ("e", 5L)).toDF("s", "v"))
    val clock = new java.util.concurrent.atomic.AtomicLong(1000000L)
    MarkerCommit.runOnce(spark, root, cio, leaseMs = 5000L,
      nowMs = () => clock.get(), crashAfterCommit = true)
    assert(MarkerCommit.pending(root, cio).size === staged2.size)
    val eExp = intercept[IllegalArgumentException](t.expire(keepLast = 1))
    assert(eExp.getMessage.contains("pending marker"),
      s"expire under pending markers must refuse loudly: ${eExp.getMessage}")
    // evict every segment any retained snapshot references — the next
    // round runs against a cold JVM cache
    val logDir = Paths.get(root).resolve("_graft_log")
    val tt = LogTable(spark, root, io = cio)
    tt.versions.flatMap(v => tt.snapshot(v).segs.map(_.name)).distinct
      .foreach(n => LogTable.segCache.evict(logDir.resolve(n).toString))
    clock.addAndGet(6000L)
    cio.reset()
    MarkerCommit.runOnce(spark, root, cio, leaseMs = 5000L,
      nowMs = () => clock.get()) match {
      case MarkerCommit.Led(committed, cleaned, skipped, _) =>
        assert(committed === 0, "exactly-once: no re-commit at scale")
        assert(cleaned === staged2.size && skipped === 0)
      case other => fail(s"expected Led, got $other")
    }
    assert(cio.segReads.isEmpty,
      s"a COLD stale-marker round must still load zero segments: ${cio.segReads}")
    val names = cio.readNames.iterator().asScala.toSeq
    assert(names.forall(n => n.contains(".manifest.json") || n == "_lease"),
      s"the round may read only snapshot pointers and the lease: $names")
    assert(names.size <= 2 * LogTable(spark, root).versions.size + 4,
      s"pointer reads must stay O(retained snapshots), got ${names.size}: $names")
    // drained: expire now passes and the real rows read exactly once
    // (range pruning keeps the 100k synthetic entries unopened)
    assert(MarkerCommit.pending(root, cio).isEmpty)
    t.expire(keepLast = 3)
    assert(LogTable(spark, root).readRange("v", 1L, 5L).count() === 5L)
  }
}
