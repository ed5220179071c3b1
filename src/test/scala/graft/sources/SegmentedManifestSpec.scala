package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec

/** Two-level manifests: above the segment cap a snapshot's file list
  * lives in immutable shared `seg-*.json` pool files referenced BY
  * NAME, so a commit re-lists unchanged segments instead of
  * re-serializing the whole table — O(changed files), not O(table).
  * These tests pin the sharing algebra (reuse, rewrite-on-change,
  * dissolve-small), branch O(1) forking, and segment GC. */
class SegmentedManifestSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def withCap[T](n: Int)(body: => T): T = {
    spark.conf.set("graft.manifest.segment.files", n.toString)
    try body finally spark.conf.unset("graft.manifest.segment.files")
  }

  private def freshTable(): (Path, LogTable) = {
    val root = Files.createTempDirectory("graft-seg-").resolve("t")
    (root, LogTable(spark, root.toString))
  }

  /** (segment names, inline file count) of a committed manifest. */
  private def manifestShape(root: Path, version: Long): (Seq[String], Int) = {
    val p = root.resolve("_graft_log").resolve(f"v$version%05d.manifest.json")
    val n = mapper.readTree(Files.readString(p))
    val segs = Option(n.get("segments"))
      .map(_.elements().asScala.map(e =>
        if (e.isObject) e.get("name").asText() else e.asText()).toSeq)
      .getOrElse(Nil)
    (segs, n.get("files").size())
  }

  private def segFiles(root: Path): Set[String] = {
    val d = root.resolve("_graft_log")
    Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("seg-")).toSet
  }

  private def append(t: LogTable, ids: Range): Unit =
    // one data file per id (repartition by unique key) to control
    // exact manifest file counts
    ids.foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))

  test("tables at or under the cap stay inline; crossing it segments the list") {
    withCap(4) {
      val (root, t) = freshTable()
      append(t, 1 to 4)
      assert(manifestShape(root, t.currentVersion) === ((Nil, 4)))
      append(t, 5 to 5) // 5 files > cap
      val (segs, inline) = manifestShape(root, t.currentVersion)
      assert(segs.nonEmpty && inline === 0, "above cap everything segments")
      assert(t.read().count() === 5L)
    }
  }

  test("an append reuses every frozen segment by name and only packs the tail") {
    withCap(4) {
      val (root, t) = freshTable()
      append(t, 1 to 9) // 9 files: segments of 4+4+1 (last under cap/8=1? minKeep=1 keeps all)
      val (segsBefore, _) = manifestShape(root, t.currentVersion)
      assert(segsBefore.size >= 2)
      append(t, 10 to 10)
      val (segsAfter, inline) = manifestShape(root, t.currentVersion)
      assert(inline === 0)
      // every full (size-4) segment from the previous version is
      // re-listed verbatim; only the tail repacked
      val full = segsBefore.take(2)
      assert(full.forall(segsAfter.contains),
        s"frozen segments must be reused: $full vs $segsAfter")
      assert(t.read().count() === 10L)
    }
  }

  test("a COW delete rewrites only the segment holding the hit; others reuse") {
    withCap(4) {
      val (root, t) = freshTable()
      append(t, 1 to 4) // four single-row files, inline
      // one 4-file append crosses the cap: segments pack [first four | new four]
      t.append((5 to 104).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(4))
      val (before, _) = manifestShape(root, t.currentVersion)
      assert(before.size === 2)
      import org.apache.spark.sql.functions.col
      t.delete(col("id") === 1L) // hits a file in the FIRST segment only
      val (after, _) = manifestShape(root, t.currentVersion)
      // the untouched segment survives by name; the hit one repacks
      assert(after.intersect(before).size === 1)
      assert(t.read().count() === 103L)
    }
  }

  test("time travel and readers resolve segmented manifests transparently") {
    withCap(4) {
      val (_, t) = freshTable()
      append(t, 1 to 6)
      val v6 = t.currentVersion
      append(t, 7 to 9)
      assert(t.timeTravel(v6).count() === 6L)
      assert(t.read().count() === 9L)
      assert(t.snapshot().totalRows === 9L)
    }
  }

  test("branch creation re-lists main's segments: O(1), zero new pool files") {
    withCap(4) {
      val (root, t) = freshTable()
      append(t, 1 to 8)
      val poolBefore = segFiles(root)
      val b = t.createBranch("wap")
      assert(segFiles(root) === poolBefore, "branching must write no segments")
      assert(b.read().count() === 8L)
      // a branch append writes ITS segments into the shared pool and
      // fast-forward re-lists them on main without re-serializing —
      // a 2-file batch, so the new segment is at minKeep and freezes
      // (a single-file tail would rightly dissolve at publish).
      // parallelize(…, 2) pins one row per task — repartition(2)'s
      // round-robin can land both rows in one task, and the writer
      // drops empty outputs, which would leave a dissolving 1-file tail
      b.append(spark.sparkContext
        .parallelize((9 to 10).map(i => (i.toLong, s"v$i")), 2).toDF("id", "v"))
      val branchHead = segFiles(root) -- poolBefore
      t.fastForward("wap")
      assert(t.read().count() === 10L)
      val (mainSegs, _) = manifestShape(root, t.currentVersion)
      assert(branchHead.subsetOf(mainSegs.toSet ++ poolBefore),
        "publish must reuse branch-written segments, not re-pack them")
    }
  }

  test("expire reclaims segments referenced only by dropped snapshots") {
    withCap(4) {
      val (root, t) = freshTable()
      append(t, 1 to 8)
      import org.apache.spark.sql.functions.col
      t.delete(col("id") <= 4L) // drops segment 1's files, rewrites
      val liveSegs = manifestShape(root, t.currentVersion)._1.toSet
      assert(segFiles(root).size > liveSegs.size,
        "history still references the pre-delete segment")
      t.expire(keepLast = 1)
      assert(segFiles(root) === liveSegs,
        "only the kept snapshot's segments may remain")
      assert(t.read().count() === 4L)
    }
  }

  test("removeOrphans sweeps stray pool files from crashed commits, age-guarded") {
    withCap(4) {
      val (root, t) = freshTable()
      append(t, 1 to 5)
      val stray = root.resolve("_graft_log").resolve("seg-deadbeef.json")
      Files.writeString(stray, """{"files":[]}""")
      t.removeOrphans(olderThanMs = 0L) // nothing old enough
      assert(Files.exists(stray))
      t.removeOrphans(olderThanMs = System.currentTimeMillis() + 60000)
      assert(!Files.exists(stray), "unreferenced aged segment must go")
      assert(manifestShape(root, t.currentVersion)._1
        .forall(segFiles(root).contains), "live segments stay")
      assert(t.read().count() === 5L)
    }
  }

  test("full lifecycle stays correct under aggressive segmentation (cap=2)") {
    withCap(2) {
      val (_, t) = freshTable()
      append(t, 1 to 6)
      // MoR position delete: files unchanged → every segment reused,
      // the commit is pure metadata
      import org.apache.spark.sql.functions.col
      t.deleteMor(col("id") === 3L)
      assert(t.read().select("id").as[Long].collect().sorted.toSeq ===
        Seq(1L, 2L, 4L, 5L, 6L))
      // equality upsert: tombstone + new files in one commit
      t.upsertEq(Seq((5L, "V5"), (7L, "v7")).toDF("id", "v"), "id")
      assert(t.read().count() === 6L)
      assert(t.read().where("id = 5").select("v").as[String].head() === "V5")
      // compact folds the marks; segments repack around the rewrite
      t.compact()
      assert(t.read().count() === 6L)
      assert(t.snapshot().deletes.isEmpty && t.snapshot().eqDeletes.isEmpty)
      // history + time travel still resolve across the whole lineage
      assert(t.history().count() >= 9L)
      assert(t.timeTravel(6L).count() === 6L)
    }
  }

  test("commit metadata is O(changed), not O(table): the pointer stays small vs the pool") {
    withCap(8) {
      val (root, t) = freshTable()
      for (b <- 0 until 8)
        t.append((1 to 8).map(i => ((b * 8 + i).toLong, s"v$i"))
          .toDF("id", "v").repartition(8))
      val (segs, inline) = manifestShape(root, t.currentVersion)
      assert(inline === 0 && segs.size >= 8)
      val logDir = root.resolve("_graft_log")
      val pointer = Files.size(
        logDir.resolve(f"v${t.currentVersion}%05d.manifest.json"))
      val pool = segs.map(n => Files.size(logDir.resolve(n))).sum
      // the manifest re-lists segments by name: its size must be a
      // small fraction of the entries it references (an inline render
      // would be ≈ the pool size, rewritten EVERY commit)
      assert(pointer < pool / 4,
        s"pointer $pointer B should be << pool $pool B")
      assert(t.read().count() === 64L)
    }
  }

  test("rollback to a segmented snapshot reuses its segments verbatim") {
    withCap(4) {
      val (root, t) = freshTable()
      append(t, 1 to 8)
      val v = t.currentVersion
      val (target, _) = manifestShape(root, v)
      import org.apache.spark.sql.functions.col
      t.delete(col("id") > 4L)
      t.rollback(v)
      val (now, _) = manifestShape(root, t.currentVersion)
      assert(now.toSet === target.toSet, "rollback re-lists, never re-packs")
      assert(t.read().count() === 8L)
    }
  }

  // ------------------------------------------------ segment-summary pruning

  import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan,
    GreaterThanOrEqual, In, LessThan, Not, Or, StringStartsWith}

  private val NullDir = "__HIVE_DEFAULT_PARTITION__"

  /** GraftFileIO wrapper that records every control-plane read — the
    * instrument for "a selective scan loads ONLY matching segments". */
  private class CountingIO extends GraftFileIO {
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def segReads: Seq[String] =
      reads.iterator().asScala.toSeq.filter(_.startsWith("seg-"))
    private val d = GraftFileIO.Local
    override def readString(p: Path): String = {
      reads.add(p.getFileName.toString); d.readString(p)
    }
    override def publishAtomic(p: Path, c: String): Boolean = d.publishAtomic(p, c)
    override def exists(p: Path): Boolean = d.exists(p)
    override def list(dir: Path): Seq[String] = d.list(dir)
    override def listDirs(dir: Path): Seq[String] = d.listDirs(dir)
    override def delete(p: Path): Unit = d.delete(p)
    override def deleteTree(dir: Path): Unit = d.deleteTree(dir)
    override def mkdirs(dir: Path): Unit = d.mkdirs(dir)
  }

  /** A segmented, partitioned table whose segments are homogeneous per
    * (k, day, bucket) — k=a on day 0, b on day 1, null-k on day 2 —
    * so each pointer summary pins one value per layout key. */
  private def segmentedPartitioned(): (Path, LogTable) = {
    val root = Files.createTempDirectory("graft-segp-").resolve("t")
    val t = LogTable(spark, root.toString, partitionBy = Seq("k"),
      hiddenBy = Seq(Transform.day("ts_us"), Transform.bucket(4, "v")))
    def df(k: String, day: Int, v: Long) =
      Seq((k, day * 86400000000L, v)).toDF("k", "ts_us", "v")
    // two single-file appends per key → with cap=2, segments align
    // with the append order and stay homogeneous in every layout key
    Seq(("a", 0), ("b", 1), (null: String, 2)).foreach { case (k, day) =>
      t.append(df(k, day, 7L)); t.append(df(k, day, 7L))
    }
    (root, t)
  }

  test("selective scans load ONLY the segments whose pointer summary survives") {
    withCap(2) {
      val (root, t0) = segmentedPartitioned()
      val cio = new CountingIO
      val segNames = manifestShape(root, t0.currentVersion)._1
      assert(segNames.size === 3, s"expected 3 homogeneous segments: $segNames")
      val logDir = root.resolve("_graft_log")
      // Segment.files memoizes per instance and segCache per JVM, so
      // each probe gets a FRESH parse with a cleared cache — the reads
      // the CountingIO sees are exactly the probe's segment loads
      def freshSnap(): Snapshot = {
        segNames.foreach(n => LogTable.segCache.evict(logDir.resolve(n).toString))
        cio.reads.clear()
        LogTable(spark, root.toString, io = cio).snapshot()
      }
      // point lookup on the identity partition column: ONE segment read
      val prunedA = freshSnap().prunedFiles(Seq(EqualTo("k", "a")))
      assert(cio.segReads.size === 1,
        s"k=a must load exactly one segment, read: ${cio.segReads}")
      assert(prunedA.size === 2 && prunedA.forall(_.partitions("k") == "a"))
      // range on the hidden day transform's SOURCE column: day-0 and
      // day-1 segments refute, only the day-2 (null-k) segment loads
      val prunedT = freshSnap().prunedFiles(
        Seq(GreaterThanOrEqual("ts_us", 2 * 86400000000L)))
      assert(cio.segReads.size === 1,
        s"ts range must load exactly one segment, read: ${cio.segReads}")
      assert(prunedT.size === 2)
      // no survivor: zero segment reads, zero files
      assert(freshSnap().prunedFiles(Seq(EqualTo("k", "zzz"))).isEmpty)
      assert(cio.segReads.isEmpty, "a fully refuted scan must load nothing")
      // unrecognized filter shape: absence of leverage loads EVERYTHING
      assert(freshSnap().prunedFiles(Seq(Not(EqualTo("k", "a")))).size === 6)
      assert(cio.segReads.size === 3, "an unusable filter must keep all segments")
      // the LogTable typed-read API plans through the same summaries
      def freshApi(): LogTable = { freshSnap(); LogTable(spark, root.toString, io = cio) }
      assert(freshApi().filesInRange("ts_us", 2 * 86400000000L, Long.MaxValue).size === 2)
      assert(cio.segReads.size === 1,
        s"filesInRange must load exactly one segment, read: ${cio.segReads}")
      val kA = freshApi().filesInRangeStr("k", "a", "a")
      assert(kA.size === 2 && kA.forall(_.partitions("k") == "a"))
      assert(cio.segReads.size === 1,
        s"filesInRangeStr must load exactly one segment, read: ${cio.segReads}")
    }
  }

  test("prunedFiles equals the unsummarized per-file pruner on every filter shape") {
    withCap(2) {
      val (_, t) = segmentedPartitioned()
      val snap = t.snapshot()
      val day = 86400000000L
      // bucket(4) of v=7 — derive the probe values from the transform
      // itself so the test stays true to the arithmetic
      val b7 = Transform.bucket(4, "v").derive(7L)
      val missBucket = (0L until 4L).filterNot(_ == b7).head
      val vMiss = (8L to 100L).find(x =>
        Transform.bucket(4, "v").derive(x) == missBucket).get
      val cases: Seq[(String, Seq[Filter], Int)] = Seq(
        ("no filters", Nil, 6),
        ("identity eq", Seq(EqualTo("k", "a")), 2),
        // probing the null sentinel matches nothing: NullDir refutes
        // comparisons and 'a'/'b' don't equal the sentinel string
        ("identity eq null sentinel", Seq(EqualTo("k", NullDir)), 0),
        ("In over identity", Seq(In("k", Array("a", "b"))), 4),
        ("day range lower", Seq(GreaterThan("ts_us", day - 1)), 4),
        ("day range upper", Seq(LessThan("ts_us", day)), 2),
        ("bucket point hit", Seq(EqualTo("v", 7L)), 6),
        ("bucket point miss", Seq(EqualTo("v", vMiss)), 0),
        // segment level keeps (bucket scrambles order) but the files'
        // own [min,max] stats refute v > 1000 — parity must still hold
        ("bucket range keeps segments, file stats refute", Seq(GreaterThan("v", 1000L)), 0),
        ("And", Seq(And(EqualTo("k", "a"), LessThan("ts_us", day))), 2),
        ("And contradiction", Seq(And(EqualTo("k", "a"),
          GreaterThan("ts_us", day))), 0),
        ("Or", Seq(Or(EqualTo("k", "a"), EqualTo("k", "b"))), 4),
        ("Not is unusable: keeps", Seq(Not(EqualTo("k", "a"))), 6),
        ("unrecognized keeps", Seq(StringStartsWith("k", "a")), 6),
        // non-numeric values can't compare to 5 → kept; the null
        // segment's NullDir still refutes
        ("numeric probe on string key keeps", Seq(EqualTo("k", 5L)), 4),
        ("two filters", Seq(EqualTo("k", "b"), EqualTo("v", 7L)), 2))
      cases.foreach { case (name, filters, expected) =>
        val viaSummary = snap.prunedFiles(filters).map(_.path).toSet
        val viaFiles = GraftPrune.filesFor(snap.files, snap.transforms, filters)
          .map(_.path).toSet
        assert(viaSummary === viaFiles, s"parity broke for: $name")
        assert(viaSummary.size === expected, s"wrong selectivity for: $name")
      }
      // NullDir semantics on the summary itself: a comparison never
      // matches the null directory, so the null-k segment refutes k='x'
      // but In() with a surviving value keeps it out only via its key
      assert(GraftPrune.segMayMatch(Map("k" -> Seq(NullDir)), Nil,
        Seq(EqualTo("k", "x"))) === false)
    }
  }

  test("segMayMatch absence-never-prunes algebra; segSummary caps and key coverage") {
    val ts = Seq(Transform.day("ts_us"), Transform.bucket(4, "v"))
    // legacy bare-name segment (no summary): always keep
    assert(GraftPrune.segMayMatch(Map.empty, ts, Seq(EqualTo("k", "zzz"))))
    // key not summarized: keep
    assert(GraftPrune.segMayMatch(Map("other" -> Seq("1")), ts,
      Seq(EqualTo("k", "zzz"))))
    // non-numeric value under a numeric probe: keep (cannot compare)
    assert(GraftPrune.segMayMatch(Map("k" -> Seq("abc")), Nil,
      Seq(GreaterThan("k", 5L))))
    // monotonic transform key summarized: range refutes / survives
    val dayCol = Transform.day("ts_us").colName
    assert(!GraftPrune.segMayMatch(Map(dayCol -> Seq("0", "1")), ts,
      Seq(GreaterThan("ts_us", 2 * 86400000000L))))
    assert(GraftPrune.segMayMatch(Map(dayCol -> Seq("0", "3")), ts,
      Seq(GreaterThan("ts_us", 2 * 86400000000L))))
    // bucket transform: equality refutes on set miss, ranges never
    val bCol = Transform.bucket(4, "v").colName
    val b7 = Transform.bucket(4, "v").derive(7L)
    assert(GraftPrune.segMayMatch(Map(bCol -> Seq(b7.toString)), ts,
      Seq(EqualTo("v", 7L))))
    assert(!GraftPrune.segMayMatch(
      Map(bCol -> Seq(((b7 + 1) % 4).toString)), ts, Seq(EqualTo("v", 7L))))
    assert(GraftPrune.segMayMatch(Map(bCol -> Seq("0")), ts,
      Seq(GreaterThan("v", 1000L))), "bucket scrambles order: ranges keep")
    // NullDir under the transform clause: refuted for comparisons
    assert(!GraftPrune.segMayMatch(Map(dayCol -> Seq(NullDir)), ts,
      Seq(EqualTo("ts_us", 0L))))
    // segSummary: only keys EVERY entry carries; > MaxSegSummaryVals drops
    def df(path: String, parts: Map[String, String]) =
      DataFile(path, 1L, 1L, parts)
    val common = (0 until 3).map(i => df(s"f$i", Map("k" -> s"v$i", "d" -> "1")))
    val partial = df("f3", Map("d" -> "2"))
    val sum = LogTable.segSummary(common :+ partial)
    assert(sum === Map("d" -> Seq("1", "2")), "keys missing on any entry drop")
    val wide = (0 to LogTable.MaxSegSummaryVals).map(i =>
      df(s"w$i", Map("k" -> f"v$i%03d")))
    assert(LogTable.segSummary(wide) === Map.empty,
      "an over-wide value set must not be summarized")
    assert(LogTable.segSummary(wide.take(LogTable.MaxSegSummaryVals))
      .contains("k"), "at the cap the set is recorded")
  }

  test("segment partVals and readMeta round-trip through the manifest") {
    withCap(2) {
      val (root, t0) = segmentedPartitioned()
      // a FRESH handle parses the pointer from disk — nothing carried
      // over from the committing instance
      val t = LogTable(spark, root.toString)
      val snap = t.snapshot()
      val segs = snap.segs
      assert(segs.size === 3)
      // every parsed summary equals the summary of its loaded entries
      segs.foreach { s =>
        assert(s.partVals === LogTable.segSummary(s.files),
          s"summary of ${s.name} does not match its entries")
        assert(s.partVals.keySet === Set("k", Transform.day("ts_us").colName,
          Transform.bucket(4, "v").colName))
      }
      // null directory round-trips as the hive sentinel
      assert(segs.flatMap(_.partVals("k")).toSet === Set("a", "b", NullDir))
      // readMeta round-trips and equals a recomputation from the files
      val layoutKeys = snap.partCols ++ snap.transforms.map(_.colName)
      val expectParts =
        snap.files.map(f => layoutKeys.map(f.partitions(_))).distinct.size
      val expectStats = snap.files.iterator.flatMap(f =>
        f.ranges.keysIterator ++ f.strRanges.keysIterator).toSeq.distinct.sorted
      assert(snap.readMeta === Some(ReadMeta(layoutComplete = true,
        expectParts, expectStats)))
    }
  }

  test("a branch base carries the fork's partition spec alongside its readMeta") {
    withCap(2) {
      val (_, t) = segmentedPartitioned()
      val fork = t.snapshot()
      val bs = t.createBranch("wap").snapshot()
      // partCols/transforms must ride with readMeta, or the pointer
      // would describe a layout the snapshot doesn't declare
      assert(bs.partCols === fork.partCols)
      assert(bs.transforms === fork.transforms)
      assert(bs.readMeta === fork.readMeta)
      assert(SpjLayout.of(bs).map(_.cols) === SpjLayout.of(fork).map(_.cols))
    }
  }

  test("SpjLayout answered from the pointer equals the file-list fallback") {
    withCap(2) {
      // a REPORTABLE layout (mbucket — the legacy xxhash64 kind claims
      // no SPJ layout by design), same homogeneous-segment shape as
      // segmentedPartitioned()
      val root = Files.createTempDirectory("graft-segmb-").resolve("t")
      val tb = LogTable(spark, root.toString, partitionBy = Seq("k"),
        hiddenBy = Seq(Transform.day("ts_us"), Transform.mbucket(4, "v")))
      def dfk(k: String, day: Int, v: Long) =
        Seq((k, day * 86400000000L, v)).toDF("k", "ts_us", "v")
      Seq(("a", 0), ("b", 1), (null: String, 2)).foreach { case (k, day) =>
        tb.append(dfk(k, day, 7L)); tb.append(dfk(k, day, 7L))
      }
      val snap = LogTable(spark, root.toString).snapshot()
      assert(snap.readMeta.isDefined)
      // the legacy xx-bucket fixture refuses to claim a layout at all
      val (xroot, _) = segmentedPartitioned()
      assert(SpjLayout.of(LogTable(spark, xroot.toString).snapshot()).isEmpty,
        "xxhash64 bucket layouts must not claim SPJ co-partitioning")
      val fromMeta = SpjLayout.of(snap)
      val fromFiles = SpjLayout.of(snap.copy(readMeta = None))
      assert(fromMeta.isDefined && fromFiles.isDefined)
      assert(fromMeta.get.cols === fromFiles.get.cols)
      assert(fromMeta.get.numPartitions === fromFiles.get.numPartitions)
      assert(fromMeta.get.keys.map(_.describe()).toSeq ===
        fromFiles.get.keys.map(_.describe()).toSeq)
      // incomplete layout (pre-evolution files missing keys): BOTH
      // paths refuse to report
      val t2root = Files.createTempDirectory("graft-spj2-").resolve("t")
      val t2 = LogTable(spark, t2root.toString)
      t2.append(Seq((1L, "x")).toDF("v", "s"))
      val evolved = t2.evolveSpec(hiddenBy = Seq(Transform.bucket(4, "v")))
      evolved.append(Seq((2L, "y")).toDF("v", "s"))
      val s2 = LogTable(spark, t2root.toString).snapshot()
      assert(s2.readMeta.exists(!_.layoutComplete))
      assert(SpjLayout.of(s2).isEmpty)
      assert(SpjLayout.of(s2.copy(readMeta = None)).isEmpty)
    }
  }

  /** METADATA-SCALE EVIDENCE (off-asymptote): a 100k-file segmented
    * manifest, built from synthetic entries (the segment algebra is
    * pure path/stats arithmetic — no parquet needed), must show the
    * three O()-claims the design makes. Timings print as info() and
    * feed BASELINE.md's metadata-scale appendix. */
  test("metadata scale: 100k files — commit serializes O(segment), plan loads O(matching), branch forks O(1)") {
    withCap(1000) {
      val (root, t) = freshTable()
      val logDir = root.resolve("_graft_log")
      def df(i: Int) = DataFile(s"data/f$i.parquet", rows = 100L,
        bytes = 1000000L, partitions = Map("k" -> s"p${i / 1000}"),
        ranges = Map("id" -> (i * 100L, i * 100L + 99L)))
      val n = 100000
      val tBuild0 = System.nanoTime()
      (0 until 10).foreach(b =>
        t.commitSynthetic((b * 10000 until (b + 1) * 10000).map(df)))
      val buildMs = (System.nanoTime() - tBuild0) / 1000000
      val (segs0, inline0) = manifestShape(root, t.currentVersion)
      assert(segs0.size === 100 && inline0 === 0,
        s"100k files at cap=1000 must fully segment, got ${segs0.size} segs + $inline0 inline")

      // 1. STEADY-STATE APPEND is O(segment): +100 files re-lists every
      //    frozen segment by name, packs only its own tail, and the
      //    pointer stays a fraction of the pool it references
      val segsBefore = segFiles(root)
      val tApp0 = System.nanoTime()
      t.commitSynthetic((n until n + 100).map(df))
      val appendMs = (System.nanoTime() - tApp0) / 1000000
      val ver = t.currentVersion
      val (segs1, _) = manifestShape(root, ver)
      assert(segs0.forall(segs1.contains),
        "a tail append must reuse every frozen segment by name")
      val created = segFiles(root) -- segsBefore
      assert(created.size <= 1, s"tail append created ${created.size} segments")
      val pointerBytes = Files.size(
        logDir.resolve(f"v$ver%05d.manifest.json"))
      val poolBytes = segFiles(root).toSeq
        .map(nm => Files.size(logDir.resolve(nm))).sum
      assert(pointerBytes < poolBytes / 20,
        s"pointer ($pointerBytes B) must stay O(segments), pool is $poolBytes B")

      // 2. SELECTIVE PLANNING is O(matching segments): a point lookup
      //    on the partition value loads exactly the one segment whose
      //    pointer summary survives — 1/101st of the metadata
      val cio = new CountingIO
      val segNames = segs1
      def freshSnap(): Snapshot = {
        segNames.foreach(nm =>
          LogTable.segCache.evict(logDir.resolve(nm).toString))
        cio.reads.clear()
        LogTable(spark, root.toString, io = cio).snapshot()
      }
      val tPlan0 = System.nanoTime()
      val pruned = freshSnap().prunedFiles(Seq(EqualTo("k", "p5")))
      val planMs = (System.nanoTime() - tPlan0) / 1000000
      assert(pruned.size === 1000 && pruned.forall(_.partitions("k") == "p5"))
      assert(cio.segReads.size === 1,
        s"k=p5 must load exactly ONE of 101 segments, read: ${cio.segReads}")

      // 3. BRANCH FORK is O(1) pool files: the base manifest re-lists
      //    main's segments by name — zero new pool files, pointer-sized
      val segsPreBranch = segFiles(root)
      val tBr0 = System.nanoTime()
      t.createBranch("audit")
      val branchMs = (System.nanoTime() - tBr0) / 1000000
      assert(segFiles(root) === segsPreBranch,
        "branch fork must write zero pool files")
      val baseBytes = Files.size(
        logDir.resolve("branch-audit").resolve("v00001.manifest.json"))
      assert(baseBytes < poolBytes / 20,
        s"branch base ($baseBytes B) must be pointer-sized, pool is $poolBytes B")
      t.dropBranch("audit")

      info(s"100k-file metadata scale: build(10x10k commits)=${buildMs}ms, " +
        s"steady append(+100)=${appendMs}ms, selective plan=${planMs}ms " +
        s"(1 of ${segNames.size} segments), branch fork=${branchMs}ms, " +
        s"pointer=${pointerBytes}B vs pool=${poolBytes}B")
    }
  }

  test("`.files`/`.entries` DISTRIBUTE above the cap: segment JSONs parse on executors, no driver LocalRelation, rows equal the metadata") {
    withCap(1000) {
      val (_, t) = freshTable()
      def df(i: Int) = DataFile(s"data/f$i.parquet", rows = 100L,
        bytes = 1000000L, partitions = Map("k" -> s"p${i / 1000}"),
        ranges = Map("id" -> (i * 100L, i * 100L + 99L)))
      t.commitSynthetic((0 until 10000).map(df))     // v1: fully segmented
      t.commitSynthetic((10000 until 10100).map(df)) // v2: tail append
      val nSegs = t.snapshot().segs.size
      assert(nSegs >= 10, s"fixture must segment, got $nSegs segments")

      val files = t.filesTable()
      val entries = t.entriesTable()
      // PLAN CONTRACT: above the cap these are distributed RDD scans —
      // a LocalTableScan would mean the driver materialized a row per
      // file (the 1M-file design point forbids that)
      assert(!files.queryExecution.executedPlan.toString
        .contains("LocalTableScan"),
        "a segmented table's .files must not plan a driver LocalRelation")
      assert(!entries.queryExecution.executedPlan.toString
        .contains("LocalTableScan"),
        "a segmented table's .entries must not plan a driver LocalRelation")
      // one input task per segment (+1 inline)
      assert(files.rdd.getNumPartitions >= nSegs)

      // row parity with the manifest itself
      assert(files.count() === 10100L)
      assert(entries.count() === 10100L)
      val expect = t.snapshot().files
        .map(f => (f.path, f.rows, f.bytes)).toSet
      assert(files.select("path", "rows", "bytes")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet === expect)
      // status census: the tail append ADDED 100, carried 10000
      val statuses = entries.groupBy("status").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(statuses === Map(0 -> 10000L, 1 -> 100L))
      // ranges serialize identically to the LocalScan path
      val oneRange = files.filter(files("path") === "data/f7.parquet")
        .select("ranges").collect().head.getString(0)
      assert(oneRange === "id:[700,799]")

      // below the cap the LocalScan fast path stays (zero-job dashboards)
      val (_, small) = freshTable()
      small.commitSynthetic((0 until 5).map(df))
      assert(small.filesTable().queryExecution.executedPlan.toString
        .contains("LocalTableScan"))
      assert(small.entriesTable().queryExecution.executedPlan.toString
        .contains("LocalTableScan"))
      assert(small.entriesTable().count() === 5L)
    }
  }
}
