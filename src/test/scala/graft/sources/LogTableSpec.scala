package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class LogTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): LogTable =
    LogTable(spark, Files.createTempDirectory("logtable_spec_").toString)

  private def df(ids: Range): DataFrame = ids.toDF("id")

  test("append commits atomically and bumps the version") {
    val t = freshTable()
    assert(t.currentVersion === 0L)
    assert(t.read().count() === 0L)

    val s1 = t.append(df(0 until 10))
    assert(s1.version === 1L)
    assert(s1.operation === "append")
    assert(t.read().count() === 10L)

    val s2 = t.append(df(10 until 25))
    assert(s2.version === 2L)
    assert(t.read().count() === 25L)
    assert(t.read().agg(Map("id" -> "max")).as[Long].head() === 24L)
  }

  test("timeTravel reads any prior snapshot unchanged") {
    val t = freshTable()
    t.append(df(0 until 5))
    t.append(df(5 until 9))
    assert(t.timeTravel(1).count() === 5L)
    assert(t.timeTravel(2).count() === 9L)
    // current read == latest snapshot
    assert(t.read().count() === t.timeTravel(t.currentVersion).count())
  }

  test("timeTravelAsOf reads the latest snapshot at or before a timestamp") {
    val t = freshTable()
    t.append(df(0 until 5))
    val ts1 = t.snapshot(1L).timestampMs
    t.append(df(5 until 9))
    val ts2 = t.snapshot(2L).timestampMs

    // ts1 may equal ts2 when both commits land in the same ms — the
    // snapshot-1 assertions only hold when the clock advanced
    if (ts2 > ts1) {
      assert(t.timeTravelAsOf(ts1).count() === 5L)
      assert(t.timeTravelAsOf(ts2 - 1).count() === 5L)
    }
    assert(t.timeTravelAsOf(ts2).count() === 9L)
    assert(t.timeTravelAsOf(System.currentTimeMillis() + 60000L).count() === 9L)
    // before the first commit: history cannot be reconstructed
    intercept[IllegalArgumentException](t.timeTravelAsOf(ts1 - 1))
  }

  test("named refs pin snapshots: immutable, resolvable, droppable") {
    val t = freshTable()
    t.append(df(0 until 5))
    t.createRef("prod") // defaults to current version (1)
    t.append(df(5 until 9))
    t.createRef("staging", 2L)

    assert(t.refs === Seq("prod" -> 1L, "staging" -> 2L))
    assert(t.readRef("prod").count() === 5L)
    assert(t.readRef("staging").count() === 9L)
    // refs are immutable — re-pointing requires drop + create
    intercept[IllegalStateException](t.createRef("prod", 2L))
    t.dropRef("prod")
    t.createRef("prod", 2L)
    assert(t.readRef("prod").count() === 9L)
    // unknown version / unknown ref fail loudly
    intercept[IllegalArgumentException](t.createRef("bad", 99L))
    intercept[IllegalArgumentException](t.refVersion("nope"))
    // a manifest-pattern collision is impossible: refs live as ref-*
    assert(t.versions === Seq(1L, 2L))
  }

  test("compact preserves data, reduces files, keeps old snapshots readable") {
    val t = freshTable()
    (0 until 4).foreach(i => t.append(df(i * 10 until (i + 1) * 10).repartition(2)))
    val pre = t.stats()
    assert(pre.files.size === 8) // 4 appends × 2 partitions
    val preVersion = t.currentVersion

    val post = t.compact()
    assert(post.operation === "compact")
    assert(post.files.size === 1) // tiny files bin-pack into one
    assert(post.totalRows === 40L)
    assert(t.read().count() === 40L)
    assert(t.read().distinct().count() === 40L) // no dup rows from rewrite
    // snapshot isolation: the pre-compact snapshot still reads
    assert(t.timeTravel(preVersion).count() === 40L)
  }

  test("scoped compaction (OPTIMIZE WHERE): only the targeted partition's files rewrite") {
    import spark.implicits._
    val t = LogTable(spark,
      Files.createTempDirectory("scoped_compact_").toString,
      partitionBy = Seq("kind"))
    // 3 small files per partition
    (0 until 3).foreach { i =>
      t.append(Seq((i.toLong, "a"), (i + 10L, "b")).toDF("id", "kind"))
    }
    val before = t.snapshot().files
    assert(before.count(_.partitions.get("kind").contains("a")) === 3)

    val post = t.compact(where = Some(p => p.get("kind").contains("a")))
    val after = post.files
    // partition a: bin-packed; partition b: byte-identical file set
    assert(after.count(_.partitions.get("kind").contains("a")) === 1)
    assert(after.filter(_.partitions.get("kind").contains("b")).map(_.path).toSet
      === before.filter(_.partitions.get("kind").contains("b")).map(_.path).toSet,
      "out-of-scope files must not be touched")
    assert(t.read().count() === 6L)
    assert(t.read().filter(org.apache.spark.sql.functions.col("kind") === "a")
      .select("id").as[Long].collect().sorted === Array(0L, 1L, 2L))
  }

  test("multi-bin compaction is ONE write job, not a job per bin, and loses nothing") {
    val t = freshTable()
    (0 until 8).foreach(i => t.append(df(i * 10 until (i + 1) * 10).coalesce(1)))
    val sizes = t.snapshot().files.map(_.bytes)
    assert(sizes.size === 8)
    val target = sizes.max * 5 / 2 // a bin fits two files, never three
    val before = t.read().collect().map(_.toSeq).toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val post = try {
      val p = t.compact(smallBytes = Long.MaxValue, targetBytes = target)
      Thread.sleep(2000) // listener bus drains asynchronously
      p
    } finally spark.sparkContext.removeSparkListener(listener)
    // 4 two-file bins planned; hash collisions may merge some pairs
    // into one task's file, but the sweep must neither no-op nor
    // degenerate to one giant file
    assert(post.files.size >= 2 && post.files.size <= 4,
      s"expected 2-4 compacted files, got ${post.files.size}")
    assert(t.read().collect().map(_.toSeq).toSet === before)
    assert(post.totalRows === 80L)
    // the old shape was one (or more, under AQE) jobs PER BIN; the
    // single-pass rewrite plus AQE's bounded planning overhead must
    // stay under one job per bin
    assert(jobs.get() <= 3,
      s"compaction ran ${jobs.get()} jobs for a 4-bin sweep")
  }

  test("stats come from manifest metadata and match the data") {
    val t = freshTable()
    t.append(df(0 until 100))
    val s = t.stats()
    assert(s.totalRows === 100L)
    assert(s.totalRows === t.read().count())
    assert(s.totalBytes > 0L)
    assert(s.files.forall(f => f.rows > 0 && f.bytes > 0))
  }

  test("expire drops old snapshots and deletes orphaned files") {
    val t = freshTable()
    t.append(df(0 until 10))
    t.append(df(10 until 20))
    t.compact()
    val preCompactFiles = t.snapshot(2L).files.map(_.path)

    t.expire(keepLast = 1)
    assert(t.versions === Seq(3L))
    assert(t.read().count() === 20L) // current snapshot untouched
    // the compacted-away small files are gone from disk
    assert(preCompactFiles.forall(p => !Files.exists(Paths.get(p))))
    // expired versions are no longer readable
    intercept[Exception](t.timeTravel(2L).count())
  }

  test("delete rewrites only the files that contain matching rows (copy-on-write)") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append(df(0 until 50))   // file(s) A: all < 50
    t.append(df(50 until 100)) // file(s) B: all >= 50
    val pre = t.stats()
    val preVersion = t.currentVersion

    val post = t.delete(col("id") >= 80)
    assert(post.operation === "delete")
    assert(t.read().count() === 80L)
    assert(t.read().filter(col("id") >= 80).count() === 0L)
    // COW: files with no matching rows keep their identity (not rewritten)
    val kept = post.files.map(_.path).toSet
    assert(pre.files.exists(f => kept.contains(f.path)),
      "at least the batch-A files must survive unrewritten")
    // time travel still sees the deleted rows
    assert(t.timeTravel(preVersion).count() === 100L)
    // deleting nothing is a no-op commit-wise
    val v = t.currentVersion
    t.delete(col("id") > 1000)
    assert(t.currentVersion === v)
  }

  test("delete removes ONLY condition=TRUE rows; null-predicate rows survive") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append(Seq((1L, Some(50.0)), (2L, None), (3L, Some(200.0)))
      .toDF("id", "value"))
    t.delete(col("value") > 100.0) // NULL for id=2 — must NOT be deleted
    val left = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(left === Seq(1L, 2L), s"null-predicate row must survive, got $left")
  }

  test("delete racing compact never resurrects deleted rows or duplicates survivors") {
    import org.apache.spark.sql.functions.col
    (0 until 3).foreach { _ =>
      val t = freshTable()
      (0 until 4).foreach(i => t.append(df(i * 10 until (i + 1) * 10)))
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val ops = Seq(
        Future(t.compact()),
        Future(t.delete(col("id") >= 30)))
      Await.result(Future.sequence(ops), 120.seconds)
      pool.shutdown()
      // whatever the interleaving: deleted rows stay dead, others unique
      assert(t.read().filter(col("id") >= 30).count() === 0L,
        "compact must not resurrect concurrently deleted rows")
      assert(t.read().count() === 30L)
      assert(t.read().distinct().count() === 30L)
    }
  }

  test("merge upserts: matched rows replaced, unmatched inserted, COW file identity") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append((0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"))   // file A
    t.append((50 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")) // file B
    val pre = t.stats()
    val preVersion = t.currentVersion

    // update ids 10..19 (all in file A), insert ids 100..104
    val updates = ((10 until 20).map(i => (i.toLong, "UPDATED")) ++
      (100 until 105).map(i => (i.toLong, "NEW"))).toDF("id", "v")
    val post = t.merge(updates, "id")
    assert(post.operation === "merge")
    assert(t.read().count() === 105L)
    assert(t.read().filter(col("v") === "UPDATED").count() === 10L)
    assert(t.read().filter(col("v") === "NEW").count() === 5L)
    assert(t.read().filter(col("id") === 15L).select("v").head().getString(0) === "UPDATED")
    assert(t.read().filter(col("id") === 25L).select("v").head().getString(0) === "v25")
    // COW: file B held no matched key and must survive unrewritten
    val kept = post.files.map(_.path).toSet
    assert(pre.files.exists(f => kept.contains(f.path)),
      "the unmatched file must keep its identity")
    // time travel still sees pre-merge values
    assert(t.timeTravel(preVersion).filter(col("v") === "UPDATED").count() === 0L)
    // merging into an empty table is a plain append
    val t2 = freshTable()
    t2.merge((0 until 5).map(i => (i.toLong, "x")).toDF("id", "v"), "id")
    assert(t2.read().count() === 5L)
  }

  test("merge rejects duplicate source keys loudly (no silent target-row fan-out)") {
    val t = freshTable()
    t.append((0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val preVersion = t.currentVersion
    // id=3 appears twice in the source — the left join would duplicate
    // the matched target row; the guard must fail instead
    val dupSource = Seq((3L, "A"), (3L, "B"), (50L, "NEW")).toDF("id", "v")
    val e = intercept[IllegalArgumentException] { t.merge(dupSource, "id") }
    assert(e.getMessage.contains("duplicate keys"))
    // nothing committed, nothing duplicated
    assert(t.currentVersion === preVersion)
    assert(t.read().count() === 10L)
  }

  test("merge accepts updates NARROWER than the table (missing columns become null)") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append((0 until 10).map(i => (i.toLong, i * 2L, s"v$i")).toDF("id", "score", "v"))
    // updates carry only (id, score) — no v column
    t.merge((0 until 3).map(i => (i.toLong, 100L + i)).toDF("id", "score"), "id")
    val rows = t.read().select("id", "score", "v")
      .as[(Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(rows.size === 10)
    (0 until 3).foreach(i => assert(rows(i) === ((i.toLong, 100L + i, None))))
    (3 until 10).foreach(i => assert(rows(i) === ((i.toLong, i * 2L, Some(s"v$i")))))
  }

  test("merge conditional clauses: WHEN MATCHED AND cond THEN UPDATE / DELETE") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append((0 until 20).map(i => (i.toLong, i * 10L, s"v$i")).toDF("id", "score", "v"))
    val preVersion = t.currentVersion

    // source matches ids 0..9; ids 20..22 are unmatched inserts
    val updates = ((0 until 10).map(i => (i.toLong, 1000L + i, "UPD")) ++
      (20 until 23).map(i => (i.toLong, -1L, "NEW"))).toDF("id", "score", "v")
    // delete matched rows with target score >= 80 (ids 8, 9);
    // update only when the SOURCE score beats the target by > 960
    // (src_score - score > 960 → 1000+i - 10i > 960 → ids 0..4)
    t.merge(updates, "id",
      matchedUpdateWhen = Some(col("src_score") - col("score") > 960L),
      matchedDeleteWhen = Some(col("score") >= 80L))
    val out = t.read().select("id", "score", "v").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq

    // ids 8,9 deleted; 0..4 updated; 5..7 matched-but-untouched;
    // 10..19 unmatched targets untouched; 20..22 inserted
    assert(out.map(_._1) === ((0L until 8L) ++ (10L until 23L)))
    (0 until 5).foreach(i => assert(out(i) === ((i.toLong, 1000L + i, "UPD"))))
    (5 until 8).foreach(i => assert(out(i) === ((i.toLong, i * 10L, s"v$i"))))
    assert(out.filter(_._3 == "NEW").map(_._1) === Seq(20L, 21L, 22L))
    // matched source rows whose clause did not fire are NOT inserted
    assert(out.count(r => r._1 < 10 && r._3 == "UPD") === 5)
    // time travel still sees the pre-merge table
    assert(t.timeTravel(preVersion).count() === 20L)
  }

  test("update rewrites only hit files, applies SET to matching rows, keeps types") {
    val t = freshTable()
    t.append(df(0 until 10).coalesce(1))   // file A: contains hits
    t.append(df(100 until 110).coalesce(1)) // file B: no hits
    val before = t.snapshot().files.map(_.path).toSet
    t.update($"id" < 5, Map("id" -> ($"id" + 1000)))
    assert(t.read().as[Int].collect().toSet ===
      ((1000 until 1005).toSet ++ (5 until 10).toSet ++ (100 until 110).toSet))
    // file B untouched by identity; file A rewritten
    val after = t.snapshot().files.map(_.path).toSet
    assert(before.intersect(after).size === 1)
    assert(t.snapshot().operation === "update")
    // prior snapshot unchanged; schema type preserved (cast back to int)
    assert(t.timeTravel(2L).as[Int].collect().toSet ===
      ((0 until 10).toSet ++ (100 until 110).toSet))
    assert(t.read().schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // NULL condition leaves the row unchanged
    val t2 = freshTable()
    t2.append(Seq((1, Some(5)), (2, None: Option[Int])).toDF("id", "v"))
    t2.update($"v" > 0, Map("id" -> ($"id" * 10)))
    assert(t2.read().select("id").as[Int].collect().toSet === Set(10, 2))
    // no-hit update is a no-op commit-wise
    val v = t2.currentVersion
    t2.update($"v" > 999, Map("id" -> ($"id" + 1)))
    assert(t2.currentVersion === v)
    // a typo'd SET column fails loudly even when nothing matches
    intercept[IllegalArgumentException] {
      t2.update($"v" > 999, Map("nope" -> ($"id" + 1)))
    }
  }

  test("partitionsTable rolls up manifest metadata per partition") {
    val t = LogTable(spark,
      Files.createTempDirectory("logtable_parts_").toString,
      partitionBy = Seq("k"))
    t.append(Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "k"))
    val parts = t.partitionsTable().collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(parts === Map("k=a" -> 2L, "k=b" -> 1L))
    // registered SQL surface
    t.registerViews("pt")
    assert(spark.sql("SELECT sum(total_rows) FROM pt_partitions")
      .head().getLong(0) === 3L)
  }

  test("merge NOT MATCHED BY SOURCE deletes unmatched rows, COW scope widens only to hit files") {
    val t = freshTable()
    t.append(df(0 until 10).coalesce(1))    // file A: matched keys live here
    t.append(df(100 until 110).coalesce(1)) // file B: no matched keys, NMBS rows
    t.append(df(200 until 210).coalesce(1)) // file C: untouched by either clause
    val untouched = t.snapshot().files.map(_.path).toSet
    t.merge(df(5 until 7), "id",
      notMatchedBySourceDelete = Some($"id" >= 105 && $"id" < 110))
    val got = t.read().as[Int].collect().toSet
    val want = (0 until 10).toSet ++ (100 until 105).toSet ++ (200 until 210).toSet
    assert(got === want)
    // file C contained no matched key and no NMBS-deleted row → kept by
    // identity; files A and B were rewritten
    val after = t.snapshot().files.map(_.path).toSet
    val surviving = untouched.intersect(after)
    assert(surviving.size === 1, s"exactly file C should survive, got $surviving")
    assert(t.timeTravel(3L).count() === 30L, "prior snapshot keeps deleted rows")
    // NULL condition rows are NOT deleted (three-valued logic)
    val t2 = freshTable()
    t2.append(Seq((1, Some(1)), (2, None: Option[Int])).toDF("id", "v"))
    t2.merge(Seq((3, 3)).toDF("id", "v"), "id",
      notMatchedBySourceDelete = Some($"v" > 0))
    // (1,1) matches v>0 → deleted; (2,NULL) has a NULL predicate → kept
    assert(t2.read().select("id").as[Int].collect().toSet === Set(2, 3),
      "null-predicate unmatched row must survive; true-predicate row must not")
  }

  test("branch write-audit-publish: isolated writes, atomic fast-forward") {
    val t = freshTable()
    t.append(df(0 until 10))
    val b = t.createBranch("audit")
    assert(t.branches === Seq("audit"))
    // write: lands on the branch only
    b.append(df(10 until 25))
    assert(b.read().count() === 25L)
    assert(t.read().count() === 10L, "main must not see branch writes")
    // branch supports the full op surface, still invisible to main
    b.delete($"id" === 10)
    assert(b.read().count() === 24L)
    assert(t.read().count() === 10L)
    // audit passed → publish: main adopts the branch head atomically
    val pub = t.fastForward("audit")
    assert(pub.operation === "publish")
    assert(t.read().count() === 24L)
    assert(t.read().as[Long].collect().toSet === ((0 until 25).toSet - 10).map(_.toLong))
    // time travel still sees pre-publish main
    assert(t.timeTravel(1L).count() === 10L)
    t.dropBranch("audit")
    assert(t.branches.isEmpty)
  }

  test("fast-forward refuses to drop main commits that landed after the fork") {
    val t = freshTable()
    t.append(df(0 until 5))
    val b = t.createBranch("wap")
    b.append(df(100 until 110))
    t.append(df(5 until 8)) // main advances past the fork point
    val e = intercept[IllegalStateException] { t.fastForward("wap") }
    assert(e.getMessage.contains("advanced"))
    assert(t.read().count() === 8L, "failed publish must not change main")
    // branches are immutable-by-name: re-branching needs a fresh name
    intercept[IllegalStateException] { t.createBranch("wap") }
    // path-segment names are rejected everywhere, not just at create —
    // dropBranch("../..") would otherwise delete outside the branch tree
    intercept[IllegalArgumentException] { t.dropBranch("a/../../data") }
    intercept[IllegalArgumentException] { t.branch("a/b") }
  }

  test("branch files survive main expire and vacuum until the branch drops") {
    val t = freshTable()
    t.append(df(0 until 10))
    val b = t.createBranch("keep")
    b.append(df(10 until 20))
    // main rewrites everything away from the fork-point files...
    t.delete($"id" >= 0)
    t.expire(keepLast = 1)
    // ...and vacuums with no age guard: branch-referenced files must live
    t.removeOrphans(olderThanMs = System.currentTimeMillis() + 60000L)
    assert(b.read().count() === 20L,
      "branch must still read after main expire + vacuum")
    assert(t.read().count() === 0L)
    // dropping the branch orphans its files; vacuum then reclaims them
    val branchPaths = b.snapshot().files.map(_.path)
    t.dropBranch("keep")
    val removed = t.removeOrphans(olderThanMs = System.currentTimeMillis() + 60000L)
    assert(branchPaths.forall(removed.contains),
      s"dropped-branch files should be vacuumed: $branchPaths vs $removed")
  }

  test("expireOlderThan combines age and retain-last") {
    val t = freshTable()
    t.append(df(0 until 5))  // v1
    t.append(df(5 until 10)) // v2
    t.append(df(10 until 15)) // v3
    val tsV2 = t.snapshot(2L).timestampMs

    // cutoff after v2's commit: v1 and v2 are age-eligible, but
    // keepLast=2 pins v2 (and v3) — only v1 goes
    t.expireOlderThan(olderThanMs = tsV2 + 1, keepLast = 2)
    assert(t.versions === Seq(2L, 3L))

    // a cutoff in the past expires nothing regardless of count
    t.expireOlderThan(olderThanMs = 0L, keepLast = 1)
    assert(t.versions === Seq(2L, 3L))

    // future cutoff + keepLast=1 → only the newest survives, and the
    // dropped snapshots' exclusive files are reclaimed
    val v2Files = t.snapshot(2L).files.map(_.path)
    t.expireOlderThan(olderThanMs = Long.MaxValue, keepLast = 1)
    assert(t.versions === Seq(3L))
    assert(t.read().count() === 15L)
    intercept[Exception](t.timeTravel(2L).count())
    // v2's files are all still referenced by v3 (append keeps old
    // files), so they must NOT have been deleted
    assert(v2Files.forall(p => Files.exists(Paths.get(p))))
  }

  test("readRange skips files by manifest column stats, result stays exact") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // three single-file appends with disjoint id ranges → three files
    // with footer-derived [min, max] in the manifest
    t.append(df(0 until 100).coalesce(1))
    t.append(df(100 until 200).coalesce(1))
    t.append(df(200 until 300).coalesce(1))
    assert(t.snapshot().files.size === 3)
    assert(t.snapshot().files.forall(_.ranges.contains("id")),
      "INT64 column stats must be lifted from the parquet footers")

    // window [120, 180] lives entirely in the middle file
    assert(t.filesInRange("id", 120L, 180L).size === 1)
    assert(t.readRange("id", 120L, 180L).count() === 61L)
    // boundary-straddling window prunes to two of three files
    assert(t.filesInRange("id", 90L, 110L).size === 2)
    assert(t.readRange("id", 90L, 110L).as[Long].collect().sorted
      === (90L to 110L).toArray)
    // residual row filter: a window inside one file returns only its rows
    assert(t.readRange("id", 150L, 150L).as[Long].collect() === Array(150L))
    // empty window → no files, empty (but well-formed) result
    assert(t.readRange("id", 1000L, 2000L).count() === 0L)
    // a column with no recorded stats scans everything (conservative)
    assert(t.filesInRange("nope", 0L, 1L).size === 3)
    // a never-committed table answers readRange with an empty frame
    // instead of failing to resolve the column
    assert(freshTable().readRange("id", 0L, 10L).count() === 0L)
  }

  test("readRangeStr skips files by manifest STRING stats, result stays exact") {
    val t = freshTable()
    // three appends with disjoint string domains → disjoint bounds
    Seq("alpha" -> 10, "mike" -> 20, "zulu" -> 30).foreach { case (p, n) =>
      t.append((0 until n).map(i => (s"$p-$i", i)).toDF("name", "v").coalesce(1))
    }
    assert(t.snapshot().files.forall(_.strRanges.contains("name")),
      "string bounds should be recorded for the name column")
    // point-ish lookup in the middle slab opens ONLY that file
    val hit = t.filesInRangeStr("name", "mike", "mike~")
    assert(hit.size === 1, s"expected 1 file pruned in, got ${hit.size}")
    val got = t.readRangeStr("name", "mike", "mike~").count()
    assert(got === 20L)
    // miss window between slabs opens nothing
    assert(t.filesInRangeStr("name", "beta", "lima").isEmpty)
    assert(t.readRangeStr("name", "beta", "lima").count() === 0L)
    // full window equals a plain filter
    assert(t.readRangeStr("name", "a", "zz").count() === t.read().count())
    // non-ASCII values: file gets NO bounds for the column → it is
    // conservatively scanned, never wrongly skipped
    val before = t.snapshot().files.map(_.path).toSet
    t.append(Seq(("émile", 1), ("ümlaut", 2)).toDF("name", "v").coalesce(1))
    val last = t.snapshot().files.filterNot(f => before.contains(f.path)).head
    assert(!last.strRanges.contains("name"),
      "non-ASCII bounds must not be recorded")
    assert(t.readRangeStr("name", "é", "ü~").count() === 2L)
  }

  test("recluster tightens file ranges so readRange prunes out-of-order appends") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // interleaved appends: every file spans nearly the whole id domain
    (0 until 4).foreach(i => t.append(df(i until 300 by 4).coalesce(1)))
    assert(t.filesInRange("id", 40L, 60L).size === 4, "pre-recluster: nothing prunable")

    val post = t.recluster("id", 3)
    assert(post.operation === "recluster")
    assert(post.files.size === 3)
    // disjoint slabs: a narrow window now opens exactly one file
    assert(t.filesInRange("id", 40L, 60L).size === 1)
    // data unchanged, exactly
    assert(t.readRange("id", 40L, 60L).as[Long].collect().sorted === (40L to 60L).toArray)
    assert(t.read().count() === 300L)
    assert(t.read().distinct().count() === 300L)
  }

  test("reclusterZ gives file-skipping on BOTH dimensions") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // 30×30 grid scattered across 4 interleaved appends: every file
    // spans the full range of both x and y
    val grid = (0 until 900).map(i => (i.toLong % 30, i.toLong / 30))
    (0 until 4).foreach { s =>
      t.append(grid.zipWithIndex.collect { case ((x, y), i) if i % 4 == s => (x, y) }
        .toDF("x", "y").coalesce(1))
    }
    assert(t.filesInRange("x", 0L, 3L).size === 4)
    assert(t.filesInRange("y", 0L, 3L).size === 4)

    val post = t.reclusterZ("x", "y", 4)
    assert(post.operation === "recluster")
    assert(post.files.size === 4)
    // z-order files cover rectangles: a narrow window on EITHER
    // column now skips files — impossible with a single-column sort
    assert(t.filesInRange("x", 0L, 3L).size <= 2)
    assert(t.filesInRange("y", 0L, 3L).size <= 2)
    // data unchanged, and range reads stay exact
    assert(t.read().count() === 900L)
    assert(t.readRange("x", 5L, 5L).count() === 30L)
    assert(t.readRange("y", 7L, 7L).count() === 30L)
  }

  test("reclusterZ over THREE columns skips files on every axis") {
    val t = freshTable()
    // 12×12×12 cube scattered across 4 interleaved appends: every
    // file spans the full range of all three axes
    val cube = new scala.util.Random(11).shuffle(
      (0 until 1728).map(i =>
        (i.toLong % 12, (i.toLong / 12) % 12, i.toLong / 144)))
    cube.grouped(432).foreach(g =>
      t.append(g.toDF("x", "y", "z").coalesce(1)))
    Seq("x", "y", "z").foreach(c =>
      assert(t.filesInRange(c, 0L, 2L).size === 4))

    val post = t.reclusterZ(Seq("x", "y", "z"), 8)
    assert(post.operation === "recluster")
    assert(post.files.size === 8)
    // z-order files cover boxes: a narrow window on ANY of the three
    // axes now skips files
    Seq("x", "y", "z").foreach(c =>
      assert(t.filesInRange(c, 0L, 2L).size <= 4,
        s"no skipping on axis $c"))
    assert(t.read().count() === 1728L)
    assert(t.readRange("x", 5L, 5L).count() === 144L)
    assert(t.readRange("y", 7L, 7L).count() === 144L)
    assert(t.readRange("z", 3L, 3L).count() === 144L)
  }

  test("3-D morton interleave is injective and non-negative") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val max20 = 1 << 20
    val triples = Seq.fill(5000)((rnd.nextInt(max20).toLong,
      rnd.nextInt(max20).toLong, rnd.nextInt(max20).toLong)).distinct
    val rows = triples.toDF("a", "b", "c")
      .select(LogTable.mortonN(
        Seq(col("a"), col("b"), col("c"))).as("z"))
      .as[Long].collect()
    assert(rows.forall(_ >= 0L), "a z-value landed in the sign bit")
    assert(rows.distinct.length === triples.length)
  }

  test("morton z-values are injective and non-negative over random 31-bit pairs") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(3)
    val pairs = Seq.fill(5000)(
      (rnd.nextInt(Int.MaxValue).toLong, rnd.nextInt(Int.MaxValue).toLong)).distinct
    val rows = pairs.toDF("a", "b")
      .select(LogTable.morton(col("a"), col("b")).as("z"))
      .as[Long].collect()
    // non-negative: the sign-bit wrap regression (31-bit normalization)
    assert(rows.forall(_ >= 0L), "a z-value landed in the sign bit")
    // injective: distinct pairs → distinct z (bit interleave loses nothing)
    assert(rows.distinct.length === pairs.length)
  }

  test("removeOrphans deletes only old unreferenced files") {
    val t = freshTable()
    t.append(df(0 until 20))
    val live = t.snapshot().files.map(_.path)
    // plant an orphan data file and a stale stage dir
    val root = Paths.get(t.root)
    val orphan = root.resolve("data").resolve("orphan.parquet")
    Files.writeString(orphan, "junk")
    val staleStage = root.resolve("stage-deadbeef")
    Files.createDirectories(staleStage)
    Files.writeString(staleStage.resolve("part.parquet"), "junk")

    // cutoff in the past → nothing removed (protects in-flight writers)
    assert(t.removeOrphans(olderThanMs = 0L).isEmpty)
    assert(Files.exists(orphan))

    // future cutoff → orphan + stage dir reclaimed, live files untouched
    val removed = t.removeOrphans(olderThanMs = System.currentTimeMillis() + 60000L)
    assert(removed === Seq(orphan.toString))
    assert(!Files.exists(orphan) && !Files.exists(staleStage))
    assert(live.forall(p => Files.exists(Paths.get(p))))
    assert(t.read().count() === 20L)
  }

  test("readChanges returns exactly the rows added between two versions") {
    val t = freshTable()
    t.append(df(0 until 10))   // v1
    t.append(df(10 until 30))  // v2
    t.append(df(30 until 35))  // v3
    assert(t.readChanges(1L, 3L).as[Long].collect().sorted === (10L until 35L).toArray)
    assert(t.readChanges(2L, 3L).as[Long].collect().sorted === (30L until 35L).toArray)
    assert(t.readChanges(0L, 1L).as[Long].collect().sorted === (0L until 10L).toArray)
    // same-version diff is empty
    assert(t.readChanges(2L, 2L).count() === 0L)
    intercept[IllegalArgumentException](t.readChanges(3L, 1L))
  }

  test("rollback restores a prior snapshot as a new commit") {
    val t = freshTable()
    t.append(df(0 until 10))
    t.append(df(10 until 30))
    assert(t.read().count() === 30L)
    val rb = t.rollback(1L)
    assert(rb.operation === "rollback")
    assert(rb.version === 3L) // history preserved, new commit on top
    assert(t.read().count() === 10L)
    assert(t.timeTravel(2L).count() === 30L)
  }

  test("partitioned append records partition values; readWhere prunes on manifest only") {
    import org.apache.spark.sql.functions.col
    val t = LogTable(spark,
      Files.createTempDirectory("logtable_part_").toString,
      partitionBy = Seq("bucket"))
    val data = (0 until 90).map(i => (i.toLong, s"b${i % 3}")).toDF("id", "bucket")
    t.append(data)
    val snap = t.stats()
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.partitions.keySet === Set("bucket")))
    assert(snap.files.map(_.partitions("bucket")).toSet === Set("b0", "b1", "b2"))

    // pruned scan reads only b1's files and reconstructs the partition col
    val pruned = t.readWhere(_.get("bucket").contains("b1"))
    assert(pruned.count() === 30L)
    assert(pruned.select("bucket").distinct().as[String].collect().sameElements(Array("b1")))
    // full read sees everything with the partition column intact
    assert(t.read().count() === 90L)
    assert(t.read().groupBy("bucket").count().count() === 3L)
    // delete composes with partitioning (drop a whole partition)
    t.delete(col("bucket") === "b2")
    assert(t.read().count() === 60L)
    assert(t.stats().files.forall(f => f.partitions("bucket") != "b2"))
  }

  test("partition values with special characters round-trip through the manifest") {
    import org.apache.spark.sql.functions.col
    val t = LogTable(spark,
      Files.createTempDirectory("logtable_escape_").toString,
      partitionBy = Seq("k"))
    // '+' survives Spark's dir escaping verbatim; ':' and space get %XX
    val values = Seq("a+b", "with space", "colon:sep")
    t.append(values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "k"))
    assert(t.stats().files.map(_.partitions("k")).toSet === values.toSet,
      "manifest partition values must equal the written column values")
    values.foreach { v =>
      val hit = t.readWhere(_.get("k").contains(v))
      assert(hit.count() === 1L, s"pruned read for '$v' found nothing")
      assert(hit.select("k").head().getString(0) === v,
        s"reconstructed partition column diverged for '$v'")
    }
  }

  test("readers never see uncommitted files: orphans in data/ are invisible") {
    val t = freshTable()
    t.append(df(0 until 10))
    // simulate a crashed writer: a data file that no manifest references
    val orphanSrc = t.snapshot().files.head.path
    val orphan = Paths.get(orphanSrc).getParent.resolve("orphan-crashed-writer.parquet")
    Files.copy(Paths.get(orphanSrc), orphan)
    // a directory-listing reader would double-count; a manifest reader won't
    assert(t.read().count() === 10L)
    assert(Files.exists(orphan), "orphan must still be on disk — reads just ignore it")
  }

  test("history lists every commit with manifest-derived stats") {
    val t = freshTable()
    t.append(df(0 until 10))
    t.append(df(10 until 30))
    t.compact()
    val h = t.history().orderBy("version").collect()
    assert(h.map(_.getString(2)).toSeq === Seq("append", "append", "compact"))
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h.last.getLong(5) === 30L) // total_rows of the compacted snapshot
    assert(h.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L)) // parent chain
  }

  test("CHECK constraints: manifest-stored, writer-enforced across append/merge/update") {
    val t = freshTable()
    t.append(Seq((1, 5)).toDF("id", "v"))
    t.addCheck("v_nonneg", "v >= 0")
    assert(t.checks === Map("v_nonneg" -> "v >= 0"))
    // a violating append is rejected before any file lands
    val pre = t.currentVersion
    intercept[IllegalArgumentException] { t.append(Seq((2, -1)).toDF("id", "v")) }
    assert(t.currentVersion === pre)
    assert(t.read().count() === 1L)
    // conforming rows land; a NULL predicate is NOT a violation (SQL CHECK)
    t.append(Seq((3, Some(7)), (4, None: Option[Int])).toDF("id", "v"))
    assert(t.read().count() === 3L)
    // merge-inserted and clause-updated rows are enforced too
    intercept[IllegalArgumentException] { t.merge(Seq((9, -5)).toDF("id", "v"), "id") }
    intercept[IllegalArgumentException] { t.update($"id" === 1, Map("v" -> ($"v" - 100))) }
    assert(t.read().count() === 3L, "rejected writes must leave no rows behind")
    // a narrow merge source inserts NULL for the checked column, and a
    // NULL predicate passes — SQL CHECK semantics
    t.merge(Seq(Tuple1(9)).toDF("id"), "id")
    assert(t.read().count() === 4L)
    // addCheck validates EXISTING data first
    intercept[IllegalArgumentException] { t.addCheck("v_big", "v >= 100") }
    // constraints survive the manifest roundtrip: a fresh handle reads
    // them back from disk
    assert(LogTable(spark, t.root).checks === Map("v_nonneg" -> "v >= 0"))
    t.dropCheck("v_nonneg")
    t.append(Seq((5, -1)).toDF("id", "v"))
    assert(t.read().count() === 5L)
  }

  test("schema lives in the manifest: write-time retype rejection, O(1) schema API") {
    val t = freshTable()
    t.append(Seq((1, "x")).toDF("id", "v"))
    // authoritative schema from metadata, no data I/O
    assert(t.schema.fieldNames.toSeq === Seq("id", "v"))
    // a retype fails AT THE WRITER, loudly, before any file lands
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((2, 3.5)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("retype"))
    assert(t.read().count() === 1L, "rejected append must not land rows")
    // case-insensitive: V vs v is the same column
    intercept[IllegalArgumentException] {
      t.append(Seq((2, 3.5)).toDF("id", "V"))
    }
    // add-column evolution still works and the manifest schema grows
    t.append(Seq((2, "y", 7L)).toDF("id", "v", "extra"))
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "extra"))
    assert(t.read().filter($"extra".isNull).count() === 1L)
    // a wider MERGE source also grows the schema through the commit
    t.merge(Seq((1, "z", 9L, "w")).toDF("id", "v", "extra", "wide"), "id")
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "extra", "wide"))
    // rollback restores the older snapshot's schema with its files
    val target = 1L
    t.rollback(target)
    assert(t.schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("schema evolution: later appends may add columns; old rows read them as null") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append(df(0 until 10))
    t.append((10 until 20).map(i => (i, s"tag$i")).toDF("id", "tag"))
    val out = t.read()
    assert(out.columns.toSet === Set("id", "tag"))
    assert(out.count() === 20L)
    assert(out.filter(col("tag").isNull).count() === 10L) // pre-evolution rows
    assert(out.filter(col("tag").isNotNull).count() === 10L)
    // old snapshot keeps the old schema
    assert(t.timeTravel(1L).columns.toSet === Set("id"))
  }

  test("merge schema evolution: matched rows take the new column's values, kept rows read null") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append((0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    // source carries a brand-new column; ids 0..4 matched, 100 inserted
    val src = ((0 until 5).map(i => (i.toLong, s"V$i", i * 10L)) :+
      ((100L, "NEW", 999L))).toDF("id", "v", "rank")
    t.merge(src, "id")
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "rank"))
    val rows = t.read().select("id", "rank").as[(Long, Option[Long])]
      .collect().toMap
    // updated rows carry the VALUES (Delta autoMerge parity) ...
    (0 until 5).foreach(i => assert(rows(i.toLong) === Some(i * 10L)))
    assert(rows(100L) === Some(999L))
    // ... kept rows in rewritten files AND untouched files read null
    (5 until 20).foreach(i => assert(rows(i.toLong) === None))
    assert(t.read().count() === 21L)
  }

  test("renameColumn is metadata-only: all file generations read under the new name, old snapshots keep theirs") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = freshTable()
    t.append((0 until 10).map(i => (i.toLong, i * 2L)).toDF("id", "score")) // files store 'score'
    val preRename = t.currentVersion
    val nFilesBefore = t.snapshot().files.map(_.path).toSet

    t.renameColumn("score", "points")
    // metadata-only: not one data file was touched
    assert(t.snapshot().files.map(_.path).toSet === nFilesBefore)
    // the field kept its identity (stable field id across the rename)
    val fBefore = t.timeTravel(preRename).schema.find(_.name == "score")
      .map(graft.sources.LogTable.fieldId).flatten
    val fAfter = t.schema.find(_.name == "points")
      .map(graft.sources.LogTable.fieldId).flatten
    assert(fBefore.isDefined && fBefore === fAfter)

    // pre-rename files answer under the NEW name with their old values
    assert(t.read().columns.toSeq === Seq("id", "points"))
    assert(t.read().filter(col("points") === col("id") * 2).count() === 10L)
    // new appends write under the new name; both generations coexist
    t.append((10 until 20).map(i => (i.toLong, i * 2L)).toDF("id", "points"))
    assert(t.read().count() === 20L)
    assert(t.read().filter(col("points") === col("id") * 2).count() === 20L)
    // the old snapshot still reads its own schema
    assert(t.timeTravel(preRename).columns.toSeq === Seq("id", "score"))
    // writing under the VACATED name fails loudly (it would alias the
    // renamed field's old files)
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((99L, 1L, 5L)).toDF("id", "points", "score"))
    }
    assert(e.getMessage.contains("renamed"))
    // COW ops on pre-rename files keep values through the rewrite
    t.update(col("id") === 0L, Map("points" -> lit(777L)))
    assert(t.read().filter(col("id") === 0L).select("points").head().getLong(0) === 777L)
    assert(t.read().filter(col("points") === col("id") * 2).count() === 19L)
  }

  test("rename chains read every file generation; SQL filters on renamed columns stay exact") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append(Seq((1L, "alpha")).toDF("id", "a"))
    t.renameColumn("a", "b")
    t.append(Seq((2L, "beta")).toDF("id", "b"))
    t.renameColumn("b", "c")
    t.append(Seq((3L, "gamma")).toDF("id", "c"))
    val rows = t.read().select("id", "c").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
    assert(t.read().filter(col("c") === "beta").count() === 1L)
    // neither historical name is addressable in the current schema
    assert(!t.read().columns.contains("a") && !t.read().columns.contains("b"))
  }

  test("dropColumn projects the field out everywhere; the name is tombstoned against resurrection") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.append((0 until 10).map(i => (i.toLong, s"secret$i", i * 1.0)).toDF("id", "pii", "score"))
    val preDrop = t.currentVersion
    t.dropColumn("pii")
    // current reads no longer see it; no file was rewritten
    assert(t.read().columns.toSeq === Seq("id", "score"))
    assert(t.schema.fieldNames.toSeq === Seq("id", "score"))
    // time travel still reads the dropped column (its files are intact)
    assert(t.timeTravel(preDrop).columns.contains("pii"))
    // appends keep working, and the dropped name cannot come back —
    // old files still hold values under it and a re-add would
    // resurrect them into the new column
    t.append((10 until 15).map(i => (i.toLong, i * 1.0)).toDF("id", "score"))
    assert(t.read().count() === 15L)
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((99L, 0.0, "ghost")).toDF("id", "score", "pii"))
    }
    assert(e.getMessage.contains("dropped"))
    // a RENAMED-then-dropped field tombstones its whole name history
    t.renameColumn("score", "rating")
    t.dropColumn("rating")
    intercept[IllegalArgumentException] {
      t.append(Seq((100L, 1.0)).toDF("id", "score"))
    }
  }

  test("schema evolution guards: partition columns and checked columns are immovable") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("lt_evo_guard_").toString
    val t = LogTable(spark, dir, partitionBy = Seq("part"))
    t.append((0 until 6).map(i => (i.toLong, s"p${i % 2}", i * 1.0)).toDF("id", "part", "v"))
    intercept[IllegalArgumentException] { t.renameColumn("part", "bucket") }
    intercept[IllegalArgumentException] { t.dropColumn("part") }
    t.addCheck("v_nonneg", "v >= 0")
    val e = intercept[IllegalArgumentException] { t.dropColumn("v") }
    assert(e.getMessage.contains("v_nonneg"))
    intercept[IllegalArgumentException] { t.renameColumn("v", "w") }
    // dropping the constraint unblocks the evolution
    t.dropCheck("v_nonneg")
    t.renameColumn("v", "w")
    assert(t.read().filter(col("w") >= 0).count() === 6L)
  }

  test("hidden partitioning: hour(ts_us) lays files out by hour and range scans open only overlapping hours") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("lt_hidden_hour_").toString
    val t = LogTable(spark, dir, hiddenBy = Seq(graft.sources.Transform.hour("ts_us")))
    val hourUs = 3600000000L
    // 6 hours of data in ONE append, arriving unsorted — hidden
    // partitioning clusters them by hour anyway
    val rows = (0 until 600).map { i =>
      (i.toLong, (i % 6).toLong * hourUs + (i / 6).toLong * 1000L, s"e$i")
    }
    t.append(rows.toDF("id", "ts_us", "v").repartition(4))
    // the derived key never became a table column
    assert(t.read().columns.toSeq === Seq("id", "ts_us", "v"))
    assert(t.read().count() === 600L)
    // every committed file belongs to exactly one hour directory
    assert(t.snapshot().files.forall(_.partitions.contains("_p_ts_us_hour")))
    val totalFiles = t.snapshot().files.size
    // a 2-hour window opens ONLY those hours' files
    val kept = t.filesInRange("ts_us", 2L * hourUs, 4L * hourUs - 1L)
    assert(kept.nonEmpty && kept.size < totalFiles)
    assert(kept.forall(f =>
      Set("2", "3").contains(f.partitions("_p_ts_us_hour"))))
    // and the result is exact
    val got = t.readRange("ts_us", 2L * hourUs, 4L * hourUs - 1L)
    assert(got.count() === 200L)
    assert(got.filter(col("ts_us") < 2L * hourUs).count() === 0L)
    // COW rewrites re-derive the layout: delete hour-0 rows, survivors
    // stay correctly clustered and pruning still works
    t.delete(col("ts_us") < hourUs)
    assert(t.read().count() === 500L)
    assert(t.snapshot().files.forall(_.partitions.contains("_p_ts_us_hour")))
    assert(t.filesInRange("ts_us", 0L, hourUs - 1L)
      .forall(_.partitions("_p_ts_us_hour") === "0") === true)
  }

  test("hidden partitioning: a null hour(ts_us) directory neither breaks nor widens typed range reads") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("lt_hidden_null_").toString
    val t = LogTable(spark, dir, hiddenBy = Seq(graft.sources.Transform.hour("ts_us")))
    val hourUs = 3600000000L
    t.append(Seq((1L, Some(10L)), (2L, Some(2L * hourUs)), (3L, None: Option[Long]))
      .toDF("id", "ts_us"))
    // the null row lands in the null directory
    assert(t.snapshot().files.exists(
      _.partitions.get("_p_ts_us_hour").contains("__HIVE_DEFAULT_PARTITION__")))
    val viaSource = spark.read.format("graft").load(dir)
      .filter(col("ts_us") >= 0L && col("ts_us") <= hourUs).count()
    assert(viaSource === 1L)
    assert(t.readRange("ts_us", 0L, hourUs).count() === viaSource)
    val kept = t.filesInRange("ts_us", 0L, hourUs)
    assert(kept.map(_.partitions("_p_ts_us_hour")) === Seq("0"))
  }

  test("hidden partitioning: year/month calendar ordinals — whole domain incl. pre-1970, write/derive parity, pruning") {
    import org.apache.spark.sql.functions.col
    val day = 86400000000L
    def us(date: String): Long =
      java.time.LocalDate.parse(date).toEpochDay * day
    // derive is the Iceberg calendar ordinal, floor-based on the whole
    // domain (negative epochs included — unlike day/hour's trunc-div)
    val y = graft.sources.Transform.year("ts_us")
    assert(y.derive(us("2024-06-01")) === 54L)
    assert(y.derive(us("1970-01-01")) === 0L)
    assert(y.derive(-1L) === -1L)            // 1969-12-31 23:59:59.999999
    assert(y.derive(us("1969-01-01")) === -1L)
    assert(y.derive(us("1968-12-31")) === -2L)
    val m = graft.sources.Transform.month("ts_us")
    assert(m.derive(us("1970-01-31")) === 0L)
    assert(m.derive(us("1970-02-01")) === 1L)
    assert(m.derive(-1L) === -1L)            // Dec 1969
    assert(m.derive(us("1969-11-30")) === -2L)
    assert(m.derive(us("2024-03-15")) === (54L * 12 + 2))

    // the WRITE column (SQL expr) lands files under exactly derive's
    // ordinals — negative epochs included
    val dir = Files.createTempDirectory("lt_hidden_year_").toString
    val t = LogTable(spark, dir,
      hiddenBy = Seq(graft.sources.Transform.year("ts_us")))
    val vals = Seq(us("1969-06-15") + 123L, -1L, 0L, us("1971-02-03"),
      us("2024-06-01") + 5L)
    t.append(vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "ts_us").repartition(3))
    val ords = t.snapshot().files.flatMap(_.partitions.get("_p_ts_us_year")).toSet
    assert(ords === vals.map(v => y.derive(v).toString).toSet)
    assert(ords === Set("-1", "0", "1", "54"))

    // range pruning through the calendar transform (monotone)
    val kept = t.filesInRange("ts_us", us("1971-01-01"), us("2025-01-01"))
    assert(kept.nonEmpty)
    assert(kept.flatMap(_.partitions.get("_p_ts_us_year")).toSet === Set("1", "54"))
    assert(t.readRange("ts_us", us("1971-01-01"), us("2025-01-01")).count() === 2L)
    // pre-1970 window prunes exactly too
    assert(t.filesInRange("ts_us", us("1969-01-01"), -1L)
      .flatMap(_.partitions.get("_p_ts_us_year")).toSet === Set("-1"))

    // month layout over a TIMESTAMP source: same ordinals as a µs-long
    // source's (unix_micros derive), calendar-exact
    val dirM = Files.createTempDirectory("lt_hidden_month_").toString
    val tm = LogTable(spark, dirM,
      hiddenBy = Seq(graft.sources.Transform.month("time")))
    tm.append(Seq(us("1969-12-31"), us("1970-01-05"), us("1970-02-10"),
      us("2024-03-15"))
      .zipWithIndex.map { case (v, i) =>
        (i.toLong, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(v, 1000000L))))
      }.toDF("id", "time"))
    assert(tm.snapshot().files.flatMap(_.partitions.get("_p_time_month")).toSet ===
      Set("-1", "0", "1", (54 * 12 + 2).toString))
    // timestamp-literal pruning rides the DSv2 filter path
    val keptM = tm.snapshot().prunedFiles(Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("time",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          us("1970-02-01") / 1000000L)))))
    assert(keptM.flatMap(_.partitions.get("_p_time_month")).toSet ===
      Set("1", (54 * 12 + 2).toString))

    // the SQL DDL grammar accepts the new kinds, singular and plural
    for (spec <- Seq("year(a), month(b), day(c), hour(d)",
        "years(a), months(b), days(c), hours(d)")) {
      val (pc, tr) = graft.sources.Transform.parseSpecs(spec)
      assert(pc.isEmpty)
      assert(tr === Seq(graft.sources.Transform.year("a"),
        graft.sources.Transform.month("b"), graft.sources.Transform.day("c"),
        graft.sources.Transform.hour("d")))
    }
  }

  test("hidden partitioning: bucket(n, id) prunes point lookups to one bucket") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("lt_hidden_bucket_").toString
    val t = LogTable(spark, dir,
      hiddenBy = Seq(graft.sources.Transform.bucket(8, "user_id")))
    t.append((0 until 400).map(i => (i.toLong, (i % 40).toLong, i * 1.0))
      .toDF("id", "user_id", "v").repartition(4))
    val total = t.snapshot().files.size
    assert(total >= 8, s"expected >= 8 bucket files, got $total")
    // the lookup opens only the key's bucket
    val wanted = graft.sources.Transform.bucket(8, "user_id").derive(17L)
    val kept = t.filesForPoint("user_id", 17L)
    assert(kept.nonEmpty && kept.size < total)
    assert(kept.forall(_.partitions("_p_user_id_bucket") === wanted.toString))
    // and the result is exact
    assert(t.readPoint("user_id", 17L).count() === 10L)
    assert(t.readPoint("user_id", 17L).filter(col("user_id") =!= 17L).count() === 0L)
    // a non-Long source fails loudly at the writer (hash domain drift)
    val t2 = LogTable(spark, Files.createTempDirectory("lt_hidden_bad_").toString,
      hiddenBy = Seq(graft.sources.Transform.bucket(4, "name")))
    val e = intercept[IllegalArgumentException] {
      t2.append(Seq((1L, "x")).toDF("id", "name"))
    }
    assert(e.getMessage.contains("LongType"))
  }

  test("concurrent appends all land (optimistic link-commit retry)") {
    // the publish primitive must be CREATE-or-fail: on Linux a rename
    // (Files.move ATOMIC_MOVE → rename(2)) silently REPLACES an
    // existing manifest, so a version collision would LOSE the
    // winner's commit without any error — 8 racing writers make that
    // loss observable as missing rows/versions
    val t = freshTable()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = (0 until 8).map { i =>
      Future(t.append(df(i * 100 until i * 100 + 50)))
    }
    Await.result(Future.sequence(futures), 120.seconds)
    pool.shutdown()
    assert(t.currentVersion === 8L)
    assert(t.versions === (1L to 8L))
    assert(t.read().count() === 400L)
    assert(t.read().distinct().count() === 400L)
  }

  test("compact racing appends loses no rows (the classic lakehouse race)") {
    val t = freshTable()
    (0 until 4).foreach(i => t.append(df(i * 10 until (i + 1) * 10)))
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // compaction rewrites the 4 small files while two appends land
    val fCompact = Future(t.compact())
    val fAppends = (0 until 2).map(i =>
      Future(t.append(df(100 + i * 10 until 100 + (i + 1) * 10))))
    Await.result(Future.sequence(fCompact +: fAppends), 120.seconds)
    pool.shutdown()
    // every row present exactly once, whatever the commit interleaving
    assert(t.read().count() === 60L)
    assert(t.read().distinct().count() === 60L)
    assert(t.read().agg(Map("id" -> "max")).head().getInt(0) === 119)
    // the compact commit replaced only the files it actually rewrote
    assert(t.snapshot().files.nonEmpty)
  }

  test("partition spec persists in the manifest: spec-less reopen writes the declared layout") {
    val root = Files.createTempDirectory("logtable_spec_").toString
    val declared = LogTable(spark, root,
      partitionBy = Seq("kind"), hiddenBy = Seq(Transform.bucket(4, "id")))
    declared.append((0 until 40).map(i => (i.toLong, s"k${i % 2}")).toDF("id", "kind"))

    // a FRESH spec-less handle (new session / catalog / SQL surface)
    // adopts the recorded spec and lays new files out identically
    val reopened = LogTable(spark, root)
    assert(reopened.partitionBy === Seq("kind"))
    assert(reopened.hiddenBy === Seq(Transform.bucket(4, "id")))
    reopened.append((40 until 80).map(i => (i.toLong, s"k${i % 2}")).toDF("id", "kind"))
    val snap = reopened.snapshot()
    assert(snap.files.forall(f =>
      f.partitions.contains("kind") && f.partitions.contains("_p_id_bucket")))
    // point prune through the hidden bucket still holds across both writers
    assert(reopened.filesForPoint("id", 57L).size < snap.files.size)
    assert(reopened.readPoint("id", 57L).where($"id" === 57L).count() === 1L)

    // a CONFLICTING declared spec is rejected loudly, not silently mixed
    val e = intercept[IllegalArgumentException] {
      LogTable(spark, root, partitionBy = Seq("id"))
    }
    assert(e.getMessage.contains("partition spec"))
  }

  test("branch-scoped retention: a busy branch expires its intermediates, keeps base + head") {
    val t = freshTable()
    t.append(df(0 until 10))
    val b = t.createBranch("wap")
    // a WAP loop lands a snapshot per audited batch
    (0 until 4).foreach(i => b.append(df(100 + i * 10 until 100 + (i + 1) * 10)))
    assert(b.versions === (1L to 5L))
    val midFiles = b.snapshot(3L).files.map(_.path)

    b.expire(keepLast = 1)
    // the fork-point base (v1) is the branch's identity — never expired
    assert(b.versions === Seq(1L, 5L))
    assert(b.snapshot(1L).tag === "base-v1")
    assert(b.read().count() === 50L) // head unaffected
    // files still referenced by the head (or by main) survive;
    // branch-only intermediates that the head still lists survive too
    assert(b.snapshot().files.map(_.path).forall(p => Files.exists(Paths.get(p))))
    assert(midFiles.forall(p => Files.exists(Paths.get(p))))
    assert(t.read().count() === 10L) // main untouched
    // the fork-point record still drives fastForward after expiry
    t.fastForward("wap")
    assert(t.read().count() === 50L)
    // the SQL surface exposes the same maintenance knob
    val root2 = Files.createTempDirectory("expire_branch_sql_").toString
    val t2 = LogTable(spark, root2)
    t2.append(df(0 until 5))
    GraftSql.register("tb_exp", t2)
    t2.createBranch("audit")
    (0 until 3).foreach(i => t2.branch("audit").append(df(i * 5 until (i + 1) * 5)))
    GraftSql.exec(spark, "CALL expire_branch(tb_exp, 'audit', 1)")
    assert(t2.branch("audit").versions === Seq(1L, 4L))
  }

  test("snapshot summary: audit properties round-trip and surface in history()") {
    val t = freshTable()
    t.append(df(0 until 10))
    t.append(df(10 until 30))
    import org.apache.spark.sql.functions.col
    t.delete(col("id") < 5L)
    // a FRESH handle parses the summaries from disk — full round-trip
    val re = LogTable(spark, t.root)
    val s2 = re.snapshot(2L)
    assert(s2.summary("added-data-files").toLong >= 1L)
    assert(s2.summary("added-rows") === "20")
    assert(s2.summary("removed-data-files") === "0")
    assert(s2.summary("total-rows") === "30")
    assert(s2.summary("app-id").nonEmpty)
    val s3 = re.snapshot(3L)
    assert(s3.summary("removed-rows").toLong >= 5L) // rewritten files out
    assert(s3.summary("added-rows").toLong === s3.summary("removed-rows").toLong - 5L)
    // history() exposes the map as a queryable column
    val h = re.history().where(col("version") === 3L)
      .selectExpr("summary['removed-rows']").as[String].head()
    assert(h.toLong >= 5L)
    // unknown keys survive render/parse: hand-craft a manifest edit
    val mf = Paths.get(t.root, "_graft_log", f"v${3L}%05d.manifest.json")
    val edited = Files.readString(mf).replaceFirst(
      "\"summary\"\\s*:\\s*\\{", "\"summary\": {\"x-custom-key\": \"kept\",")
    Files.writeString(mf, edited)
    val re2 = LogTable(spark, t.root)
    assert(re2.snapshot(3L).summary("x-custom-key") === "kept")
  }

  test("nested (struct-field) ALTERs are refused loudly, never half-applied") {
    val t = LogTable(spark, Files.createTempDirectory("nested_alter_").toString)
    t.append(Seq((1L, ("a", 2L))).toDF("id", "s"))
    val before = t.snapshot().schemaJson
    Seq(
      intercept[IllegalArgumentException](t.renameColumn("s.inner", "x")),
      intercept[IllegalArgumentException](t.dropColumn("s.inner")),
      intercept[IllegalArgumentException](t.widenColumn("s.inner",
        org.apache.spark.sql.types.LongType)),
    ).foreach(e => assert(e.getMessage.contains("top-level")))
    // addColumn's identifier validation refuses the dotted path too
    intercept[IllegalArgumentException](t.addColumn("s.inner",
      org.apache.spark.sql.types.LongType))
    assert(t.snapshot().schemaJson === before, "no partial schema commit")
    // whole-struct operations at the top level still work
    t.renameColumn("s", "payload")
    assert(t.read().columns.toSeq === Seq("id", "payload"))
  }
}
