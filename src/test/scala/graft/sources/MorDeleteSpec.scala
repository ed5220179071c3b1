package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Merge-on-read position deletes (Iceberg v2 parity): deleteMor marks
  * rows in small delete files instead of rewriting data files; reads
  * anti-join the marks away; compact folds the debt into clean files;
  * every COW path stays delete-aware (never resurrects a marked row);
  * and the manifest arithmetic (countMeta) stays exact throughout. */
class MorDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): LogTable =
    LogTable(spark, Files.createTempDirectory("mor_spec_").toString)

  private def df(ids: Range): DataFrame = ids.toDF("id")

  test("deleteMor marks rows without rewriting any data file; reads and time travel stay exact") {
    val t = freshTable()
    t.append(df(0 until 100).repartition(4))
    val preFiles = t.snapshot().files.map(_.path).toSet

    val s = t.deleteMor(col("id") < 10)
    assert(s.operation === "mor-delete")
    // merge-on-read: the data files are untouched — only a delete file landed
    assert(s.files.map(_.path).toSet === preFiles)
    assert(s.deletes.size === 1)
    assert(s.deletes.head.rows === 10L)
    assert(Files.exists(Paths.get(s.deletes.head.path)))

    assert(t.read().count() === 90L)
    assert(t.read().filter(col("id") < 10).count() === 0L)
    assert(t.read().distinct().count() === 90L)
    // the pre-delete snapshot still sees every row (its manifest has no deletes)
    assert(t.timeTravel(1L).count() === 100L)
    // manifest arithmetic stays exact with zero data I/O
    assert(t.countMeta() === 90L)
  }

  test("deleteMor is delete-aware: repeated and overlapping deletes never double-mark") {
    val t = freshTable()
    t.append(df(0 until 50))
    t.deleteMor(col("id") < 20)
    // overlaps the first delete's range — already-marked positions must not re-mark
    t.deleteMor(col("id") < 30)
    assert(t.read().count() === 20L)
    assert(t.countMeta() === 20L)
    assert(t.snapshot().deletes.map(_.rows).sum === 30L)
    // a delete matching nothing commits nothing
    val v = t.currentVersion
    t.deleteMor(col("id") < 30)
    assert(t.currentVersion === v)
    // NULL predicates keep their row (SQL three-valued logic)
    val t2 = freshTable()
    t2.append(Seq((1L, Some("a")), (2L, None: Option[String]), (3L, Some("x")))
      .toDF("id", "s"))
    t2.deleteMor(col("s") === "a")
    assert(t2.read().count() === 2L) // the null-predicate row survived
    assert(t2.countMeta() === 2L)
  }

  test("compact folds outstanding deletes into clean files and GCs the delete files") {
    val t = freshTable()
    (0 until 3).foreach(i => t.append(df(i * 10 until (i + 1) * 10)))
    t.deleteMor(col("id") % 2 === 0)
    assert(t.countMeta() === 15L)
    val preVersion = t.currentVersion

    val post = t.compact()
    assert(post.operation === "compact")
    assert(post.deletes.isEmpty) // debt folded, manifest GC'd the delete files
    assert(t.read().count() === 15L)
    assert(t.read().filter(col("id") % 2 === 0).count() === 0L)
    assert(t.countMeta() === 15L)
    // delete→read→compact→read identical
    assert(t.timeTravel(preVersion).select("id").as[Long].collect().sorted
      === t.read().select("id").as[Long].collect().sorted)
    // time travel ACROSS the fold still applies the old snapshot's deletes
    assert(t.timeTravel(preVersion).count() === 15L)
  }

  test("a large marking pass shards its delete files along the data-file axis") {
    val t = freshTable()
    // 24 data files → ceil(24/8) = 3 shards; every file holds marks
    t.append(df(0 until 240).repartition(24))
    assert(t.snapshot().files.size === 24)
    val s = t.deleteMor(col("id") % 10 === 0) // 24 marked rows, all files
    // 3 shard SLOTS; occupancy hashes the (temp-path) file names, so a
    // slot can land empty on an unlucky run — sharding must engage
    // (>1 file) and never exceed the slot count
    assert(s.deletes.size >= 2 && s.deletes.size <= 3,
      s"marking pass should shard into 2-3 files, got ${s.deletes.size}")
    // every data file's marks land WHOLLY in one delete file (read
    // amplification: one delete read per data file)
    val owners = s.deletes.flatMap(d => d.counts.keys.map(_ -> d.path))
    assert(owners.map(_._1).distinct.size === owners.size,
      "a data file's marks straddle delete files")
    assert(s.deletes.map(_.counts.values.sum).sum === 24L)
    assert(t.read().count() === 216L)
    assert(t.countMeta() === 216L) // mark counts stay exact per file
    // compact folds all shards; the debt gauge returns to zero
    t.compact()
    assert(t.snapshot().deletes.isEmpty && t.read().count() === 216L)
  }

  test("COW delete/update on a table with outstanding MoR deletes never resurrects marked rows") {
    val t = freshTable()
    t.append(df(0 until 40).coalesce(1)) // one data file
    t.deleteMor(col("id") < 10) // rows 0-9 marked
    // COW update rewrites the (single) affected file — the rewrite must fold the marks
    t.update(col("id") >= 30, Map("id" -> (col("id") + 100L)))
    assert(t.read().count() === 30L)
    assert(t.read().filter(col("id") < 10).count() === 0L)
    assert(t.read().filter(col("id") >= 130).count() === 10L)
    // the rewrite replaced every referenced file → delete files GC'd
    assert(t.snapshot().deletes.isEmpty)
    assert(t.countMeta() === 30L)

    val t2 = freshTable()
    t2.append(df(0 until 40).coalesce(1))
    t2.deleteMor(col("id") < 10)
    t2.delete(col("id") >= 35) // COW delete on top of MoR marks
    assert(t2.read().select("id").as[Int].collect().sorted === (10 until 35).toArray)
    assert(t2.countMeta() === 25L)
  }

  test("pruned reads (readRange/readPoint) and merge stay delete-aware") {
    val root = Files.createTempDirectory("mor_spec_").toString
    val t = LogTable(spark, root, hiddenBy = Seq(Transform.bucket(4, "id")))
    t.append((0 until 100).map(_.toLong).toDF("id"))
    t.deleteMor(col("id") === 7)
    assert(t.readRange("id", 0L, 10L).count() === 10L)
    assert(t.readPoint("id", 7L).count() === 0L)
    assert(t.readPoint("id", 8L).count() === 1L)

    // merge: a source row keyed on a MoR-deleted id must INSERT (the
    // target row is dead), not update a ghost
    val t2 = freshTable()
    t2.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t2.deleteMor(col("id") === 2)
    t2.merge(Seq((2L, "B2"), (3L, "C2")).toDF("id", "v"), "id")
    val got = t2.read().as[(Long, String)].collect().sortBy(_._1)
    assert(got === Array((1L, "a"), (2L, "B2"), (3L, "C2")))
  }

  test("countMeta needs zero data I/O; minMaxMeta is exact or None, never wrong") {
    val t = freshTable()
    t.append(df(0 until 77))
    assert(t.countMeta() === 77L)
    assert(t.minMaxMeta("id") === Some((0L, 76L)))
    assert(t.minMaxMeta("nope") === None)

    // move the data pool away — the manifest alone must still answer
    val data = Paths.get(t.root).resolve("data")
    val hidden = Paths.get(t.root).resolve("data_hidden")
    Files.move(data, hidden, StandardCopyOption.ATOMIC_MOVE)
    try assert(t.countMeta() === 77L)
    finally Files.move(hidden, data, StandardCopyOption.ATOMIC_MOVE)

    // under outstanding deletes: count stays exact (arithmetic), but
    // min/max could have lost its extremum → metadata refuses
    t.deleteMor(col("id") === 0)
    assert(t.countMeta() === 76L)
    assert(t.minMaxMeta("id") === None)
    // folding the debt restores metadata answers
    t.compact()
    assert(t.minMaxMeta("id") === Some((1L, 76L)))
  }

  test("readAppends fails loudly at a mor-delete boundary; the batch source applies the marks") {
    val t = freshTable()
    t.append(df(0 until 10))
    t.deleteMor(col("id") < 3)
    // the append changelog cannot represent a row-changing commit
    val e = intercept[IllegalStateException](t.readAppends(1L))
    assert(e.getMessage.contains("mor-delete"))
    // the DSv2 batch scan applies position deletes executor-side —
    // same rows as the delete-aware API read, before any compaction
    assert(spark.read.format("graft").load(t.root)
      .orderBy("id").collect().map(_.toSeq).toSeq ===
      t.read().orderBy("id").collect().map(_.toSeq).toSeq)
    assert(spark.read.format("graft").load(t.root).count() === 7L)
    // after compaction folds the debt the answer is unchanged
    t.compact()
    assert(spark.read.format("graft").load(t.root).count() === 7L)
  }

  test("mergeMor: upsert as position marks + appended batch — no data file rewritten") {
    val t = freshTable()
    t.append((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartition(4))
    val before = t.snapshot().files.map(_.path).toSet

    // 50 matched (replaced), 50 unmatched (inserted)
    val src = (50 until 150).map(i => (i.toLong, s"NEW$i")).toDF("id", "s")
    val s1 = t.mergeMor(src, "id")
    assert(s1.operation === "mor-merge")
    assert(before.subsetOf(s1.files.map(_.path).toSet), "no file rewritten")
    assert(s1.deletes.size === 1 && s1.deletes.head.rows === 50L)

    // result equals the COW merge on a parallel table
    val cow = freshTable()
    cow.append((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    cow.merge(src, "id")
    assert(t.read().orderBy("id").collect().map(_.toSeq).toSeq ===
      cow.read().orderBy("id").collect().map(_.toSeq).toSeq)

    // manifest arithmetic stays exact; keys stay unique
    assert(t.countMeta() === 150L)
    assert(t.read().select("id").distinct().count() === 150L)

    // a second overlapping upsert marks disjoint positions
    t.mergeMor((100 until 160).map(i => (i.toLong, s"X$i")).toDF("id", "s"), "id")
    assert(t.countMeta() === 160L)
    assert(t.read().filter(col("id") === 120L).select("s").head().getString(0) === "X120")

    // duplicate source keys are refused loudly
    val e = intercept[IllegalArgumentException] {
      t.mergeMor(src.union(src), "id")
    }
    assert(e.getMessage.contains("duplicate keys"))

    // the changelog cannot represent the upsert; compact folds the debt
    intercept[IllegalStateException](t.readAppends(1L))
    t.compact()
    assert(t.snapshot().deletes.isEmpty)
    assert(t.countMeta() === 160L)
    assert(t.read().filter(col("id") === 120L).select("s").head().getString(0) === "X120")
  }

  test("the MoR read plan is a codegen'd DV filter — no join, no shuffle, no sort") {
    val t = freshTable()
    t.append(df(0 until 1000).repartition(4))
    t.deleteMor(col("id") % 10 === 0)
    val p = t.read().queryExecution.executedPlan.toString
    // marked positions apply inside the scan task: no join at all
    assert(p.contains("BatchScan graft"), p.take(800))
    assert(!p.contains("Join") && !p.contains("Exchange") && !p.contains("Sort"))
    assert(t.read().count() === 900L)
  }

  test("legacy parquet-encoded deletes still read (broadcast anti-join), and mix with DVs") {
    val t = freshTable()
    t.append(df(0 until 1000).repartition(4))
    spark.conf.set("graft.deletes.vector", "false")
    try t.deleteMor(col("id") % 10 === 0)
    finally spark.conf.unset("graft.deletes.vector")
    assert(t.snapshot().deletes.forall(_.path.endsWith(".parquet")))
    val p = t.read().queryExecution.executedPlan.toString
    assert(p.contains("BatchScan graft") &&
      !p.contains("Join") && !p.contains("Exchange") && !p.contains("Sort"), p.take(800))
    assert(t.read().count() === 900L)
    // a second, DV-encoded delete lands on top: BOTH forms apply in one read
    t.deleteMor(col("id") === 1L)
    assert(t.snapshot().deletes.exists(_.path.endsWith(".dv")))
    assert(t.snapshot().deletes.exists(_.path.endsWith(".parquet")))
    val p2 = t.read().queryExecution.executedPlan.toString
    assert(p2.contains("BatchScan graft") &&
      !p2.contains("Join") && !p2.contains("Exchange") && !p2.contains("Sort"))
    assert(t.read().count() === 899L)
    assert(t.read().where("id = 1").count() === 0L)
    assert(t.read().where("id = 11").count() === 1L)
    // compact folds BOTH encodings into clean files
    t.compact()
    assert(t.snapshot().deletes.isEmpty)
    assert(t.read().count() === 899L)
  }

  test("CALL delete_mor and the <t>_deletes debt-gauge view drive MoR from SQL") {
    val t = freshTable()
    GraftSql.register("mor_sql", t)
    t.append(df(0 until 50))
    GraftSql.exec(spark, "CALL delete_mor(mor_sql, 'id < 5')")
    assert(GraftSql.exec(spark, "SELECT count(*) FROM mor_sql").head().getLong(0) === 45L)
    // the debt gauge: one delete file, 5 marks, manifest metadata only
    val gauge = spark.sql("SELECT marks, n_ref_files FROM mor_sql_deletes").collect()
    assert(gauge.map(_.getLong(0)).sum === 5L)
    // compaction folds the debt; the gauge reads empty
    GraftSql.exec(spark, "CALL compact(mor_sql)")
    assert(spark.sql("SELECT count(*) FROM mor_sql_deletes").head().getLong(0) === 0L)
    assert(GraftSql.exec(spark, "SELECT count(*) FROM mor_sql").head().getLong(0) === 45L)
  }

  test("expire reclaims delete files of dropped snapshots; live ones survive removeOrphans") {
    val t = freshTable()
    t.append(df(0 until 30))
    t.deleteMor(col("id") < 5)
    val delPath = t.snapshot().deletes.head.path
    // vacuum with the delete file still referenced: must survive
    t.removeOrphans(olderThanMs = System.currentTimeMillis() + 60000L)
    assert(Files.exists(Paths.get(delPath)))
    assert(t.read().count() === 25L)
    // fold + expire: the old snapshots (and their delete file) age out
    t.compact()
    t.expire(keepLast = 1)
    assert(!Files.exists(Paths.get(delPath)))
    assert(t.read().count() === 25L)
  }
}
