package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The DSv2 source ([[GraftTableProvider]]): batch + streaming reads
  * of a LogTable through `format("graft")`, offset = manifest version. */
class GraftSourceSpec extends SparkSpec {
  import org.apache.spark.sql.SparkSession

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Run one AvailableNow pass of the stream into an exactly-once
    * LogTable sink (append tagged with the micro-batch id — Spark's
    * offset log pins the batch range, the tag absorbs replays). */
  private def drain(root: String, cp: String, sink: LogTable,
      extraOptions: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft").options(extraOptions)
    val q = reader.load(root)
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (b: DataFrame, id: Long) =>
        sink.append(b, tag = s"batch-$id")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("batch read: format(graft) == API read; versionAsOf time-travels") {
    import spark.implicits._
    val root = tmp("gsrc-batch")
    val t = LogTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    val got = spark.read.format("graft").load(root)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(got === t.read().orderBy("id").collect().map(_.toSeq).toSeq)
    assert(spark.read.format("graft").option("versionAsOf", "1")
      .load(root).count() === 2)
  }

  test("streaming: exactly-once across checkpoint restarts, concurrent ingest, in-loop compaction") {
    import spark.implicits._
    val root = tmp("gsrc-stream")
    val t = LogTable(spark, root)
    val sink = LogTable(spark, tmp("gsrc-sink"))
    val cp = tmp("gsrc-cp")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    drain(root, cp, sink)
    assert(sink.read().count() === 3)
    // a concurrent writer lands more commits; the maintenance loop
    // compacts everything small (a real rewrite, not a no-op)
    t.append(Seq((4L, "d")).toDF("id", "s"))
    t.append(Seq((5L, "e")).toDF("id", "s"))
    val before = t.snapshot().files.map(_.path).toSet
    t.compact(smallBytes = 1L << 20)
    assert(t.snapshot().files.map(_.path).toSet != before, "compact must rewrite")
    drain(root, cp, sink) // restart from the offset log
    assert(sink.read().orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // third restart with nothing new: no duplicates, no phantom rows
    drain(root, cp, sink)
    assert(sink.read().count() === 5)
  }

  test("streaming: hive-partition values materialize from manifest metadata") {
    import spark.implicits._
    val root = tmp("gsrc-part")
    val t = LogTable(spark, root, partitionBy = Seq("event_type"))
    t.append(Seq((1L, "click"), (2L, "view"), (3L, "click"))
      .toDF("id", "event_type"))
    val sink = LogTable(spark, tmp("gsrc-psink"))
    drain(root, tmp("gsrc-pcp"), sink)
    val got = sink.read().select("id", "event_type")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(got === Seq(Seq(1L, "click"), Seq(2L, "view"), Seq(3L, "click")))
  }

  test("streaming: renamed column coalesces its historical name from pre-rename files") {
    import spark.implicits._
    val root = tmp("gsrc-ren")
    val t = LogTable(spark, root)
    t.append(Seq((1L, 10L)).toDF("id", "v"))
    t.renameColumn("v", "val") // metadata-only commit mid-history
    t.append(Seq((2L, 20L)).toDF("id", "val"))
    val sink = LogTable(spark, tmp("gsrc-rsink"))
    drain(root, tmp("gsrc-rcp"), sink)
    assert(sink.read().orderBy("id").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L)))
  }

  test("streaming: array columns round-trip (row-based parquet path)") {
    import spark.implicits._
    val root = tmp("gsrc-arr")
    val t = LogTable(spark, root)
    t.append(Seq((1L, Seq(0.5f, 1.5f)), (2L, Seq(2.5f))).toDF("id", "emb"))
    val sink = LogTable(spark, tmp("gsrc-asink"))
    drain(root, tmp("gsrc-acp"), sink)
    assert(sink.read().orderBy("id").as[(Long, Seq[Float])].collect().toSeq ===
      Seq((1L, Seq(0.5f, 1.5f)), (2L, Seq(2.5f))))
  }

  test("streaming: a row-changing commit fails the stream loudly at the boundary") {
    import spark.implicits._
    val root = tmp("gsrc-del")
    val t = LogTable(spark, root)
    val sink = LogTable(spark, tmp("gsrc-dsink"))
    val cp = tmp("gsrc-dcp")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    drain(root, cp, sink)
    t.delete(col("id") === 1L)
    t.append(Seq((3L, "c")).toDF("id", "s"))
    val e = intercept[StreamingQueryException] { drain(root, cp, sink) }
    assert(e.getMessage.contains("changes rows"))
  }

  test("streaming: maxVersionsPerTrigger bounds each micro-batch, AvailableNow still drains all") {
    import spark.implicits._
    val root = tmp("gsrc-rate")
    val t = LogTable(spark, root)
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "s")))
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream
      .option("checkpointLocation", tmp("gsrc-ratecp"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.incrementAndGet()
        b.select("id").collect().foreach(r => rows.add(r.getLong(0)))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get() === 3, "one manifest version per micro-batch")
    assert(rows.asScala.toSeq.sorted === Seq(1L, 2L, 3L))
  }

  test("streaming: maxBytesPerTrigger admits whole versions up to the cap, at least one each") {
    import spark.implicits._
    val root = tmp("gsrc-bytes")
    val t = LogTable(spark, root)
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "s")))
    val perCommit = t.snapshot().files.map(_.bytes).max
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft")
      // cap sized to one commit's bytes: each micro-batch takes the
      // first version (admitted unconditionally) and stops at the cap
      .option("maxBytesPerTrigger", perCommit.toString).load(root)
      .writeStream
      .option("checkpointLocation", tmp("gsrc-bytescp"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.incrementAndGet()
        b.select("id").collect().foreach(r => rows.add(r.getLong(0)))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get() >= 2, "the byte cap must split the backlog")
    assert(rows.asScala.toSeq.sorted === Seq(1L, 2L, 3L, 4L),
      "admission control must never drop or duplicate rows")
  }

  /** The scan's planned file set and read schema, straight off the
    * physical plan's BatchScanExec. */
  private def scanOf(df: DataFrame): (Int, Seq[String]) = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size === 1, "expected exactly one graft scan")
    (ScanPlans.plannedFiles(scans.head.inputPartitions),
      scans.head.scan.readSchema().fieldNames.toSeq)
  }

  test("pushdown: filters skip files via manifest stats, partitions, and hidden transforms") {
    import spark.implicits._
    val root = tmp("gsrc-push")
    val t = LogTable(spark, root,
      partitionBy = Seq("kind"), hiddenBy = Seq(Transform.day("ts_us")))
    // 4 appends × 2 kind partitions, each append one distinct day
    (0 until 4).foreach { d =>
      t.append((0 until 20).map { i =>
        (d * 86400000000L + i.toLong, if (i % 2 == 0) "a" else "b", i.toLong)
      }.toDF("ts_us", "kind", "v"))
    }
    val all = spark.read.format("graft").load(root)
    val (totalFiles, _) = scanOf(all)

    // long-range filter prunes through BOTH footer stats and day()
    val dayScan = all.where($"ts_us" >= 2 * 86400000000L)
    val (dayFiles, _) = scanOf(dayScan)
    assert(dayFiles < totalFiles, s"expected < $totalFiles files, got $dayFiles")
    assert(dayScan.count() === 40L)

    // hive-partition equality prunes to one directory per append
    val (kindFiles, _) = scanOf(all.where($"kind" === "a"))
    assert(kindFiles * 2 === totalFiles)
    assert(all.where($"kind" === "a").count() === 40L)

    // conjunction composes; result stays exact vs the API read
    val both = all.where($"kind" === "a" && $"ts_us" >= 2 * 86400000000L)
    val (bothFiles, _) = scanOf(both)
    assert(bothFiles <= totalFiles / 4 + 1)
    assert(both.select($"v").as[Long].collect().sorted.toSeq ===
      t.read().where($"kind" === "a" && $"ts_us" >= 2 * 86400000000L)
        .select($"v").as[Long].collect().sorted.toSeq)
  }

  test("pushdown: bucket transform prunes equality, column pruning narrows the read schema") {
    import spark.implicits._
    val root = tmp("gsrc-buck")
    val t = LogTable(spark, root, hiddenBy = Seq(Transform.bucket(8, "id")))
    t.append((0L until 200L).map(i => (i, s"s$i", i * 2)).toDF("id", "s", "v"))
    val df = spark.read.format("graft").load(root)
    val (totalFiles, fullSchema) = scanOf(df)
    assert(fullSchema === Seq("id", "s", "v"))

    val point = df.where($"id" === 57L)
    val (pointFiles, _) = scanOf(point)
    assert(pointFiles < totalFiles, "bucket prune must skip sibling buckets")
    assert(point.select($"s").as[String].head() === "s57")

    // a 1-column projection reads 1 column, not 3
    val (_, pruned) = scanOf(df.select($"v"))
    assert(pruned === Seq("v"))
    // projection over a filter keeps the filter column out of the output
    val (_, prunedF) = scanOf(df.where($"id" > 100L).select($"s"))
    assert(prunedF.toSet === Set("id", "s"))
  }

  test("pushdown: pruned scans stay exact after a spec-less maintenance rewrite") {
    import spark.implicits._
    val root = tmp("gsrc-maint")
    val t = LogTable(spark, root, hiddenBy = Seq(Transform.day("ts_us")))
    (0 until 3).foreach(d => t.append(
      (0 until 10).map(i => (d * 86400000000L + i.toLong, i.toLong))
        .toDF("ts_us", "v")))
    // maintenance through a spec-less handle (adopts the recorded spec)
    LogTable(spark, root).compact(smallBytes = 1L << 20)
    val df = spark.read.format("graft").load(root)
      .where($"ts_us" >= 86400000000L && $"ts_us" < 2 * 86400000000L)
    assert(df.count() === 10L)
    assert(df.agg(max($"v")).head().getLong(0) === 9L)
  }

  test("write: df.write.format(graft) — SaveModes, partitionBy layout, atomic overwrite") {
    import spark.implicits._
    val root = tmp("gsrc-write")
    Seq((1L, "a"), (2L, "b")).toDF("id", "kind")
      .write.format("graft").partitionBy("kind")
      .option("hiddenBy", "bucket(4, id)").save(root)
    val t = LogTable(spark, root)
    assert(t.partitionBy === Seq("kind"))
    // `bucket` on the string surfaces is the Iceberg-spec murmur3 kind
    assert(t.hiddenBy === Seq(Transform.mbucket(4, "id")))
    assert(t.snapshot().files.forall(_.partitions.contains("kind")))

    // default mode on an existing table fails; Ignore is a no-op
    intercept[IllegalStateException] {
      Seq((9L, "z")).toDF("id", "kind").write.format("graft").save(root)
    }
    Seq((9L, "z")).toDF("id", "kind")
      .write.format("graft").mode("ignore").save(root)
    assert(t.read().count() === 2L)

    Seq((3L, "c")).toDF("id", "kind")
      .write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() === 3L)

    // overwrite = metadata-only swap; the old snapshot stays readable
    val vBefore = t.currentVersion
    Seq((7L, "q")).toDF("id", "kind")
      .write.format("graft").mode("overwrite").save(root)
    assert(t.read().select("id").as[Long].collect().toSeq === Seq(7L))
    assert(t.snapshot().operation === "overwrite")
    assert(t.timeTravel(vBefore).count() === 3L)
  }

  test("write: streaming sink format(graft) is exactly-once across checkpoint replays") {
    import spark.implicits._
    val src = tmp("gsnk-src")
    val dst = tmp("gsnk-dst")
    val cp = tmp("gsnk-cp")
    val t = LogTable(spark, src)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))

    def drainToSink(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    drainToSink()
    val sink = LogTable(spark, dst)
    assert(sink.read().count() === 2L)
    t.append(Seq((3L, "c")).toDF("id", "s"))
    drainToSink() // restart from the offset log: only the new commit lands
    assert(sink.read().orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    drainToSink() // nothing new: no duplicates
    assert(sink.read().count() === 3L)
    // the sink's appends carry their epoch tags (the replay absorber)
    assert(sink.hasTag("graft-sink-0") && sink.hasTag("graft-sink-1"))
  }

  test("write: Complete-mode sink atomically overwrites with each batch's full result") {
    import spark.implicits._
    val src = tmp("gsnk2-src")
    val dst = tmp("gsnk2-dst")
    val cp = tmp("gsnk2-cp")
    val t = LogTable(spark, src)
    t.append(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "kind"))
    val q = spark.readStream.format("graft").load(src)
      .groupBy($"kind").agg(count("*").as("n"))
      .writeStream.format("graft").outputMode("complete")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
    val got = LogTable(spark, dst).read()
      .orderBy("kind").as[(String, Long)].collect().toSeq
    assert(got === Seq(("a", 2L), ("b", 1L)))
  }

  /** The single graft scan of a plan — read off the OPTIMIZED logical
    * plan (pushdown happens there; AQE hides BatchScanExec from a
    * physical collect on aggregate queries). */
  private def graftScanOf(df: DataFrame): org.apache.spark.sql.connector.read.Scan = {
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    assert(scans.size === 1, "expected exactly one graft scan")
    scans.head
  }

  test("pushdown: COUNT(*)/MIN/MAX answer from manifest metadata — zero data files opened") {
    import spark.implicits._
    val root = tmp("gsrc-agg")
    val t = LogTable(spark, root)
    t.append((1L to 100L).map(i => (i, s"s$i")).toDF("id", "s"))
    t.append((101L to 200L).map(i => (i, s"s$i")).toDF("id", "s"))
    val df = spark.read.format("graft").load(root)
      .agg(count(lit(1)).as("n"), min($"id").as("lo"), max($"id").as("hi"))
    assert(graftScanOf(df).description().contains("metadata-aggregate"),
      "whole-table count/min/max must plan as the metadata scan")
    assert(df.head().toSeq === Seq(200L, 1L, 200L))

    // a residual filter degrades to the normal scan and stays correct
    val filtered = spark.read.format("graft").load(root)
      .where($"id" > 150L).agg(count(lit(1)).as("n"))
    assert(!graftScanOf(filtered).description().contains("metadata-aggregate"))
    assert(filtered.head().getLong(0) === 50L)

    // min/max of a non-stats column (string) refuses — normal scan
    val str = spark.read.format("graft").load(root).agg(max($"s").as("m"))
    assert(!graftScanOf(str).description().contains("metadata-aggregate"))
    assert(str.head().getString(0) === "s99")

    // MoR delete: count stays pushable (manifest arithmetic subtracts
    // live marks exactly); min/max refuse (a marked row could be the
    // extremum) and fall back to the delete-aware scan
    t.deleteMor($"id" === 1L)
    val post = spark.read.format("graft").load(root)
    val cnt = post.agg(count(lit(1)).as("n"))
    assert(graftScanOf(cnt).description().contains("metadata-aggregate"))
    assert(cnt.head().getLong(0) === 199L)
    val mm = post.agg(min($"id").as("lo"))
    assert(!graftScanOf(mm).description().contains("metadata-aggregate"))
    assert(mm.head().getLong(0) === 2L)
  }

  test("clean snapshots read COLUMNAR: vectorized batches pass through the scan") {
    import spark.implicits._
    val root = tmp("gsrc-col")
    val t = LogTable(spark, root, partitionBy = Seq("kind"))
    t.append((0 until 50).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i * 1.5))
      .toDF("id", "kind", "v"))

    def scanExec(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head

    val df = spark.read.format("graft").load(root)
    assert(scanExec(df).supportsColumnar,
      "clean partitioned snapshot must take the vectorized path")
    // identical rows to the API read — partition values come back as
    // constant vectors, reordered into the logical column order (the
    // API read surfaces discovered partition columns LAST, so compare
    // name-aligned, as the driver's oracle does)
    assert(df.select("id", "kind", "v").orderBy("id")
      .collect().map(_.toSeq).toSeq ===
      t.read().select("id", "kind", "v").orderBy("id")
        .collect().map(_.toSeq).toSeq)
    // pruning composes with the columnar path
    assert(df.where($"kind" === "a").count() === 25L)

    // outstanding MoR position deletes KEEP the vectorized path —
    // marked batches filter through the position bitmap
    t.deleteMor($"id" < 10L)
    val df2 = spark.read.format("graft").load(root)
    assert(scanExec(df2).supportsColumnar,
      "position-deleted snapshot must stay columnar")
    assert(df2.count() === 40L)
    assert(df2.select("id", "kind", "v").orderBy("id")
      .collect().map(_.toSeq).toSeq ===
      t.read().select("id", "kind", "v").orderBy("id")
        .collect().map(_.toSeq).toSeq)
    // EQUALITY deletes keep the vectorized path too: key-set probes
    // run over the batch rows, untouched batches pass through
    t.deleteEq(spark.range(10, 12).selectExpr("id"))
    val df3 = spark.read.format("graft").load(root)
    assert(scanExec(df3).supportsColumnar,
      "equality-deleted snapshot must stay columnar")
    assert(df3.count() === 38L)
    assert(df3.select("id", "kind", "v").orderBy("id")
      .collect().map(_.toSeq).toSeq ===
      t.read().select("id", "kind", "v").orderBy("id")
        .collect().map(_.toSeq).toSeq)
  }

  test("MoR columnar read stays exact across batch boundaries, full-batch deletes, and pushed filters") {
    import spark.implicits._
    val root = tmp("gsrc-col-mor")
    val t = LogTable(spark, root)
    // one file, > 2 vectorized batches (default batch = 4096 rows)
    t.append((0 until 10000).map(i => (i.toLong, i % 7))
      .toDF("id", "m").coalesce(1))
    // spans: survivors in batch 0, ALL of batch 1 (4096-8192 ⊂ span),
    // survivors again in batch 2 — exercises passthrough, rebuild,
    // and the fully-deleted-batch advance in one scan
    t.deleteMor($"id" >= 2000L && $"id" < 9000L)

    def scanExec(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    val df = spark.read.format("graft").load(root)
    assert(scanExec(df).supportsColumnar)
    assert(df.count() === 3000L)
    assert(df.select("id").orderBy("id").as[Long].collect().toSeq ===
      ((0L until 2000L) ++ (9000L until 10000L)))
    // a pushed filter must NOT row-group-skip the marked file (that
    // would shift positions): results stay exact under filters
    val f = spark.read.format("graft").load(root)
      .where($"id" >= 1000L && $"id" < 9500L)
    assert(f.count() === 1500L) // [1000,2000) ∪ [9000,9500)
    assert(f.agg(min($"id"), max($"id")).head().toSeq === Seq(1000L, 9499L))

    // EQUALITY deletes compose on the same columnar scan — including
    // with the key column pruned away (it rides as an extra vector)
    t.deleteEq((0 until 1000).map(_.toLong * 10).toDF("id"))
    val g = spark.read.format("graft").load(root)
    assert(g.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.supportsColumnar, "position+equality marks must stay columnar")
    // live = [0,2000) ∪ [9000,10000) minus multiples of 10 in them:
    // 200 multiples in [0,2000), 100 in [9000,10000)
    assert(g.count() === 2700L)
    assert(g.select("m").where($"m" === 0).count() ===
      t.read().where($"m" === 0).count(), "pruned-key projection stays exact")
  }

  test("LIMIT pushdown plans a file-bounded scan; filters disable the truncation") {
    import spark.implicits._
    val root = tmp("gsrc-lim")
    val t = LogTable(spark, root)
    (0 until 5).foreach(i =>
      t.append((i * 10 until (i + 1) * 10).map(x => (x.toLong, s"s$x"))
        .toDF("id", "s").coalesce(1)))
    val totalFiles = t.snapshot().files.size
    assert(totalFiles === 5)

    val limited = spark.read.format("graft").load(root).limit(12)
    assert(graftScanOf(limited).description().contains("PushedLimit: 12"))
    val scans = limited.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(ScanPlans.plannedFiles(scans.head.inputPartitions) === 2,
      "12 rows over 10-row files must plan exactly 2 files")
    assert(limited.collect().length === 12)

    // a filter makes file truncation unsound — every candidate file scans
    val filtered = spark.read.format("graft").load(root)
      .where($"id" >= 45L).limit(3)
    assert(filtered.collect().length === 3)

    // position deletes subtract exactly: marks shrink a file's live rows
    t.deleteMor($"id" < 10L) // first file fully dead
    val afterDel = spark.read.format("graft").load(root).limit(10)
    assert(afterDel.collect().length === 10)
  }

  test("TopN pushdown: ORDER BY ts DESC LIMIT n plans only range-reachable files") {
    import spark.implicits._
    val root = tmp("gsrc-topn")
    val t = LogTable(spark, root)
    // 5 time-disjoint slabs of 10 rows — a clustered log's shape
    (0 until 5).foreach(d =>
      t.append((0 until 10).map(i => (d * 1000L + i, s"v$d-$i"))
        .toDF("ts", "s").coalesce(1)))

    val recent = spark.read.format("graft").load(root)
      .orderBy($"ts".desc).limit(12)
    assert(graftScanOf(recent).description().contains("PushedTopN: 12 BY ts DESC"))
    val scans = recent.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(ScanPlans.plannedFiles(scans.head.inputPartitions) === 2,
      "the 12 most recent rows live provably in the 2 newest slabs")
    assert(recent.select("ts").as[Long].collect().toSeq ===
      (4000L to 4009L).reverse ++ Seq(3009L, 3008L))

    // ascending works symmetrically
    val oldest = spark.read.format("graft").load(root)
      .orderBy($"ts".asc).limit(10)
    val ascScans = oldest.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(ScanPlans.plannedFiles(ascScans.head.inputPartitions) === 1)
    assert(oldest.select("ts").as[Long].collect().toSeq === (0L until 10L))

    // NULLs in the sort column: counts are in the manifest, nulls sort
    // last under DESC — pruning stays exact
    t.append(Seq((Option.empty[Long], "null-row")).toDF("ts", "s"))
    val withNull = spark.read.format("graft").load(root)
      .orderBy($"ts".desc).limit(3)
    assert(withNull.select("ts").as[Option[Long]].collect().toSeq ===
      Seq(Some(4009L), Some(4008L), Some(4007L)))
  }

  test("TopN pushdown survives position deletes: mark counts adjust supply") {
    import spark.implicits._
    val root = tmp("gsrc-topn-mor")
    val t = LogTable(spark, root)
    (0 until 5).foreach(d =>
      t.append((0 until 10).map(i => (d * 1000L + i, s"v$d-$i"))
        .toDF("ts", "s").coalesce(1)))
    // kill 8 of the 10 newest rows: the newest slab now supplies only
    // 2 provable values, so top-12 must reach into THREE slabs
    t.deleteMor($"ts" >= 4002L)

    val recent = spark.read.format("graft").load(root)
      .orderBy($"ts".desc).limit(12)
    val rows = recent.select("ts").as[Long].collect().toSeq
    assert(rows === Seq(4001L, 4000L) ++ (3000L to 3009L).reverse,
      "MoR top-N result must match the delete-folded order")
    val scans = recent.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    // bounded file set: slab 4 provably supplies 10−8 = 2 live values,
    // slab 3 adds 10 → 12 covered by TWO files; slabs 0..2 never plan
    assert(ScanPlans.plannedFiles(scans.head.inputPartitions) === 2,
      s"expected 2 planned files, got ${ScanPlans.plannedFiles(scans.head.inputPartitions)}")

    // equality deletes still refuse (match counts unknown): all files
    t.deleteEq(Seq(2500L).toDF("ts")) // matches nothing, still unknowable
    val eqRecent = spark.read.format("graft").load(root)
      .orderBy($"ts".desc).limit(3)
    val eqScans = eqRecent.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(ScanPlans.plannedFiles(eqScans.head.inputPartitions) === 5)
    assert(eqRecent.select("ts").as[Long].collect().toSeq ===
      Seq(4001L, 4000L, 3009L))
  }

  test("manifest value sets skip files on point lookups off the cluster axis") {
    import spark.implicits._
    val root = tmp("gsrc-vset")
    val t = LogTable(spark, root)
    // three files whose STRING RANGES all contain 'del' — [min,max]
    // cannot separate them; only the dictionary value sets can. Values
    // repeat (a real low-NDV column's shape) so the parquet writer
    // dictionary-encodes; single-digit-row files fall back to PLAIN.
    def slab(ops: Seq[String], base: Long) =
      (0 until 200).map(i => (ops(i % ops.size), base + i)).toDF("op", "v")
    t.append(slab(Seq("aa", "zz"), 0L).coalesce(1))
    t.append(slab(Seq("ab", "zy"), 1000L).coalesce(1))
    t.append(slab(Seq("ab", "del", "zy"), 2000L).coalesce(1))
    assert(t.snapshot().files.forall(_.valueSets.contains("op")),
      "commit should harvest complete dictionaries for a low-NDV string column")

    def planned(df: DataFrame): Int = ScanPlans.plannedFiles(
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.inputPartitions)

    val hit = spark.read.format("graft").load(root).where($"op" === "del")
    assert(planned(hit) === 1,
      "only the file whose dictionary contains 'del' may plan")
    assert(hit.count() === (0 until 200).count(_ % 3 == 1).toLong)

    // inside every range, in no dictionary → NO file opens
    val miss = spark.read.format("graft").load(root).where($"op" === "mm")
    assert(planned(miss) === 0)
    assert(miss.count() === 0L)

    // IN-lists prune per member
    val in2 = spark.read.format("graft").load(root)
      .where($"op".isin("del", "mm"))
    assert(planned(in2) === 1)
  }

  test("the scan reports manifest-accurate statistics, post-pruning") {
    import spark.implicits._
    val root = tmp("gsrc-stats")
    val t = LogTable(spark, root, partitionBy = Seq("kind"))
    t.append((0 until 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "kind"))
    val snap = t.snapshot()

    def rel(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val full = rel(spark.read.format("graft").load(root))
    assert(full.stats.sizeInBytes === BigInt(snap.totalBytes))
    assert(full.stats.rowCount === Some(BigInt(snap.totalRows)))

    // a pushed partition filter shrinks the REPORTED stats to the
    // pruned file subset — what broadcast decisions should see
    val half = rel(spark.read.format("graft").load(root).where($"kind" === "a"))
    assert(half.stats.sizeInBytes > 0)
    assert(half.stats.sizeInBytes < BigInt(snap.totalBytes))

    // position-delete marks subtract from the reported row count
    // (broadcast decisions must see LIVE rows, not pre-delete rows)
    t.deleteMor($"id" < 30L)
    val mor = rel(spark.read.format("graft").load(root))
    assert(mor.stats.rowCount === Some(BigInt(70)))
  }

  test("analyze records NDVs; the scan surfaces per-column stats and CBO reorders a 3-way join") {
    import spark.implicits._
    val factR = tmp("gsrc-cbo-f")
    val dimAR = tmp("gsrc-cbo-a")
    val dimBR = tmp("gsrc-cbo-b")
    // fact: k1 joins a 2000-row dim on a high-NDV key, k2 joins a
    // 2-row dim on a 50-NDV key — joining dimB FIRST is ~10× cheaper
    // (5000·2/50 = 200 rows vs 5000·2000/5000 = 2000), but only the
    // NDVs can tell the optimizer so
    val tf = LogTable(spark, factR)
    tf.append((0 until 5000).map(i => (i.toLong, i.toLong % 50, i.toLong))
      .toDF("k1", "k2", "v"))
    val ta = LogTable(spark, dimAR)
    ta.append((0 until 2000).map(i => (i.toLong, s"a$i")).toDF("k1", "da"))
    val tb = LogTable(spark, dimBR)
    tb.append(Seq((0L, "x"), (1L, "y")).toDF("k2", "db"))

    val s = tf.analyze()
    assert(s.operation === "analyze")
    // HLL estimates land within a few % — exact values are not the
    // contract, usable cardinalities are
    assert(s.ndvs("k1") > 4500L && s.ndvs("k2") >= 45L && s.ndvs("k2") <= 55L)
    ta.analyze(); tb.analyze()

    // baseline (CBO off): the join order stays exactly as written —
    // dimA innermost
    val offLeaves = spark.read.format("graft").load(factR)
      .join(spark.read.format("graft").load(dimAR), "k1")
      .join(spark.read.format("graft").load(dimBR), "k2")
      .select($"v", $"da", $"db")
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.right.output.map(_.name).toSet
      }
    assert(offLeaves.last.contains("da"),
      s"without CBO the written order must hold, join rights: $offLeaves")

    // per-column stats reach Catalyst: distinctCount on the scan's
    // attribute stats (Spark maps V2 columnStats via transformV2Stats)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val fact = spark.read.format("graft").load(factR)
      val attrStats = fact.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.attributeStats
      }.head
      val k1Stat = attrStats.find(_._1.name == "k1").map(_._2)
      assert(k1Stat.exists(_.distinctCount.exists(_ > 4500)),
        s"k1 distinctCount missing from attribute stats: $attrStats")

      // the 3-way join WRITTEN dimA-first replans dimB-first with NDVs
      val dimA = spark.read.format("graft").load(dimAR)
      val dimB = spark.read.format("graft").load(dimBR)
      val joined = fact.join(dimA, "k1").join(dimB, "k2")
        .select($"v", $"da", $"db")
      val innerLeaves = joined.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.right.output.map(_.name).toSet
      }
      // innermost Join is LAST in collect order; with the reorder, the
      // cheap dimB join must sit innermost (its output joins first)
      assert(innerLeaves.nonEmpty)
      assert(innerLeaves.last.contains("db"),
        s"expected dimB joined first under CBO, join rights: $innerLeaves")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
    }
  }

  test("runtime filtering: a broadcast join's build side prunes fact files at execution") {
    import spark.implicits._
    val root = tmp("gsrc-dpp")
    val t = LogTable(spark, root, partitionBy = Seq("kind"))
    (0 until 2).foreach { b =>
      t.append(Seq("a", "b", "c", "d")
        .flatMap(k => (0 until 10).map(i => (b * 1000L + i, k)))
        .toDF("id", "kind").coalesce(1))
    }
    val totalFiles = t.snapshot().files.size
    assert(totalFiles === 8) // 4 kind dirs × 2 appends

    val fact = spark.read.format("graft").load(root)
    // DPP wants a SELECTIVE predicate on the build side — the classic
    // star-join shape: a STORED dim (a local Seq constant-folds to a
    // LocalRelation and the rule sees no filter), filtered at query time
    val dimPath = tmp("gsrc-dpp-dim")
    Seq(("a", "keep"), ("b", "drop"), ("c", "drop"), ("d", "drop"))
      .toDF("kind", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where($"tag" === "keep")
    val joined = fact.join(broadcast(dim), "kind")
    // execute THIS dataset's own plan (count() would build a separate
    // query execution, leaving this one's DPP subquery resultless)
    assert(joined.collect().length === 20)

    // the executed plan carries a runtime (dynamic-pruning) filter on
    // the graft scan, and the scan ran over a PRUNED file subset
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
    val done = joined.queryExecution.executedPlan
    val scan = scans(done).head
    assert(scan.runtimeFilters.nonEmpty, "expected a dynamic pruning filter")
    assert(ScanPlans.plannedFiles(scan.inputRDD) < totalFiles,
      s"expected runtime-pruned scan, got ${ScanPlans.plannedFiles(scan.inputRDD)} files")
  }

  test("batch read: merge-on-read position deletes are applied, filters stay exact") {
    import spark.implicits._
    val root = tmp("gsrc-mor")
    val t = LogTable(spark, root)
    t.append((0L until 100L).map(i => (i, s"s$i")).toDF("id", "s"))
    t.append((100L until 200L).map(i => (i, s"s$i")).toDF("id", "s"))
    // two overlapping delete commits (21, 42, ... are marked by both
    // predicates but live in different delete files — the delete-aware
    // marking scan keeps positions disjoint)
    t.deleteMor(pmod($"id", lit(3)) === 0)
    t.deleteMor(pmod($"id", lit(7)) === 0)
    val df = spark.read.format("graft").load(root)
    assert(df.count() === t.read().count())
    assert(df.orderBy("id").collect().map(_.toSeq).toSeq ===
      t.read().orderBy("id").collect().map(_.toSeq).toSeq)
    // a pushed filter over a dirty file: Spark re-applies it post-scan
    // and positions stay exact (dirty files read unfiltered)
    assert(df.where($"id" >= 150L).count() ===
      t.read().where($"id" >= 150L).count())
    // time travel to the pre-delete snapshot still sees every row
    assert(spark.read.format("graft").option("versionAsOf", "2")
      .load(root).count() === 200L)
    // compact folds the delete debt; the read result is unchanged
    t.compact(smallBytes = 1L << 20)
    assert(spark.read.format("graft").load(root).count() === df.count())
  }

  test("write: CDC sink — option(upsertKey) maintains latest-row-per-key, exactly-once") {
    import spark.implicits._
    val src = tmp("gcdc-src")
    val dst = tmp("gcdc-dst")
    val cp = tmp("gcdc-cp")
    val t = LogTable(spark, src)
    // a keyed changelog: later batches overwrite earlier keys
    t.append(Seq((1L, "a1"), (2L, "b1")).toDF("id", "s"))
    t.append(Seq((2L, "b2"), (3L, "c1")).toDF("id", "s"))

    def drainCdc(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(src)
        .writeStream.format("graft")
        .option("upsertKey", "id")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    drainCdc()
    val sink = LogTable(spark, dst)
    assert(sink.read().orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a1"), (2L, "b2"), (3L, "c1")))
    // replay: nothing new → no duplicates, no double tombstones
    drainCdc()
    assert(sink.read().count() === 3L)
    // one more changelog batch flips a key again
    t.append(Seq((1L, "a2")).toDF("id", "s"))
    drainCdc()
    assert(sink.read().orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a2"), (2L, "b2"), (3L, "c1")))
    // maintenance folds the CDC debt without changing the answer
    sink.compact(smallBytes = 1L << 20)
    assert(sink.snapshot().eqDeletes.isEmpty)
    assert(sink.read().count() === 3L)
  }

  test("streaming CDC: readChanges tails inserts AND metadata-delete retention") {
    import spark.implicits._
    val root = tmp("gcdcr")
    val t = LogTable(spark, root, partitionBy = Seq("kind"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "kind"))
    t.append(Seq((3L, "a"), (4L, "c")).toDF("id", "kind"))
    t.compact(smallBytes = 1L << 20) // row-preserving: must contribute NOTHING
    t.delete(col("kind") === "a") // metadata delete (whole-partition drop)

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    val q = spark.readStream.format("graft")
      .option("readChanges", "true").load(root)
      .writeStream
      .option("checkpointLocation", tmp("gcdcr-cp"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("id", "kind", "_change_type", "_commit_version")
          .as[(Long, String, String, Long)].collect().foreach(rows.add)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = rows.asScala.toSeq.sorted
    assert(got === Seq(
      (1L, "a", "delete", 4L), (1L, "a", "insert", 1L),
      (2L, "b", "insert", 1L),
      (3L, "a", "delete", 4L), (3L, "a", "insert", 2L),
      (4L, "c", "insert", 2L)),
      s"wrong change feed: $got")
  }

  test("streaming CDC: MoR marking commits replay; dropped files apply PRIOR marks; COW rewrites refuse") {
    import spark.implicits._
    val root = tmp("gcdcm")
    val t = LogTable(spark, root, partitionBy = Seq("kind"))
    t.append(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "kind"))
    t.deleteMor(col("id") === 2L) // marks one row of partition a (v2)
    t.delete(col("kind") === "a") // drops the partition (v3, metadata)
    t.mergeMor(Seq((3L, "b2"), (4L, "c")).toDF("id", "kind"), "id") // v4: update 3, insert 4

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    val q = spark.readStream.format("graft")
      .option("readChanges", "true").load(root)
      .writeStream
      .option("checkpointLocation", tmp("gcdcm-cp"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("id", "kind", "_change_type", "_commit_version")
          .as[(Long, String, String, Long)].collect().foreach(rows.add)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // v2's MoR mark replays as a delete; v3's file drop announces ONLY
    // id=1 (id=2 was already invisible — never re-announced); v4's
    // mor-merge is delete(pre-image of 3) + inserts (3's post-image, 4)
    assert(rows.asScala.toSeq.sorted === Seq(
      (1L, "a", "delete", 3L), (1L, "a", "insert", 1L),
      (2L, "a", "delete", 2L), (2L, "a", "insert", 1L),
      (3L, "b", "delete", 4L), (3L, "b", "insert", 1L),
      (3L, "b2", "insert", 4L),
      (4L, "c", "insert", 4L)))

    // a COW rewrite with survivors has no per-file representation
    val t2root = tmp("gcdcm2")
    val t2 = LogTable(spark, t2root)
    // ONE file, so the delete leaves a survivor to rewrite (a
    // zero-survivor file would legitimately take the file-drop path)
    t2.append(Seq((1L, "x"), (2L, "y")).toDF("id", "s").coalesce(1))
    t2.delete(col("id") === 1L) // COW: survivor rewritten
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.format("graft")
        .option("readChanges", "true").load(t2root)
        .writeStream
        .option("checkpointLocation", tmp("gcdcm2-cp"))
        .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }
        .trigger(Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    assert(e.getMessage.contains("readCdc"))
  }

  test("streaming CDC: one-sided commits replay — txn publish as inserts, rollback as deletes; eq refuses") {
    import spark.implicits._
    val root = tmp("gcdcg")
    val t = LogTable(spark, root)
    t.append(Seq((1L, "a")).toDF("id", "kind"))
    t.transaction { tx => // append-only transaction → ONE publish commit
      tx.append(Seq((2L, "b")).toDF("id", "kind"))
      tx.append(Seq((3L, "c")).toDF("id", "kind"))
    }
    t.rollback(1L) // pure drop: the transaction's rows disappear

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format("graft")
      .option("readChanges", "true").load(root)
      .writeStream
      .option("checkpointLocation", tmp("gcdcg-cp"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("id", "_change_type", "_commit_version")
          .as[(Long, String, Long)].collect().foreach(rows.add)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(rows.asScala.toSeq.sorted === Seq(
      (1L, "insert", 1L),
      (2L, "delete", 3L), (2L, "insert", 2L),
      (3L, "delete", 3L), (3L, "insert", 2L)))

    // an equality tombstone changes visibility with NO file change
    val root2 = tmp("gcdcg2")
    val t2 = LogTable(spark, root2)
    t2.append(Seq((1L, "a"), (2L, "b")).toDF("id", "kind"))
    t2.deleteEq(Seq(Tuple1(1L)).toDF("id"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.format("graft")
        .option("readChanges", "true").load(root2)
        .writeStream
        .option("checkpointLocation", tmp("gcdcg2-cp"))
        .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }
        .trigger(Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    assert(e.getMessage.contains("readCdc"))
  }

  test("streaming CDC: write.cdc.enabled replays COW delete/update/merge via change files, exactly-once across restart") {
    import spark.implicits._
    val root = tmp("gcdccf")
    val t = LogTable(spark, root)
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "kind", "v").coalesce(1))                    // v1: one file
    t.setProperties(Map(LogTable.CdcEnabledProp -> "true"))    // v2: row-preserving
    t.delete(col("id") === 1L)                                 // v3: COW delete, survivors rewritten

    val cp = tmp("gcdccf-cp")
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, String, Long)]()
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChanges", "true").load(root)
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("id", "kind", "v", "_change_type", "_commit_version")
            .as[(Long, String, Long, String, Long)].collect().foreach(rows.add)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // phase 1: consume through the COW delete
    assert(rows.asScala.toSeq.sorted === Seq(
      (1L, "a", 10L, "delete", 3L),
      (1L, "a", 10L, "insert", 1L), (2L, "b", 20L, "insert", 1L),
      (3L, "c", 30L, "insert", 1L)),
      s"COW delete must replay its pre-image via change files: ${rows.asScala.toSeq.sorted}")

    t.update(col("kind") === "b", Map("v" -> (col("v") + 100L)))      // v4: COW update
    t.merge(Seq((3L, "c2", 33L), (4L, "d", 40L)).toDF("id", "kind", "v"),
      "id")                                                            // v5: update 3, insert 4
    run() // phase 2: SAME checkpoint — only v4..v5, exactly once
    val got = rows.asScala.toSeq.sorted
    assert(got === Seq(
      (1L, "a", 10L, "delete", 3L),
      (1L, "a", 10L, "insert", 1L), (2L, "b", 20L, "insert", 1L),
      (2L, "b", 20L, "delete", 4L), (2L, "b", 120L, "insert", 4L),
      (3L, "c", 30L, "delete", 5L), (3L, "c2", 33L, "insert", 5L),
      (3L, "c", 30L, "insert", 1L),
      (4L, "d", 40L, "insert", 5L)).sorted, s"wrong change feed: $got")

    // the stream and the batch changelog can never drift: same files
    val batch = t.readCdc(0L)
      .select(col("id"), col("kind"), col("v"),
        col(LogTable.ChangeTypeCol), col(LogTable.CommitVersionCol))
      .as[(Long, String, Long, String, Long)].collect().toSeq.sorted
    assert(batch === got)
  }

  test("streaming CDC: a cross-delete rollback replays at file granularity — drops as deletes, restores as inserts") {
    import spark.implicits._
    val root = tmp("gcdcrb")
    val t = LogTable(spark, root, partitionBy = Seq("kind"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "kind"))   // v1
    t.delete(col("kind") === "a")                            // v2: metadata drop
    t.append(Seq((3L, "c")).toDF("id", "kind"))              // v3
    // v4: rollback to v1 — RESTORES the a-file and DROPS the c-file in
    // one commit (mixed add+remove, zero rows copied between files)
    t.rollback(1L)

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    val q = spark.readStream.format("graft")
      .option("readChanges", "true").load(root)
      .writeStream
      .option("checkpointLocation", tmp("gcdcrb-cp"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("id", "kind", "_change_type", "_commit_version")
          .as[(Long, String, String, Long)].collect().foreach(rows.add)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(rows.asScala.toSeq.sorted === Seq(
      (1L, "a", "delete", 2L),  // retention
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (1L, "a", "insert", 4L),  // rollback restores the a-file
      (3L, "c", "delete", 4L),  // ... and drops the c-file
      (3L, "c", "insert", 3L)).sorted,
      s"wrong change feed: ${rows.asScala.toSeq.sorted}")
    // net replay equals the rolled-back table
    val net = rows.asScala.groupBy(r => (r._1, r._2))
      .view.mapValues(g => g.count(_._3 == "insert") - g.count(_._3 == "delete"))
      .filter(_._2 > 0).keys.toSet
    assert(net === Set((1L, "a"), (2L, "b")))
  }

  test("streaming CDC: maxBytesPerTrigger splits the replay backlog without loss") {
    import spark.implicits._
    val root = tmp("gcdcbt")
    val t = LogTable(spark, root)
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "kind")))
    val perCommit = t.snapshot().files.map(_.bytes).max
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft")
      .option("readChanges", "true")
      .option("maxBytesPerTrigger", perCommit.toString).load(root)
      .writeStream
      .option("checkpointLocation", tmp("gcdcbt-cp"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.incrementAndGet()
        b.select("id").as[Long].collect().foreach(rows.add)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get() >= 2, "the byte cap must split the backlog")
    assert(rows.asScala.toSeq.sorted === Seq(1L, 2L, 3L, 4L))
  }

  test("batch CDC: readChanges with version window equals readCdc; full history by default") {
    import spark.implicits._
    val root = tmp("gcdcb")
    val t = LogTable(spark, root, partitionBy = Seq("kind"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "kind"))
    t.append(Seq((3L, "a")).toDF("id", "kind"))
    t.delete(col("kind") === "a") // metadata drop, v3

    val all = spark.read.format("graft").option("readChanges", "true").load(root)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(all === Seq(
      (1L, "delete", 3L), (1L, "insert", 1L),
      (2L, "insert", 1L),
      (3L, "delete", 3L), (3L, "insert", 2L)))

    // a version window slices the same feed
    val win = spark.read.format("graft").option("readChanges", "true")
      .option("startingVersion", "1").option("endingVersion", "2").load(root)
      .select("id", "_change_type").as[(Long, String)].collect().toSeq
    assert(win === Seq((3L, "insert")))
  }

  test("streaming: startingVersion=latest skips history, sees only new commits") {
    import spark.implicits._
    val root = tmp("gsrc-lat")
    val t = LogTable(spark, root)
    val sink = LogTable(spark, tmp("gsrc-lsink"))
    val cp = tmp("gsrc-lcp")
    t.append(Seq((1L, "old")).toDF("id", "s"))
    drain(root, cp, sink, Map("startingVersion" -> "latest"))
    assert(sink.read().count() === 0)
    t.append(Seq((2L, "new")).toDF("id", "s"))
    drain(root, cp, sink, Map("startingVersion" -> "latest"))
    assert(sink.read().as[(Long, String)].collect().toSeq === Seq((2L, "new")))
  }
}
