package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, max}

import java.nio.file.Files

/** SCAN PACKING: a DSv2 batch scan over many small files plans Spark's
  * own split-packing rule (`FilePartition.maxSplitBytes` +
  * `getFilePartitions`), so one task reads several files in a row.
  * Each file keeps its own position deletes, equality deletes (under
  * the sequence guard), partition values and `_file` value. Runs on
  * the shared local[4] session: 4 cores set the packing target. */
class ScanPackingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft_pack_wh_").toString
    spark.conf.set("spark.sql.catalog.gpack", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpack.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpack.db")
    wh
  }

  /** The graft batch scans of an executed plan, through AQE's wrappers
    * (run the dataset first: AQE finalizes lazily). */
  private def scans(df: DataFrame): Seq[BatchScanExec] = {
    def walk(p: SparkPlan): Seq[BatchScanExec] = p.collect {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
    }.flatten
    walk(df.queryExecution.executedPlan)
  }

  private def packs(df: DataFrame): Seq[Seq[GraftInputPartition]] =
    scans(df).head.inputPartitions.map(GraftFilePack.filesOf)

  /** 44 small files: 11 INSERTs, each landing one file per day on 4
    * days, in the perfbench catalog's shape (days(time), name, status). */
  private lazy val logs: String = {
    warehouse
    spark.sql(
      """CREATE TABLE gpack.db.logs
        |(time TIMESTAMP, name STRING, httpStatusCode INT, bytes BIGINT)
        |PARTITIONED BY (days(time))""".stripMargin)
    val names = Seq("GetObject", "PutObject", "HeadObject", "ListObjectsV2")
    val statuses = Seq(200, 200, 200, 404, 403, 500)
    (0 until 11).foreach { batch =>
      (0 until 40).map { i =>
        val n = batch * 40 + i
        (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          (n % 4) * 86400L + n)), names((n * 7) % 4),
          statuses((n * 5 + batch) % 6), n.toLong)
      }.toDF("time", "name", "httpStatusCode", "bytes")
        .createOrReplaceTempView("pack_batch")
      spark.sql("INSERT INTO gpack.db.logs SELECT * FROM pack_batch")
    }
    s"$warehouse/db/logs"
  }

  test("44 tiny files plan at most 4 packed partitions, each file exactly once") {
    val t = LogTable(spark, logs)
    val live = t.snapshot().files.map(_.path)
    assert(live.size === 44)
    val df = spark.sql("SELECT name, COUNT(*) AS cnt FROM gpack.db.logs GROUP BY name")
    df.collect()
    val planned = packs(df)
    assert(planned.size <= 4, s"expected ≤ 4 packed partitions, got ${planned.size}")
    val paths = planned.flatten.map(_.path)
    assert(paths.sorted === live.sorted, "every live file planned exactly once")
  }

  test("a path read of the days(time) table reports no transform layout and packs its 44 files") {
    val t = LogTable(spark, logs)
    val live = t.snapshot().files.map(_.path)
    val byPath = spark.read.format("graft").load(logs)
      .groupBy("name").agg(max("time"))
    byPath.collect()
    val planned = packs(byPath)
    assert(scans(byPath).head.keyGroupedPartitioning.isEmpty)
    assert(planned.size <= 4, s"expected ≤ 4 packed partitions, got ${planned.size}")
    assert(planned.flatten.map(_.path).sorted === live.sorted,
      "every live file planned exactly once")
    // the catalog read resolves days() and keeps one group per day
    val byName = spark.sql(
      "SELECT name, MAX(time) FROM gpack.db.logs GROUP BY name")
    assert(byName.collect().map(_.toString).sorted ===
      byPath.collect().map(_.toString).sorted)
    val scan = scans(byName).head
    assert(scan.keyGroupedPartitioning.nonEmpty)
    assert(scan.inputRDD.getNumPartitions === 4)
  }

  test("GROUP BY name and the errors query match a readFiles scan") {
    val t = LogTable(spark, logs)
    t.read().createOrReplaceTempView("pack_ref")
    Seq(
      "SELECT name, COUNT(*) AS cnt FROM %s GROUP BY name",
      "SELECT name, httpStatusCode, COUNT(*) AS cnt FROM %s " +
        "WHERE httpStatusCode >= 400 GROUP BY name, httpStatusCode"
    ).foreach { q =>
      val got = spark.sql(q.format("gpack.db.logs"))
      val want = spark.sql(q.format("pack_ref"))
      assert(got.collect().map(_.toString).sorted ===
        want.collect().map(_.toString).sorted, q)
      assert(packs(got).exists(_.size > 1), s"expected packed partitions for $q")
    }
  }

  /** 7 ten-row files (ids 0..69), position deletes on `id % 7 == 3`,
    * equality deletes on ids 12/45/61, then one NEWER file re-adding
    * ids 12 and 45 (the sequence guard keeps them) and 1000. */
  private lazy val morRoot: String = {
    val root = Files.createTempDirectory("graft_pack_mor_").toString
    val t = LogTable(spark, root)
    (0 until 7).foreach(i => t.append(
      spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 3 AS v")
        .coalesce(1)))
    t.deleteMor(col("id") % 7 === 3)
    t.deleteEq(Seq(12L, 45L, 61L).toDF("id"))
    t.append(Seq((12L, 36L), (45L, 135L), (1000L, 3000L)).toDF("id", "v")
      .coalesce(1))
    root
  }

  private val expected: Seq[Long] =
    ((0L until 70L).filterNot(i => i % 7 == 3 || Set(12L, 45L, 61L)(i)) ++
      Seq(12L, 45L, 1000L)).sorted

  test("position and equality deletes apply per file inside a pack, columnar and row path") {
    val root = morRoot
    val snap = LogTable(spark, root).snapshot()
    assert(snap.files.size === 8 && snap.deletes.nonEmpty && snap.eqDeletes.nonEmpty)
    val columnar = spark.read.format("graft").load(root).select("id", "v")
    val rows = spark.read.format("graft").load(root)
      .select("id", "v", GraftSourceUtil.FileColName)
    Seq(columnar -> true, rows -> false).foreach { case (df, isColumnar) =>
      val got = df.collect()
      assert(got.map(_.getLong(0)).toSeq.sorted === expected)
      assert(got.forall(r => r.getLong(1) === r.getLong(0) * 3))
      assert(scans(df).head.supportsColumnar === isColumnar)
      // the deletes really differ between files that share a pack
      val planned = packs(df)
      assert(planned.exists(p => p.map(_.deletes).distinct.size > 1),
        "expected a pack mixing files with different position deletes")
      assert(planned.exists(p => p.map(_.eqDels).distinct.size > 1),
        "expected a pack mixing files older and newer than the equality delete")
    }
  }

  test("_file names each row's own data file across the chained files") {
    val root = morRoot
    val files = LogTable(spark, root).snapshot().files
    // the seven ten-row files hold ids [10k, 10k + 9]; the newer
    // three-row file holds 12, 45 and 1000
    val late = files.find(_.rows == 3L).get.path
    val older = files.filter(_.rows == 10L)
      .map(f => f.ranges("id")._1 / 10 -> f.path).toMap
    val df = spark.read.format("graft").load(root)
      .select($"id", col(GraftSourceUtil.FileColName))
    val got = df.as[(Long, String)].collect()
    assert(got.map(_._1).toSeq.sorted === expected)
    got.foreach { case (id, file) =>
      val want = if (Set(12L, 45L, 1000L)(id)) late else older(id / 10)
      assert(file === want, s"id $id")
    }
    assert(packs(df).exists(_.size > 1))
  }
}
