package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import java.nio.file.Files

/** STORAGE-PARTITIONED JOINS: two graft tables laid out by the same
  * transform of the join key join partition-by-partition with ZERO
  * exchange — the scan reports `KeyGroupedPartitioning`, the catalog
  * resolves the transform functions, and Spark's v2 bucketing planner
  * does the rest. At 100 TB the two exchanges ARE the join cost;
  * these specs pin the plans that delete them. */
class GraftSpjSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft_spj_wh_").toString
    spark.conf.set("spark.sql.catalog.spj", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spj.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS spj.db")
    wh
  }

  /** All shuffle exchanges anywhere in the executed plan, through
    * AQE's wrappers (run the dataset FIRST — AQE finalizes lazily). */
  private def shuffles(df: DataFrame): Int = {
    // collect already descends into an exchange's children; only the
    // AQE wrappers (leaf nodes hiding their real subtree) need manual
    // recursion, or nested exchanges double-count
    def walk(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case s: ShuffleExchangeLike => Seq(s)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
    }.flatten
    walk(df.queryExecution.executedPlan).distinct.size
  }

  private def withSpj[A](f: => A): A = {
    val c = spark.conf
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> c.getOption(k))
    c.set("spark.sql.sources.v2.bucketing.enabled", "true")
    c.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _)) }
  }

  test("V2 bucket/hours/days/truncate functions match the writer layout bit-for-bit") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.connector.catalog.functions.ScalarFunction
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val samples = Seq(0L, 1L, -1L, 42L, 1723500000000000L, -86400000001L)
    val bucket = GraftFunctions.load("bucket").get
      .bind(StructType(Seq(StructField("n", IntegerType), StructField("v", LongType))))
      .asInstanceOf[ScalarFunction[java.lang.Long]]
    val hours = GraftFunctions.load("hours").get
      .bind(StructType(Seq(StructField("v", LongType))))
      .asInstanceOf[ScalarFunction[java.lang.Long]]
    val days = GraftFunctions.load("days").get
      .bind(StructType(Seq(StructField("v", LongType))))
      .asInstanceOf[ScalarFunction[java.lang.Long]]
    val trunc = GraftFunctions.load("truncate").get
      .bind(StructType(Seq(StructField("w", LongType), StructField("v", LongType))))
      .asInstanceOf[ScalarFunction[java.lang.Long]]
    val xxbucket = GraftFunctions.load("xxbucket").get
      .bind(StructType(Seq(StructField("n", IntegerType), StructField("v", LongType))))
      .asInstanceOf[ScalarFunction[java.lang.Long]]
    samples.foreach { v =>
      // v2 `bucket` is the murmur3 (Iceberg-spec) bucket — what
      // mbucket layouts are written with; the legacy xxhash64 kind
      // answers to `xxbucket`
      assert(bucket.produceResult(new GenericInternalRow(Array[Any](8, v)))
        === Transform.mbucket(8, "x").derive(v), s"bucket($v)")
      assert(xxbucket.produceResult(new GenericInternalRow(Array[Any](8, v)))
        === Transform.bucket(8, "x").derive(v), s"xxbucket($v)")
      assert(hours.produceResult(new GenericInternalRow(Array[Any](v)))
        === Transform.hour("x").derive(v), s"hours($v)")
      assert(days.produceResult(new GenericInternalRow(Array[Any](v)))
        === Transform.day("x").derive(v), s"days($v)")
      assert(trunc.produceResult(new GenericInternalRow(Array[Any](1000L, v)))
        === Transform.truncate(1000L, "x").derive(v), s"truncate($v)")
      // the calendar kinds too (floor-based on the whole domain)
      val years = GraftFunctions.load("years").get
        .bind(StructType(Seq(StructField("v", LongType))))
        .asInstanceOf[ScalarFunction[java.lang.Long]]
      val months = GraftFunctions.load("months").get
        .bind(StructType(Seq(StructField("v", LongType))))
        .asInstanceOf[ScalarFunction[java.lang.Long]]
      assert(years.produceResult(new GenericInternalRow(Array[Any](v)))
        === Transform.year("x").derive(v), s"years($v)")
      assert(months.produceResult(new GenericInternalRow(Array[Any](v)))
        === Transform.month("x").derive(v), s"months($v)")
    }
    // null propagates (a null source rides the hive null dir)
    assert(bucket.produceResult(
      new GenericInternalRow(Array[Any](8, null))) === null)
  }

  test("same-bucket-layout join plans ZERO shuffles (storage-partitioned join)") {
    warehouse
    spark.sql(
      """CREATE TABLE spj.db.facts (id BIGINT, v BIGINT)
        |PARTITIONED BY (bucket(4, id))""".stripMargin)
    spark.sql(
      """CREATE TABLE spj.db.dims (id BIGINT, w BIGINT)
        |PARTITIONED BY (bucket(4, id))""".stripMargin)
    (0L until 200L).map(i => (i % 50, i)).toDF("id", "v")
      .createOrReplaceTempView("spj_f")
    (0L until 50L).map(i => (i, i * 10)).toDF("id", "w")
      .createOrReplaceTempView("spj_d")
    spark.sql("INSERT INTO spj.db.facts SELECT * FROM spj_f")
    spark.sql("INSERT INTO spj.db.dims SELECT * FROM spj_d")

    withSpj {
      val j = spark.sql(
        """SELECT f.id, f.v, d.w FROM spj.db.facts f
          |JOIN spj.db.dims d ON f.id = d.id""".stripMargin)
      val rows = j.collect()
      assert(rows.length === 200)
      assert(rows.forall(r => r.getLong(2) === r.getLong(0) * 10))
      assert(shuffles(j) === 0,
        s"expected a storage-partitioned join with zero exchanges:\n" +
          j.queryExecution.executedPlan)
    }
    // same join with v2 bucketing OFF shuffles both sides — the claim
    // above is the feature, not the data size
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      val j0 = spark.sql(
        """SELECT f.id, f.v, d.w FROM spj.db.facts f
          |JOIN spj.db.dims d ON f.id = d.id""".stripMargin)
      j0.collect()
      assert(shuffles(j0) === 2)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("same-mbucket-layout join (Iceberg-spec bucket) plans ZERO shuffles") {
    warehouse
    spark.sql(
      """CREATE TABLE spj.db.mfacts (id BIGINT, v BIGINT)
        |PARTITIONED BY (mbucket(4, id))""".stripMargin)
    spark.sql(
      """CREATE TABLE spj.db.mdims (id BIGINT, w BIGINT)
        |PARTITIONED BY (mbucket(4, id))""".stripMargin)
    (0L until 200L).map(i => (i % 50, i)).toDF("id", "v")
      .createOrReplaceTempView("spj_mf")
    (0L until 50L).map(i => (i, i * 10)).toDF("id", "w")
      .createOrReplaceTempView("spj_md")
    spark.sql("INSERT INTO spj.db.mfacts SELECT * FROM spj_mf")
    spark.sql("INSERT INTO spj.db.mdims SELECT * FROM spj_md")
    withSpj {
      val j = spark.sql(
        """SELECT f.id, f.v, d.w FROM spj.db.mfacts f
          |JOIN spj.db.mdims d ON f.id = d.id""".stripMargin)
      val rows = j.collect()
      assert(rows.length === 200)
      assert(rows.forall(r => r.getLong(2) === r.getLong(0) * 10))
      assert(shuffles(j) === 0,
        s"expected a storage-partitioned join with zero exchanges:\n" +
          j.queryExecution.executedPlan)
    }
  }

  test("STRING-keyed mbucket join (Iceberg UTF-8 bucket) plans ZERO shuffles") {
    warehouse
    spark.sql(
      """CREATE TABLE spj.db.sfacts (k STRING, v BIGINT)
        |PARTITIONED BY (mbucket(4, k))""".stripMargin)
    spark.sql(
      """CREATE TABLE spj.db.sdims (k STRING, w BIGINT)
        |PARTITIONED BY (mbucket(4, k))""".stripMargin)
    (0L until 200L).map(i => (s"doc-${i % 50}", i)).toDF("k", "v")
      .createOrReplaceTempView("spj_sf")
    (0L until 50L).map(i => (s"doc-$i", i * 10)).toDF("k", "w")
      .createOrReplaceTempView("spj_sd")
    spark.sql("INSERT INTO spj.db.sfacts SELECT * FROM spj_sf")
    spark.sql("INSERT INTO spj.db.sdims SELECT * FROM spj_sd")
    withSpj {
      val j = spark.sql(
        """SELECT f.k, f.v, d.w FROM spj.db.sfacts f
          |JOIN spj.db.sdims d ON f.k = d.k""".stripMargin)
      val rows = j.collect()
      assert(rows.length === 200)
      assert(rows.forall(r =>
        r.getLong(2) === r.getString(0).stripPrefix("doc-").toLong * 10))
      assert(shuffles(j) === 0,
        s"expected a storage-partitioned join with zero exchanges:\n" +
          j.queryExecution.executedPlan)
    }
  }

  test("TIMESTAMP-sourced days layout: the V2 days function binds timestamp inputs and SPJ engages") {
    warehouse
    spark.sql(
      """CREATE TABLE spj.db.tfacts (time TIMESTAMP, v BIGINT)
        |PARTITIONED BY (days(time))""".stripMargin)
    spark.sql(
      """CREATE TABLE spj.db.tdims (time TIMESTAMP, w BIGINT)
        |PARTITIONED BY (days(time))""".stripMargin)
    // 4 distinct days, join keyed on the timestamp itself
    (0L until 80L).map(i => (java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond((i % 20) * 5000L)), i))
      .toDF("time", "v").createOrReplaceTempView("spj_tf")
    (0L until 20L).map(i => (java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(i * 5000L)), i * 10))
      .toDF("time", "w").createOrReplaceTempView("spj_td")
    spark.sql("INSERT INTO spj.db.tfacts SELECT * FROM spj_tf")
    spark.sql("INSERT INTO spj.db.tdims SELECT * FROM spj_td")
    withSpj {
      val j = spark.sql(
        """SELECT f.time, f.v, d.w FROM spj.db.tfacts f
          |JOIN spj.db.tdims d ON f.time = d.time""".stripMargin)
      val rows = j.collect()
      assert(rows.length === 80)
      assert(rows.forall(r => r.getLong(2) === (r.getLong(1) % 20) * 10))
      assert(shuffles(j) === 0,
        s"expected a storage-partitioned join with zero exchanges:\n" +
          j.queryExecution.executedPlan)
    }
  }

  test("a key-less aggregate over a days(time) table reports no layout and packs its files") {
    warehouse
    spark.sql(
      """CREATE TABLE spj.db.kfacts (time TIMESTAMP, v BIGINT)
        |PARTITIONED BY (days(time))""".stripMargin)
    spark.sql(
      """CREATE TABLE spj.db.kdims (time TIMESTAMP, w BIGINT)
        |PARTITIONED BY (days(time))""".stripMargin)
    // 3 inserts × 4 days = 12 small fact files
    (0 until 3).foreach { b =>
      (0L until 20L).map(i => (java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond((i % 4) * 86400L + b)), i % 5))
        .toDF("time", "v").createOrReplaceTempView("spj_kf")
      spark.sql("INSERT INTO spj.db.kfacts SELECT * FROM spj_kf")
    }
    (0L until 4L).map(i => (java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(i * 86400L)), i))
      .toDF("time", "w").createOrReplaceTempView("spj_kd")
    spark.sql("INSERT INTO spj.db.kdims SELECT * FROM spj_kd")
    assert(LogTable(spark, s"$warehouse/db/kfacts").snapshot().files.size === 12)
    def scanOf(df: DataFrame) = {
      def walk(p: SparkPlan): Seq[org.apache.spark.sql.execution.datasources
          .v2.BatchScanExec] = p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
      }.flatten
      walk(df.queryExecution.executedPlan)
    }
    withSpj {
      // `time` is not read: Spark would drop a days(time) claim
      val agg = spark.sql(
        "SELECT v, count(*) AS n FROM spj.db.kfacts GROUP BY v")
      assert(agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        (0L until 5L).map(_ -> 12L).toMap)
      val scan = scanOf(agg).head
      assert(scan.scan.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportPartitioning].outputPartitioning()
        .isInstanceOf[org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning])
      assert(ScanPlans.plannedFiles(scan.inputPartitions) === 12)
      assert(scan.inputPartitions.size < 12 &&
        scan.inputPartitions.forall(_.isInstanceOf[GraftFilePack]),
        s"expected packed partitions, got ${scan.inputPartitions.size}")
      // a query reading the key still reports the layout and joins
      // partition-by-partition
      val j = spark.sql(
        """SELECT f.v, d.w FROM spj.db.kfacts f
          |JOIN spj.db.kdims d ON f.time = d.time""".stripMargin)
      assert(j.collect().length === 20)
      assert(shuffles(j) === 0,
        s"expected a storage-partitioned join with zero exchanges:\n" +
          j.queryExecution.executedPlan)
      assert(scanOf(j).forall(_.inputPartitions.forall(
        _.isInstanceOf[GraftInputPartition])))
    }
  }

  test("YEARS layout (calendar transform) reports SPJ: same-years join plans ZERO shuffles") {
    warehouse
    spark.sql(
      """CREATE TABLE spj.db.yfacts (time TIMESTAMP, v BIGINT)
        |PARTITIONED BY (years(time))""".stripMargin)
    spark.sql(
      """CREATE TABLE spj.db.ydims (time TIMESTAMP, w BIGINT)
        |PARTITIONED BY (years(time))""".stripMargin)
    // 3 distinct years, join keyed on the timestamp itself
    (0L until 60L).map(i => (java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond((i % 15) * 9000000L)), i))
      .toDF("time", "v").createOrReplaceTempView("spj_yf")
    (0L until 15L).map(i => (java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(i * 9000000L)), i * 10))
      .toDF("time", "w").createOrReplaceTempView("spj_yd")
    spark.sql("INSERT INTO spj.db.yfacts SELECT * FROM spj_yf")
    spark.sql("INSERT INTO spj.db.ydims SELECT * FROM spj_yd")
    withSpj {
      val j = spark.sql(
        """SELECT f.time, f.v, d.w FROM spj.db.yfacts f
          |JOIN spj.db.ydims d ON f.time = d.time""".stripMargin)
      val rows = j.collect()
      assert(rows.length === 60)
      assert(rows.forall(r => r.getLong(2) === (r.getLong(1) % 15) * 10))
      assert(shuffles(j) === 0,
        s"expected a storage-partitioned join with zero exchanges:\n" +
          j.queryExecution.executedPlan)
    }
  }

  test("group-by on an identity partition column aggregates without exchange") {
    warehouse
    spark.sql(
      """CREATE TABLE spj.db.byop (op STRING, n BIGINT)
        |PARTITIONED BY (op)""".stripMargin)
    Seq(("get", 1L), ("put", 2L), ("get", 3L), ("del", 4L), ("put", 5L))
      .toDF("op", "n").createOrReplaceTempView("spj_ops")
    spark.sql("INSERT INTO spj.db.byop SELECT * FROM spj_ops")

    withSpj {
      val agg = spark.sql(
        "SELECT op, sum(n) AS s FROM spj.db.byop GROUP BY op")
      val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("get" -> 4L, "put" -> 7L, "del" -> 4L))
      assert(shuffles(agg) === 0,
        s"expected partition-aligned aggregation with zero exchanges:\n" +
          agg.queryExecution.executedPlan)
    }
  }

  test("lake_spj driver query: the hinted join itself plans no exchange") {
    val df = graft.operators.Lakehouse.lakeSpj(spark, sfDir)
    assert(df.collect().nonEmpty)
    // the group-by (event_type ≠ bucket key) and ORDER BY each keep
    // their exchange; the JOIN contributes zero — 2 total, not 4
    assert(shuffles(df) === 2,
      s"expected only the agg + sort exchanges:\n" +
        df.queryExecution.executedPlan)
  }

  test("MoR deletes keep the storage-partitioned plan and the right rows") {
    warehouse
    spark.sql(
      """CREATE TABLE spj.db.fmor (id BIGINT, v BIGINT)
        |PARTITIONED BY (bucket(4, id))""".stripMargin)
    spark.sql(
      """CREATE TABLE spj.db.dmor (id BIGINT, w BIGINT)
        |PARTITIONED BY (bucket(4, id))""".stripMargin)
    (0L until 40L).map(i => (i, i)).toDF("id", "v")
      .createOrReplaceTempView("spj_fm")
    (0L until 40L).map(i => (i, i * 10)).toDF("id", "w")
      .createOrReplaceTempView("spj_dm")
    spark.sql("INSERT INTO spj.db.fmor SELECT * FROM spj_fm")
    spark.sql("INSERT INTO spj.db.dmor SELECT * FROM spj_dm")
    // position-delete marks on the fact side (merge-on-read, no rewrite)
    LogTable(spark, s"$warehouse/db/fmor")
      .deleteMor(org.apache.spark.sql.functions.col("id") < 10L)

    withSpj {
      val j = spark.sql(
        """SELECT f.id, d.w FROM spj.db.fmor f
          |JOIN spj.db.dmor d ON f.id = d.id""".stripMargin)
      val rows = j.collect()
      assert(rows.length === 30 && rows.forall(_.getLong(0) >= 10L))
      assert(shuffles(j) === 0,
        s"MoR marks must not cost the join its co-partitioning:\n" +
          j.queryExecution.executedPlan)
    }
  }
}
