package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskStart}
import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.functions.{col, concat, lit, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType, TimestampType}

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** What a marker flush and an idle leader round cost: a driver-local
  * flush buffer is written by one task with no shuffle, an idle round
  * touches no lease and opens no table, and every footer open shares
  * the one loaded Hadoop conf ([[HadoopConf]]). */
class FlushCostSpec extends SparkSpec {

  private val Day = 86400000000L
  private val schema = StructType(Seq(
    StructField("msg", StringType), StructField("n", LongType),
    StructField("time", TimestampType)))

  private def dayTable(prefix: String): (String, LogTable) = {
    val root = Files.createTempDirectory(prefix).resolve("t").toString
    val t = LogTable(spark, root, hiddenBy = Seq(Transform.day("time")))
    t.declareSchema(schema)
    (root, t)
  }

  /** Jobs, stages and tasks Spark ran for `body`, with the listener bus
    * drained on both sides. */
  private def shapeOf[A](body: => A): (A, (Long, Long, Long)) = {
    val jobs, stages, tasks = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    GraftBridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      GraftBridge.waitListenerBus(spark)
      (out, (jobs.get, stages.get, tasks.get))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def dayOf(f: DataFile): String = f.partitions("_p_time_day")

  test("a createDataFrame flush over two days runs one job, one stage, one task and stages one file per day") {
    val (_, t) = dayTable("flush_local_")
    val rows = (0 until 500).map { i =>
      Row(s"m$i", i.toLong,
        new java.sql.Timestamp(((i % 2) * Day + i * 1000L) / 1000L))
    }
    val df = spark.createDataFrame(rows.asJava, schema)
    assert(df.isLocal)
    val (entries, (jobs, stages, tasks)) = shapeOf(t.stageFlush(df))
    assert((jobs, stages, tasks) === ((1L, 1L, 1L)),
      "a driver-local buffer is written by one task, with no shuffle")
    assert(entries.size === 2)
    assert(entries.map(dayOf).distinct.size === 2, "one file per day")
    assert(entries.map(_.rows).sum === 500L)
    // the leader's footer-only reconstruction matches what the flusher
    // recorded when it wrote the files
    assert(t.adoptStaged(entries.map(_.path)).sortBy(_.path) ===
      entries.sortBy(_.path))
  }

  test("a non-local four-partition frame still stages one file per day through the hash path") {
    val (_, t) = dayTable("flush_dist_")
    val df = spark.range(0L, 400L, 1L, 4).select(
      concat(lit("m"), col("id").cast("string")).as("msg"),
      col("id").as("n"),
      timestamp_micros((col("id") % 2) * Day + col("id")).as("time"))
    assert(!df.isLocal)
    val (entries, (_, stages, tasks)) = shapeOf(t.stageFlush(df))
    assert(entries.size === 2)
    assert(entries.map(dayOf).distinct.size === 2, "one file per day")
    assert(entries.map(_.rows).sum === 400L)
    assert(stages >= 2L && tasks > 1L,
      "a distributed frame keeps the hash shuffle on the layout key")
  }

  test("an idle leader round lists twice and takes no lease, reads nothing and deletes nothing") {
    val (root, _) = dayTable("flush_idle_")
    val cio = new CountingIO
    val t = LogTable(spark, root, io = cio)
    val df = spark.createDataFrame(
      Seq(Row("a", 1L, new java.sql.Timestamp(0L))).asJava, schema)
    MarkerCommit.flush(t, df)
    assert(MarkerCommit.runOnce(spark, root, cio) === MarkerCommit.Led(1, 1, 0, 2L))
    cio.reset()
    assert(MarkerCommit.runOnce(spark, root, cio) === MarkerCommit.Led(0, 0, 0, 2L))
    assert(cio.publishes.get === 0L, "no lease CAS")
    assert(cio.reads.get === 0L, "no lease read, no pointer read")
    assert(cio.deletes.get === 0L, "no lease release")
    assert(cio.lists.get === 2L, "one pending listing, one manifest listing")
    assert(LogTable(spark, root).currentVersion === 2L)
    // a round with work still takes the lease and commits
    MarkerCommit.flush(t, df)
    cio.reset()
    assert(MarkerCommit.runOnce(spark, root, cio) === MarkerCommit.Led(1, 1, 0, 3L))
    assert(cio.publishes.get >= 2L, "lease plus the commit's pointer")
    assert(MarkerCommit.pending(root).isEmpty)
  }

  test("source gate: no Hadoop Configuration is built per call outside HadoopConf") {
    val fresh = """new\s+(org\.apache\.hadoop\.conf\.)?Configuration\(\s*\)""".r
    val s = Files.walk(Paths.get("src/main"))
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    val hits = for {
      f <- files if f.getFileName.toString != "HadoopConf.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if fresh.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(files.exists(_.getFileName.toString == "HadoopConf.scala"))
    assert(hits.isEmpty,
      hits.mkString("per-call Hadoop confs (use HadoopConf.loaded):\n", "\n", ""))
  }
}
