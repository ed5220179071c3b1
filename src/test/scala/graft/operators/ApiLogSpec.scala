package graft.operators

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

/** The reference-schema lifecycle ([[ApiLog]]): the reshape carries
  * the reference's exact 14 columns in order (reference
  * README.md:172-189), and the full streaming-ingest lifecycle
  * preserves every reshaped row through the flush/commit loop into
  * the catalog folds. */
class ApiLogSpec extends SparkSpec {

  test("apiFrame: the reference's exact 14-column schema, in order") {
    val df = ApiLog.apiFrame(spark, sfDir)
    assert(df.columns.toSeq === Seq("time", "name", "bucket", "object",
      "httpStatusCode", "inputBytes", "outputBytes", "requestTime",
      "timeToFirstByte", "sourceHost", "userAgent", "accessKey",
      "requestId", "node"))
    // spot the deterministic derivations
    val r = df.orderBy(col("time")).limit(1).collect()(0)
    assert(r.getAs[String]("name").startsWith("s3:"))
    assert(r.getAs[String]("bucket").startsWith("bucket-"))
    assert(r.getAs[String]("requestTime").matches("\\d+m\\d+\\.\\d+s"))
    assert(Set(200, 404, 503).contains(r.getAs[Int]("httpStatusCode")))
    assert(df.count() === Tables.events(spark, sfDir).count())
  }

  test("flushBuffer: count trigger and interval trigger both cut files, no row lost") {
    import spark.implicits._
    // burst node: 10 events inside one interval → pure COUNT flushes;
    // quiet node: 5 events spaced 2× the interval → pure INTERVAL
    // flushes (each event past the open file's window closes it)
    val iv = 1000000L // 1s interval
    val burst = (0 until 10).map(i => ("burst", i * 1000L))
    val quiet = (0 until 5).map(i => ("quiet", 100L + i * 2 * iv))
    val df = (burst ++ quiet).toDF("node", "time")
    val cut = ApiLog.flushBuffer(df, "node", "time",
      countLimit = 3, intervalUs = iv)
    val groups = cut.groupBy($"node", $"_flush")
      .agg(count(lit(1)).as("n"), min($"time").as("lo"), max($"time").as("hi"))
      .collect()
    // count trigger: the burst's 10 rows cut as 3+3+3+1
    val burstSizes = groups.filter(_.getString(0) == "burst")
      .map(_.getAs[Long]("n")).sorted.toSeq
    assert(burstSizes === Seq(1L, 3L, 3L, 3L))
    // interval trigger: every quiet event lands past the previous
    // file's window → 5 single-row files
    val quietGroups = groups.filter(_.getString(0) == "quiet")
    assert(quietGroups.length === 5)
    assert(quietGroups.forall(_.getAs[Long]("n") === 1L))
    // invariants: no file exceeds the count limit, no file spans the
    // interval, and the cut loses/duplicates nothing
    assert(groups.forall(_.getAs[Long]("n") <= 3L))
    assert(groups.forall(g => g.getAs[Long]("hi") - g.getAs[Long]("lo") < iv))
    assert(cut.count() === df.count())
    assert(cut.drop("_flush").except(df).count() === 0)

    // BOTH trigger parameterizations commit the SAME table: flush
    // boundaries change, content cannot
    def ingest(countLimit: Int, interval: Long): Seq[String] = {
      val tmp = java.nio.file.Files.createTempDirectory("apilog_trig_")
      val flushed = ApiLog.flushBuffer(df, "node", "time", countLimit, interval)
      flushed.write.partitionBy("_flush").parquet(tmp.resolve("buf").toString)
      val t = graft.sources.LogTable(spark, tmp.resolve("t").toString)
      val stream = spark.readStream.schema(flushed.schema)
        .option("maxFilesPerTrigger", 2).parquet(tmp.resolve("buf").toString)
        .drop("_flush")
      graft.streaming.Streams.streamIngest(stream, t,
        tmp.resolve("ck").toString).awaitTermination()
      t.read().collect().map(_.toString).sorted.toSeq
    }
    val byCount = ingest(countLimit = 2, interval = Long.MaxValue / 2)
    val byInterval = ingest(countLimit = Int.MaxValue, interval = iv)
    assert(byCount === byInterval,
      "count-triggered and interval-triggered flushes must commit identical tables")
  }

  test("flushBuffer: a repeated (node, time) fails loudly, naming both") {
    import spark.implicits._
    val df = Seq(("n1", 10L), ("n1", 20L), ("n2", 20L), ("n2", 30L), ("n2", 30L))
      .toDF("node", "time")
    val e = intercept[Exception] {
      ApiLog.flushBuffer(df, "node", "time", countLimit = 3, intervalUs = 1000L)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("duplicate (node, time) = (n2, 30)"), msgs)
  }

  test("lifecycle: the streaming flush/commit loop loses and duplicates nothing") {
    val out = ApiLog.lifecycle(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    val countRow = out.find(_.getAs[String]("q") == "count").get
    assert(countRow.getAs[Long]("n") === total,
      "the count catalog query must see every flushed row exactly once")
    assert(out.count(_.getAs[String]("q") == "recent") === 20)
    // errors fold only covers >= 400, and every error event maps there
    val errorRows = out.filter(_.getAs[String]("q") == "errors")
    assert(errorRows.nonEmpty)
    assert(errorRows.map(_.getAs[Long]("n")).sum ===
      Tables.events(spark, sfDir).filter(col("event_type") === "error").count())
    // latency fold is present for every op name with exact µs sums
    assert(out.count(_.getAs[String]("q") == "latency") === 5)
  }
}
