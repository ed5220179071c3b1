package graft.sources.bench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.util.SplittableRandom

/** Seeded S3 API-log traffic in `ApiLog.apiFrame`'s 14-column schema.
  *
  * Every row is a pure function of (seed, node, seq, time): the same
  * seed gives byte-identical rows, whichever thread makes them and in
  * whatever order. Historical rows sit on a fixed epoch base, one row
  * per slot of an even grid over some days, round-robin over the four
  * logical nodes, so every node's stream is time-ordered and every
  * time is unique.
  * Live rows take the time the caller stamps (their creation time). */
object Gen {
  val Nodes = 4
  /** 2024-01-01T00:00:00Z in epoch µs: the historical base. */
  val HistBaseUs = 1704067200000000L
  val DayUs = 86400000000L

  /** GetObject-heavy S3 op mix (weights out of 100). The weights, the
    * 3% error rate and its status split, and the 0-4 MiB object sizes
    * are assumptions: they follow "GetObject-heavy, a few % 4xx/5xx",
    * not a measured trace. */
  val Ops: Seq[(String, Int)] = Seq(
    "s3:GetObject" -> 52, "s3:HeadObject" -> 14, "s3:PutObject" -> 14,
    "s3:ListObjectsV2" -> 9, "s3:DeleteObject" -> 5,
    "s3:CreateMultipartUpload" -> 2, "s3:UploadPart" -> 3,
    "s3:CompleteMultipartUpload" -> 1)
  val OpNames: Seq[String] = Ops.map(_._1)
  private val opCum: Array[Int] = Ops.map(_._2).scanLeft(0)(_ + _).tail.toArray
  /** Error statuses, drawn for 3% of requests (weights out of 10). */
  private val errStatus = Array(403, 403, 404, 404, 404, 404, 404, 500, 503, 503)
  private val agents = Array("aws-sdk-go/1.44.0", "aws-sdk-java/2.20.1",
    "Boto3/1.34.2", "MinIO (linux; amd64) minio-go/v7.0.63", "rclone/v1.65.0")

  val schema: StructType = StructType(Seq(
    StructField("time", LongType, nullable = false),
    StructField("name", StringType),
    StructField("bucket", StringType),
    StructField("object", StringType),
    StructField("httpStatusCode", IntegerType, nullable = false),
    StructField("inputBytes", LongType, nullable = false),
    StructField("outputBytes", LongType, nullable = false),
    StructField("requestTime", StringType),
    StructField("timeToFirstByte", StringType),
    StructField("sourceHost", StringType),
    StructField("userAgent", StringType),
    StructField("accessKey", StringType),
    StructField("requestId", StringType),
    StructField("node", StringType)))

  final case class LogRow(time: Long, name: String, bucket: String,
      obj: String, status: Int, inputBytes: Long, outputBytes: Long,
      requestTime: String, ttfb: String, sourceHost: String,
      userAgent: String, accessKey: String, requestId: String,
      node: String) {
    def toRow: Row = Row(time, name, bucket, obj, status, inputBytes,
      outputBytes, requestTime, ttfb, sourceHost, userAgent, accessKey,
      requestId, node)
    def isError: Boolean = status >= 400
  }

  /** One request. `seq` numbers the node's requests from 0; the
    * (seed, node, seq) triple also makes the request id, so ids are
    * unique within a seed. */
  def row(seed: Long, node: Int, seq: Long, timeUs: Long): LogRow = {
    val r = new SplittableRandom(
      seed * 0x9E3779B97F4A7C15L + node * 0xBF58476D1CE4E5B9L + seq)
    val pick = r.nextInt(100)
    val op = OpNames(opCum.indexWhere(pick < _))
    val status =
      if (r.nextInt(100) < 3) errStatus(r.nextInt(errStatus.length)) else 200
    val bucket = s"bucket-${r.nextInt(12)}"
    val obj = s"data/${r.nextInt(64)}/obj-${r.nextInt(1 << 20)}.parquet"
    val size = r.nextLong(1L << 22)
    val (in, out) = op match {
      case "s3:PutObject" | "s3:UploadPart" => (size, 0L)
      case "s3:GetObject" => (0L, size)
      case _ => (0L, r.nextLong(4096L))
    }
    val ms = r.nextInt(2000)
    LogRow(timeUs, op, bucket, obj, status, in, out,
      f"${ms / 1000}.${ms % 1000}%03ds", s"${r.nextInt(ms + 1)}ms",
      s"10.${node}.${r.nextInt(256)}.${r.nextInt(256)}",
      agents(r.nextInt(agents.length)), s"AK${r.nextInt(40)}",
      f"req-$seed%x-$node-$seq", s"node-$node")
  }

  /** Historical traffic: `rows` requests over `days` days. Row i goes
    * to node i % 4 at a unique time inside slot i of an even grid over
    * the days, so each node's stream is time-ordered. */
  final class History(val seed: Long, val rows: Int, val days: Int) {
    require(rows % (days * Nodes) == 0 && DayUs % (rows / days) == 0,
      "rows must split evenly over days, nodes and the day's microseconds")
    val stepUs: Long = days * DayUs / rows
    def perNode: Int = rows / Nodes
    def time(i: Int): Long = {
      val jitter = new SplittableRandom(seed ^ (i.toLong << 20)).nextLong(stepUs)
      HistBaseUs + i * stepUs + jitter
    }
    def at(i: Int): LogRow = row(seed, i % Nodes, i / Nodes, time(i))
    /** Node `node`'s whole time-ordered stream. Flushed as one buffer
      * it lands one file per day. */
    def buffer(node: Int): IndexedSeq[LogRow] = (node until rows by Nodes).map(at)
  }
}
