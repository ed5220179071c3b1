package graft.sources.bench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The log-lake pipeline benchmark:
  *
  * {{{
  * Main --workload ingest|catalog|mixed --seed N --seconds S --trace 0|1
  *      --work DIR [--param key=value ...]
  * }}}
  *
  * Prints one JSON object as its last line: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the
  * per-layer metrics traced). Exits 1 when a correctness check fails.
  * `perfbench/run.py` builds the program and passes the parameters
  * recorded in `perfbench/config.json`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, params: Map[String, String])

  def parse(argv: Seq[String]): Args = {
    val flags = argv.grouped(2).collect { case Seq(k, v) => (k, v) }.toSeq
    def one(k: String) = flags.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    val params = flags.collect { case ("--param", kv) =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val w = one("--workload")
    require(Seq("ingest", "catalog", "mixed").contains(w), s"unknown workload $w")
    Args(w, one("--seed").toLong, one("--seconds").toInt, one("--trace") == "1",
      Paths.get(one("--work")).toAbsolutePath, params)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally w.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    deleteTree(a.work)
    Files.createDirectories(a.work)
    val p = new Params(a.params)
    val spark = session(a.work, p.int("cores"))
    val code =
      try {
        val out = new Bench(spark, a, p, jvmStartMs).run()
        out.failures.take(20).foreach(f => System.err.println(s"CHECK FAILED: $f"))
        println(out.json)
        System.err.println(s"perfbench: result at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0} s")
        if (out.correct) 0 else 1
      } finally {
        spark.stop()
        deleteTree(a.work.resolve("wh"))
        deleteTree(a.work.resolve("spark-local"))
      }
    sys.exit(code)
  }
}

/** Workload parameters (`perfbench/config.json`'s `params`). */
final class Params(m: Map[String, String]) {
  private def get(k: String) = m.getOrElse(k,
    throw new IllegalArgumentException(s"missing --param $k"))
  def int(k: String): Int = get(k).toInt
  def dbl(k: String): Double = get(k).toDouble
}

/** One run's result: the printed JSON and the correctness verdict. */
final case class Outcome(attempted: Long, failures: Seq[String],
    metrics: Seq[(String, Double, String)]) {
  def correct: Boolean = failures.isEmpty
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$ms}}"""
  }
}

/** Fixed host-speed probes, reported beside every result and never
  * used to rescale one: a CPU kernel and a small-file write+fsync
  * loop. Each is the median of three timings. */
object HostControls {
  private def median3(f: () => Unit): Double = {
    val ts = (1 to 3).map { _ =>
      val s = System.nanoTime(); f(); (System.nanoTime() - s) / 1e6
    }.sorted
    ts(1)
  }
  @volatile private var sink = 0L
  def cpuMs(): Double = median3 { () =>
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
  }
  def ioMs(dir: Path): Double = {
    Files.createDirectories(dir)
    val buf = java.nio.ByteBuffer.allocate(4096)
    median3 { () =>
      (0 until 50).foreach { i =>
        val f = dir.resolve(s"control-$i")
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try { buf.clear(); ch.write(buf); ch.force(true) } finally ch.close()
        Files.delete(f)
      }
    }
  }
}
