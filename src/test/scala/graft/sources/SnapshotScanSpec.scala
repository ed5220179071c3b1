package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One snapshot per scan: a table handle resolves its snapshot once,
  * when it is loaded, and every part of a scan built from it (metadata
  * aggregates, statistics, layout, runtime-filter columns, planned
  * files) reads that snapshot. A change-feed scan carries none. */
class SnapshotScanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft_snap_wh_").toString
    spark.conf.set("spark.sql.catalog.gsnap", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsnap.warehouse", wh)
    wh
  }

  private def catalog: GraftCatalog = {
    val c = new GraftCatalog
    c.initialize("gsnap",
      new CaseInsensitiveStringMap(Map("warehouse" -> warehouse).asJava))
    c
  }

  private def ids(from: Int, n: Int) = (from until from + n).map(_.toLong).toDF("id")

  test("a catalog scan plans its files from the load-time version after a commit lands") {
    val root = s"$warehouse/ns/stats"
    val t = LogTable(spark, root)
    t.append(ids(0, 10))
    t.append(ids(10, 7))
    val loaded = t.currentVersion
    val table = catalog.loadTable(Identifier.of(Array("ns"), "stats"))
    val scan = table.asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val numRows = scan.asInstanceOf[SupportsReportStatistics]
      .estimateStatistics().numRows().getAsLong
    t.append(ids(100, 5))
    assert(t.currentVersion > loaded)
    val planned = scan.toBatch.planInputPartitions().toSeq
      .flatMap(GraftFilePack.filesOf).map(_.path)
    val atLoad = t.snapshot(loaded)
    assert(planned.toSet === atLoad.files.map(_.path).toSet,
      "every planned file comes from the load-time version")
    val rows = atLoad.files.map(f => f.path -> f.rows).toMap
    assert(planned.map(rows).sum === numRows,
      "the planned files hold the rows the statistics reported")
    assert(numRows === 17L)
  }

  test("a loaded frame keeps reading its load-time snapshot; a new load sees later commits") {
    val root = s"$warehouse/ns/frame"
    val t = LogTable(spark, root)
    t.append(ids(0, 4))
    val byPath = spark.read.format("graft").load(root)
    val byName = spark.table("gsnap.ns.frame")
    t.append(ids(4, 3))
    assert(byPath.collect().length === 4)
    assert(byName.collect().length === 4)
    assert(spark.read.format("graft").load(root).collect().length === 7)
    assert(spark.table("gsnap.ns.frame").collect().length === 7)
  }

  test("COUNT(*) over a change feed counts its change rows, never the head's") {
    val root = s"$warehouse/ns/feed"
    val t = LogTable(spark, root)
    t.append(ids(0, 10))
    t.append(ids(10, 5))
    val window = spark.read.format("graft").option("readChanges", "true")
      .option("startingVersion", "1").load(root)
    assert(window.collect().length === 5)
    assert(window.count() === 5L)
    // a whole-file delete replays as 5 'delete' rows: 20 change rows
    // over a 10-row head
    t.delete(col("id") >= 10L)
    val feed = "gsnap.ns.feed.changes"
    val changes = spark.sql(s"SELECT * FROM $feed").collect()
    assert(changes.length === 20)
    assert(spark.sql(s"SELECT COUNT(*) FROM $feed").as[Long].head() === 20L)
  }

  test("source gate: the scan builder, scan and batch never re-open the table") {
    val rules = Seq("""snapshotFor\(""".r, """tableFor\(""".r, """LogTable\(""".r)
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/sources/GraftSource.scala")).asScala
    // a line opening a top-level definition starts the next body
    val scanClass = """^private\[sources\] final class (GraftScanBuilder|GraftScan|GraftBatch)\(""".r
    var inScan = false
    val hits = lines.zipWithIndex.flatMap { case (line, i) =>
      if (line.nonEmpty && !line.head.isWhitespace && line.head != '}')
        inScan = scanClass.findFirstIn(line).nonEmpty
      if (inScan && rules.exists(_.findFirstIn(line).nonEmpty))
        Some(s"GraftSource.scala:${i + 1}: ${line.trim}")
      else None
    }
    assert(lines.exists(l => scanClass.findFirstIn(l).nonEmpty))
    assert(hits.isEmpty, hits.mkString(
      "scans read the snapshot their table handle resolved:\n", "\n", ""))
  }
}
