package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** One merge-on-read path: every LogTable DataFrame read and rewrite is
  * the DSv2 scan, whose metadata columns (`_file`, `_pos`, `_row_id`,
  * `_last_updated_sequence_number`) carry the position and lineage
  * plumbing. */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft_mor_wh_").toString
    spark.conf.set("spark.sql.catalog.gmor", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmor.warehouse", wh)
    wh
  }

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("source gate: LogTable has no DataFrame-side merge-on-read path and no delete broadcast budget") {
    val banned = Seq("readFiles(", "readLive", "antiJoinDeletes", "applyEqDeletes",
      "DeletionVectors.filterDeleted", "keepDeleted", "graft.deletes.broadcast.bytes")
    val s = Files.walk(Paths.get("src/main"))
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(files.exists(_.getFileName.toString == "LogTable.scala"))
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned
      if line.contains(b)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString(
      "read through LogTable's DSv2 scan helper; deletes apply inside the scan:\n", "\n", ""))
  }

  test("SELECT _file, _pos reports each live row's file and Spark's own row index, never a marked position") {
    val root = s"$warehouse/ns/pos"
    val t = LogTable(spark, root)
    t.append((0L until 60L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3))
    t.deleteMor(col("id") % 3 === 0)
    assert(t.snapshot().deletes.forall(d => DeletionVectors.isVector(d.path)))
    val got = spark.sql("SELECT _file, _pos, * FROM gmor.ns.pos")
      .as[(String, Long, Long, String)].collect()
    // the independent answer: Spark's own parquet reader over each file
    val files = t.snapshot().files.map(_.path)
    val plain = files.flatMap(f => spark.read.parquet(f)
      .select(col("_metadata.row_index"), col("id"), col("v"))
      .as[(Long, Long, String)].collect().map { case (p, id, v) => (f, p, id, v) })
    val (marked, live) = plain.partition(_._3 % 3 == 0)
    assert(got.toSet === live.toSet)
    assert(got.length === live.length)
    assert(marked.nonEmpty && !got.exists(g =>
      marked.exists(m => m._1 == g._1 && m._2 == g._2)), "no marked position may appear")
  }

  test("_row_id is first_row_id + _pos for inherited files and the stored value after a compaction") {
    val src = LogTable(spark, tmp("mor_lin_src_"))
    src.append((0L until 20L).map(i => (i, i * 10)).toDF("id", "v"))
    src.append((20L until 40L).map(i => (i, i * 10)).toDF("id", "v"))
    val ice = tmp("mor_lin_ice_")
    IcebergExport.export(src, ice, history = true, formatVersion = 3)
    val served = IcebergRead.read(spark, ice, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    val t = IcebergImport.importTable(spark, ice, s"$warehouse/ns/lin")
    val first = t.snapshot().files.map(f => f.path -> f.firstRowId).toMap
    assert(first.values.forall(_.nonEmpty) && !t.snapshot().files.exists(_.matLineage))
    def query() = spark.sql("SELECT id, _file, _pos, _row_id FROM gmor.ns.lin")
      .as[(Long, String, Long, Long)].collect()
    val inherited = query()
    assert(inherited.forall { case (_, f, p, r) => r == first(f).get + p })
    assert(inherited.map(r => r._1 -> r._4).toMap === served)
    t.compact()
    val after = t.snapshot().files
    assert(after.size === 1 && after.head.matLineage)
    val stored = spark.read.parquet(after.head.path)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    val compacted = query()
    assert(compacted.map(r => r._1 -> r._4).toMap === stored)
    assert(stored === served)
  }

  test("data columns named _pos and _file: deleteMor, COW delete and compact change exactly the selected rows") {
    val t = LogTable(spark, tmp("mor_shadow_"))
    val rows = (0L until 40L).map(i => (i, (i * 7) % 5, s"f${i % 4}"))
    t.append(rows.toDF("id", "_pos", "_file").repartition(4))
    def table = t.read().as[(Long, Long, String)].collect().toSet
    var expected = rows.toSet
    t.deleteMor(col("id") < 5L)
    expected = expected.filterNot(_._1 < 5L)
    assert(table === expected)
    t.deleteMor(col("_file") === "f1")
    expected = expected.filterNot(_._3 == "f1")
    assert(table === expected)
    t.delete(col("_pos") === 3L)
    expected = expected.filterNot(_._2 == 3L)
    assert(table === expected)
    t.compact()
    assert(t.snapshot().deletes.isEmpty)
    assert(table === expected)
  }

  test("a warm read() and a warm catalog SELECT add no _graft_log listing or pointer read") {
    val root = s"$warehouse/ns/io"
    LogTable(spark, root).append((0L until 30L).toDF("id").repartition(3))
    LogTable(spark, root).deleteMor(col("id") < 3L)
    val cio = new CountingIO
    val t = LogTable(spark, root, io = cio)
    t.read().collect()
    cio.reset()
    assert(t.read().collect().length === 27)
    assert((cio.lists.get, cio.manifestReads.get) === (1L, 0L),
      "a warm read() lists _graft_log once for the head and reads no pointer")
    // a catalog query resolves the head once, where GraftCatalog
    // loads the table: `LogTable(spark, root).snapshot()`
    cio.reset()
    LogTable(spark, root, io = cio).snapshot()
    assert((cio.lists.get, cio.manifestReads.get) === (2L, 1L))
    // ... and nothing after that: with `_graft_log` moved aside, the
    // loaded query still plans and reads its snapshot
    spark.sql("SELECT count(*) FROM gmor.ns.io WHERE id > 0").collect()
    val df = spark.sql("SELECT id FROM gmor.ns.io WHERE id > 0")
    val log = Paths.get(root, "_graft_log")
    val aside = Paths.get(root, "_graft_log_aside")
    Files.move(log, aside, StandardCopyOption.ATOMIC_MOVE)
    try assert(df.as[Long].collect().sorted.toSeq === (3L until 30L))
    finally {
      if (Files.exists(log)) LogTable.deleteRecursively(log)
      Files.move(aside, log, StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
