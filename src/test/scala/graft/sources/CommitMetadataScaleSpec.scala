package graft.sources

import graft.SparkSpec

import java.nio.file.Files

/** Commit metadata stays O(added) at every table size, at default
  * settings: a marker leader's useful round reads the newest pointer
  * (not every retained one), an append writes its own entries plus a
  * pointer of segment names (not the whole file list), and the
  * size-tiered segment fold keeps the segment count of a long run of
  * single-file appends at or below files/64. */
class CommitMetadataScaleSpec extends SparkSpec {
  import spark.implicits._

  private val Day = 86400000000L

  private def dayTable(prefix: String): (String, LogTable) = {
    val root = Files.createTempDirectory(prefix).resolve("t").toString
    val t = LogTable(spark, root, hiddenBy = Seq(Transform.day("ts_us")))
    t.declareSchema(Seq(("s", 0L)).toDF("s", "ts_us").schema)
    (root, t)
  }

  test("a spec-less open of a day(time) table reads its newest manifest once") {
    val (root, t) = dayTable("meta_open_")
    t.append(Seq(("a", 0L), ("b", Day)).toDF("s", "ts_us"))
    t.append(Seq(("c", 2 * Day)).toDF("s", "ts_us"))
    val cio = new CountingIO
    val opened = LogTable(spark, root, io = cio)
    assert(opened.hiddenBy === Seq(Transform.day("ts_us")),
      "the open adopts the recorded spec")
    assert(opened.snapshot().totalRows === 3L)
    assert(cio.manifestReads.get === 1L,
      s"one open must parse the newest manifest once, read ${cio.manifestReads.get}")
  }

  test("leader rounds read and appends write O(added) metadata: 200 files cost at most 2x 50 files") {
    val (root, t) = dayTable("meta_scale_")
    val cio = new CountingIO
    var n = 0
    /** One single-file flush, then one useful leader round: the
      * round's control-plane (bytes read, bytes written). */
    def flushAndLead(): (Long, Long) = {
      MarkerCommit.flush(t, Seq((s"r$n", (n % 10) * Day + n)).toDF("s", "ts_us"))
      n += 1
      cio.reset()
      MarkerCommit.runOnce(spark, root, cio) match {
        case MarkerCommit.Led(1, 1, 0, _) =>
        case other => fail(s"expected one committed file, got $other")
      }
      (cio.readBytes.get, cio.writtenBytes.get)
    }
    /** Mean per-round bytes over the 8 rounds after `files` files:
      * the size-tiered fold writes its larger segments on a fixed
      * cadence, so a window amortizes it the same way at both sizes. */
    def windowAt(files: Int): (Double, Double) = {
      while (n < files) flushAndLead()
      val w = (1 to 8).map(_ => flushAndLead())
      (w.map(_._1).sum / 8.0, w.map(_._2).sum / 8.0)
    }
    val (read50, wrote50) = windowAt(50)
    val (read200, wrote200) = windowAt(200)
    info(f"per useful round: read $read50%.0f B at 50 files, $read200%.0f B " +
      f"at 200; wrote $wrote50%.0f B at 50, $wrote200%.0f B at 200")
    assert(read200 <= 2 * read50,
      s"round reads grew with the table: $read50 B at 50 files, $read200 B at 200")
    assert(wrote200 <= 2 * wrote50,
      s"append writes grew with the table: $wrote50 B at 50 files, $wrote200 B at 200")
    val snap = LogTable(spark, root).snapshot()
    assert(snap.files.size === n && snap.totalRows === n.toLong)
    assert(t.read().count() === n.toLong)
  }

  test("2,000 single-file appends hold at most files/64 + 4 segments") {
    val root = Files.createTempDirectory("meta_segs_").resolve("t").toString
    val t = LogTable(spark, root, hiddenBy = Seq(Transform.day("ts_us")))
    val col = Transform.day("ts_us").colName
    val files = 2000
    (0 until files).foreach(i => t.commitSynthetic(Seq(DataFile(
      s"$root/data/f$i.parquet", rows = 10L, bytes = 1000L,
      partitions = Map(col -> (i / 100).toString),
      ranges = Map("ts_us" -> ((i / 100) * Day, (i / 100) * Day + 1L))))))
    val snap = LogTable(spark, root).snapshot()
    val bound = math.ceil(files / 64.0).toInt + 4
    assert(snap.segs.size <= bound,
      s"${snap.segs.size} segments for $files files (bound $bound)")
    assert(snap.files.map(_.path).distinct.size === files)
    assert(snap.segs.map(_.files.size).sum === files,
      "every file sits in exactly one segment")
  }
}
