package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The persisted deletion-vector encoding ([[DeletionVectors]]):
  * wire-format round-trips, section skipping, multi-blob union, the
  * in-scan application at any size, and end-to-end parity with the
  * legacy parquet encoding. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): LogTable =
    LogTable(spark, Files.createTempDirectory("dv_spec_").toString)

  private def df(ids: Range) = ids.toDF("id")

  test("wire format: round-trip, sorted on write, section skip, multi-blob union") {
    val d = Files.createTempDirectory("dv_fmt_")
    val blob1 = d.resolve("a.dv")
    // positions arrive UNSORTED; empty sections are representable
    DeletionVectors.write(blob1, Map(
      "/data/f1.parquet" -> Array(9L, 1L, 5L),
      "/data/f2.parquet" -> Array.emptyLongArray,
      "/data/f3.parquet" -> Array(7L)))
    val back = DeletionVectors.read(blob1.toString)
    assert(back("/data/f1.parquet").toSeq === Seq(1L, 5L, 9L))
    assert(back("/data/f2.parquet").isEmpty)
    assert(back("/data/f3.parquet").toSeq === Seq(7L))
    // targeted read skips earlier sections without materializing them
    assert(DeletionVectors.readFor(blob1.toString, "/data/f3.parquet").toSeq === Seq(7L))
    assert(DeletionVectors.readFor(blob1.toString, "/data/nope.parquet").isEmpty)
    // a second blob marking the same file (a later delete commit —
    // disjoint positions by the delete-aware-marking invariant)
    val blob2 = d.resolve("b.dv")
    DeletionVectors.write(blob2, Map("/data/f1.parquet" -> Array(3L, 11L)))
    // the scan reads one data file's section from every blob marking it
    val merged = Seq(blob1, blob2).flatMap(b =>
      DeletionVectors.readFor(b.toString, "/data/f1.parquet")).sorted
    assert(merged === Seq(1L, 3L, 5L, 9L, 11L))
    // a non-DV file refuses loudly
    val junk = d.resolve("junk.dv")
    Files.write(junk, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    intercept[IllegalArgumentException](DeletionVectors.read(junk.toString))
  }

  test("deleteMor writes .dv blobs whose counts match the marks exactly") {
    val t = freshTable()
    t.append(df(0 until 100).repartition(2))
    val s = t.deleteMor(col("id") < 10)
    assert(s.deletes.nonEmpty && s.deletes.forall(d =>
      DeletionVectors.isVector(d.path)))
    assert(s.deletes.map(_.rows).sum === 10L)
    // blob contents agree with the manifest's per-file counts
    s.deletes.foreach { d =>
      val decoded = DeletionVectors.read(d.path)
      assert(decoded.view.mapValues(_.length.toLong).toMap === d.counts)
      decoded.values.foreach(ps => assert(ps.toSeq === ps.sorted.toSeq))
    }
    assert(t.read().count() === 90L)
    assert(t.read().where("id < 10").count() === 0L)
    // liveRows manifest arithmetic holds for the DV encoding
    assert(t.snapshot().liveRows === 90L)
  }

  test("over-budget DVs degrade to a distributed anti-join with identical results") {
    val t = freshTable()
    t.append(df(0 until 500).repartition(2))
    t.deleteMor(col("id") % 7 === 0)
    val expected = (0 until 500).filter(_ % 7 != 0).map(_.toLong)
    // each scan task reads its own file's DV section: no budget, no join
    val p = t.read().queryExecution.executedPlan.toString
    assert(p.contains("BatchScan graft") &&
      !p.contains("Join") && !p.contains("Exchange") && !p.contains("Sort"),
      "the marks apply inside the scan: " + p.take(500))
    assert(t.read().orderBy("id").as[Long].collect().toSeq === expected)
  }

  test("DV and parquet encodings are row-for-row equivalent across the API surface") {
    def run(vector: Boolean): (Seq[Long], Long, Seq[Long]) = {
      val t = freshTable()
      spark.conf.set("graft.deletes.vector", vector.toString)
      try {
        t.append(df(0 until 300).repartition(3))
        t.deleteMor(col("id") % 3 === 0)
        t.deleteMor(col("id") === 100L) // second commit, same files
        val rows = t.read().orderBy("id").as[Long].collect().toSeq
        val dsv2 = spark.read.format("graft").load(t.root)
          .orderBy("id").as[Long].collect().toSeq
        assert(dsv2 === rows, "DSv2 and LogTable reads must agree")
        val folded = { t.compact(); t.read().count() }
        (rows, folded, t.timeTravel(2L).orderBy("id").as[Long].collect().toSeq)
      } finally spark.conf.unset("graft.deletes.vector")
    }
    assert(run(vector = true) === run(vector = false))
  }

  test("expire and removeOrphans reclaim .dv blobs like any delete file") {
    val t = freshTable()
    t.append(df(0 until 50))
    t.deleteMor(col("id") < 5)
    val dvPath = t.snapshot().deletes.head.path
    assert(DeletionVectors.isVector(dvPath))
    t.compact() // folds the marks; the DV leaves the manifest
    assert(t.snapshot().deletes.isEmpty)
    t.expire(keepLast = 1)
    assert(!Files.exists(java.nio.file.Paths.get(dvPath)),
      "expired snapshot's DV blob must be reclaimed")
    assert(t.read().count() === 45L)
  }
}
