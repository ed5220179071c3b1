package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** v3 ROW LINEAGE through REWRITES (the Iceberg v3 spec's rewrite
  * rule, [[LogTable.rewriteRead]]): every rewrite surface — compact,
  * recluster, COW update/merge — must serve IDENTICAL `_row_id`s for
  * surviving rows on the next v3 export, by materializing the ids
  * into the rewritten files under the spec's reserved parquet field
  * ids. Covers the second-generation case (a rewrite of an
  * already-materialized file reads the STORED ids back), the
  * re-import case (foreign metadata over materialized files), and
  * the DSv2 refusal (Spark's ReplaceData job cannot thread ids —
  * exact-or-refuse). The compact + COW delete + dropLineage legs
  * live in IcebergExportSpec's adoption test; `lake_v3_rewrite` is
  * the oracle-checked end-to-end. */
class LineageRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** graft table → v3 export → import: an ADOPTED-lineage table of
    * n rows (id, v) plus the (id → _row_id) map its source served. */
  private def adopted(n: Long): (LogTable, Map[Long, Long], String) = {
    val src = LogTable(spark, tmp("lin_src_"))
    src.append((0L until n / 2).map(i => (i, i * 10)).toDF("id", "v"))
    src.append((n / 2 until n).map(i => (i, i * 10)).toDF("id", "v"))
    val ice = tmp("lin_ice_")
    IcebergExport.export(src, ice, history = true, formatVersion = 3)
    val ids = IcebergRead.read(spark, ice, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    (IcebergImport.importTable(spark, ice, tmp("lin_imp_")), ids, ice)
  }

  private def exportIds(t: LogTable): Map[Long, Long] = {
    val out = tmp("lin_out_")
    IcebergExport.export(t, out, formatVersion = 3)
    IcebergRead.read(spark, out, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
  }

  test("COW update keeps every row's _row_id; updated rows re-inherit the rewrite's sequence") {
    val (t, ids, _) = adopted(40L)
    t.update(col("id") % 4 === 0, Map("v" -> (col("v") + 1000L)))
    val out = tmp("lin_upd_out_")
    IcebergExport.export(t, out, formatVersion = 3)
    val read = IcebergRead.read(spark, out, withLineage = true)
      .select(col("id"), col("v"), col("_row_id"),
        col("_last_updated_sequence_number"))
      .as[(Long, Long, Long, Long)].collect()
    assert(read.map(r => r._1 -> r._3).toMap === ids,
      "update must not move any _row_id")
    assert(read.filter(_._1 % 4 == 0).forall(_._2 >= 1000L))
    // per-row sequence: an UPDATED row's null stored seq re-inherits
    // the rewrite entry's (higher) sequence; untouched rows keep
    // their MATERIALIZED original append sequence (1 or 2)
    val (upd, kept) = read.partition(_._1 % 4 == 0)
    assert(kept.forall(r => r._4 == 1L || r._4 == 2L),
      "untouched rows must keep their original append sequence")
    assert(upd.forall(r => r._4 > 2L),
      "updated rows must re-inherit the rewrite commit's sequence")
  }

  test("COW merge: matched rows keep ids, inserts assign fresh beyond the watermark, matched deletes leave gaps") {
    val (t, ids, _) = adopted(30L)
    val updates = Seq((5L, 500L), (6L, 600L), (100L, 1L), (101L, 2L))
      .toDF("id", "v")
    t.merge(updates, "id", matchedDeleteWhen = Some(col("src_v") === 600L))
    val after = exportIds(t)
    assert(!after.contains(6L), "matched delete must remove the row")
    assert(after.filter(_._1 < 100L) === (ids - 6L),
      "matched/kept rows must keep their adopted _row_id")
    assert(Seq(100L, 101L).flatMap(after.get).forall(_ >= 30L),
      "merge-inserted rows assign beyond the adopted watermark")
    assert(after.values.toSeq.distinct.size === after.size)
  }

  test("recluster physically reorders rows; materialized ids follow their rows exactly") {
    val (t, ids, _) = adopted(60L)
    t.recluster("v", nFiles = 3)
    assert(t.snapshot().files.forall(_.matLineage),
      "every reclustered output must be flagged materialized")
    assert(exportIds(t) === ids,
      "recluster must not re-id any row (ids ride the rows, not positions)")
    // SECOND-GENERATION: recluster the materialized files again on a
    // different axis — stored ids read back and carry again
    t.recluster("id", nFiles = 2)
    assert(exportIds(t) === ids)
  }

  test("materialized files store the lineage columns under the Iceberg-reserved parquet field ids") {
    val (t, ids, _) = adopted(20L)
    t.compact(smallBytes = Long.MaxValue)
    val f = t.snapshot().files.find(_.matLineage).get
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(new java.io.File(f.path).toURI),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val schema = try r.getFooter.getFileMetaData.getSchema finally r.close()
    def typ(name: String): org.apache.parquet.schema.Type =
      schema.getFields.get(schema.getFieldIndex(name))
    def fid(name: String): Int = typ(name).getId.intValue()
    assert(fid("_row_id") === 2147483540)
    assert(fid("_last_updated_sequence_number") === 2147483539)
    // and the data columns stay id-less (name-mapping territory)
    assert(typ("id").getId == null)
    assert(exportIds(t) === ids)
  }

  test("re-import of a materialized export: stored ids survive ANOTHER import + rewrite generation") {
    val (t, ids, _) = adopted(24L)
    t.compact(smallBytes = Long.MaxValue)
    val out = tmp("lin_reexp_")
    IcebergExport.export(t, out, formatVersion = 3)
    val t2 = IcebergImport.importTable(spark, out, tmp("lin_reimp_"))
    // the imported entry carries the EXPORT-assigned first_row_id of
    // the materialized file; per-row stored ids must still win on
    // the next rewrite (coalesce(stored, first_row_id + pos))
    t2.delete(col("id") === 3L)
    val after = exportIds(t2)
    assert(after === (ids - 3L),
      "re-imported stored ids must carry through the next rewrite")
  }

  test("the lineage column names are RESERVED at the write boundary") {
    // a user DATA column named _row_id would be indistinguishable
    // from materialized lineage (a v3 reader would serve it as row
    // ids) — writers reject it loudly, like the _del_ plumbing
    val t = LogTable(spark, tmp("lin_reserved_"))
    val e = intercept[IllegalArgumentException](
      t.append(Seq((1L, 2L)).toDF("id", "_row_id")))
    assert(e.getMessage.contains("reserved"))
    val e2 = intercept[IllegalArgumentException](
      t.append(Seq((1L, 2L)).toDF("id", "_LAST_updated_sequence_number")))
    assert(e2.getMessage.contains("reserved"))
    t.append(Seq((1L, 2L)).toDF("id", "v")) // sane names still write
    assert(t.read().count() === 1L)
  }

  test("DSv2 row-level ops refuse on lineage files (ReplaceData cannot thread _row_id)") {
    val (t, _, _) = adopted(10L)
    val snap = t.snapshot()
    val e = intercept[IllegalArgumentException] {
      t.commitReplaceGroups(snap.files.map(_.path).toSet, Seq.empty,
        "rlo-update", snap)
    }
    assert(e.getMessage.contains("row lineage")
      && e.getMessage.contains("dropLineage"))
  }
}
