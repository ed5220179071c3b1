package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg v2 metadata export ([[IcebergExport]]) + the independent
  * spec-based reader ([[IcebergRead]]): the export must be
  * self-sufficient Iceberg metadata (metadata JSON → manifest-list
  * Avro → manifest Avro → existing parquet), the reader consumes ONLY
  * that metadata, and the two sides agree row-for-row across plain,
  * partitioned, and schema-evolved snapshots. Dirty snapshots and
  * untranslatable layouts REFUSE (exact-or-refuse, like every graft
  * translation seam). */
class IcebergExportSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("unpartitioned export round-trips exactly; metadata files are spec-shaped") {
    val t = LogTable(spark, tmp("ice_plain_"))
    t.append((0L until 100L).map(i => (i, s"s$i", i * 1.5)).toDF("id", "s", "v"))
    t.append((100L until 150L).map(i => (i, s"s$i", i * 1.5)).toDF("id", "s", "v"))
    val dest = tmp("ice_plain_out_")
    val metaPath = IcebergExport.export(t, dest)

    // spec shape: version hint, v1.metadata.json, one manifest list,
    // one manifest, format-version 2
    val metaDir = Paths.get(dest).resolve("metadata")
    assert(Files.exists(metaDir.resolve("version-hint.text")))
    assert(metaPath.getFileName.toString === "v1.metadata.json")
    val json = new String(Files.readAllBytes(metaPath))
    assert(json.contains("\"format-version\":2"))
    assert(json.contains("\"current-snapshot-id\":2"))
    import scala.jdk.CollectionConverters._
    val names = Files.list(metaDir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.count(_.startsWith("snap-")) === 1, "one manifest list")
    assert(names.count(_.endsWith("-m0.avro")) === 1, "one manifest")

    val back = IcebergRead.read(spark, dest)
    assert(back.schema.fieldNames.toSeq === Seq("id", "s", "v"))
    assert(sortedRows(back) === sortedRows(t.read()))
  }

  test("identity + hidden-day partitioned export: values ride the partition struct, nulls included") {
    val t = LogTable(spark, tmp("ice_part_"), partitionBy = Seq("k"),
      hiddenBy = Seq(Transform.day("ts_us")))
    val rows = (0L until 60L).map(i =>
      (i, if (i % 7 == 0) null else s"g${i % 3}", i * 86400000000L / 10))
      .toDF("id", "k", "ts_us")
    t.append(rows)
    val dest = tmp("ice_part_out_")
    IcebergExport.export(t, dest)

    // the exported spec carries identity(k) + truncate[86400000000](ts_us)
    val json = new String(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    assert(json.contains("\"transform\":\"identity\""))
    assert(json.contains("\"transform\":\"truncate[86400000000]\""))

    val back = IcebergRead.read(spark, dest)
    // identity values (incl. the null partition) come from metadata —
    // the hive-layout files never stored the column physically.
    // (graft's read() re-attaches partition columns LAST; the export
    // keeps declared schema order — compare under one projection)
    assert(sortedRows(back.select(col("id"), col("k"), col("ts_us"))) ===
      sortedRows(t.read().select(col("id"), col("k"), col("ts_us"))))
    assert(back.filter(col("k").isNull).count() === t.read().filter(col("k").isNull).count())
  }

  test("schema-evolved export: rename travels via name mapping, added column null-fills, widened column reads") {
    val t = LogTable(spark, tmp("ice_evo_"))
    t.append((0L until 30L).map(i => (i, i.toInt)).toDF("id", "n"))
    t.renameColumn("n", "count_n")     // old files store 'n'
    t.widenColumn("count_n", org.apache.spark.sql.types.LongType)
    t.append((30L until 60L).map(i => (i, i * 10L, s"tag$i"))
      .toDF("id", "count_n", "label")) // adds 'label'
    val dest = tmp("ice_evo_out_")
    IcebergExport.export(t, dest)

    // the name mapping must cover the historical physical name
    val json = new String(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    assert(json.contains("schema.name-mapping.default"))
    assert(json.contains("\\\"count_n\\\",\\\"n\\\"") || json.contains("\"count_n\",\"n\""),
      "mapping lists current then historical name")

    val back = IcebergRead.read(spark, dest)
    assert(back.schema.fieldNames.toSeq === Seq("id", "count_n", "label"))
    assert(sortedRows(back) === sortedRows(t.read()))
    // spot semantics: pre-rename generation readable under the new
    // name, pre-add generation null-fills label
    assert(back.filter(col("id") < 30L && col("count_n") === col("id").cast("long"))
      .count() === 30L)
    assert(back.filter(col("id") < 30L && col("label").isNull).count() === 30L)
  }

  test("refusal ladder: bucket layouts, schemaless tables; dirty histories now EXPORT per snapshot") {
    val mor = LogTable(spark, tmp("ice_mor_"))
    mor.append((0L until 20L).map(i => (i, s"x$i")).toDF("id", "s"))
    mor.deleteMor(col("id") < 5L)
    // a dirty lineage history-exports: the marked snapshot carries its
    // own delete manifest, clean snapshots carry none
    val morDest = tmp("ice_mor_hist_out_")
    IcebergExport.export(mor, morDest, history = true)
    assert(sortedRows(IcebergRead.read(spark, morDest, versionAsOf = Some(1L))) ===
      sortedRows(mor.timeTravel(1L)))
    assert(sortedRows(IcebergRead.read(spark, morDest, versionAsOf = Some(2L))) ===
      sortedRows(mor.timeTravel(2L)))
    mor.compact()
    mor.expire(keepLast = 1)
    IcebergExport.export(mor, tmp("ice_mor_out2_"), history = true)

    // an equality-tombstone lineage history-exports the same way
    val eq = LogTable(spark, tmp("ice_eq_"))
    eq.append((0L until 20L).map(i => (i, s"x$i")).toDF("id", "s"))
    eq.deleteEq(Seq(1L, 2L).toDF("id"))
    val eqDest = tmp("ice_eq_hist_out_")
    IcebergExport.export(eq, eqDest, history = true)
    assert(sortedRows(IcebergRead.read(spark, eqDest, versionAsOf = Some(2L))) ===
      sortedRows(eq.timeTravel(2L)))
    assert(IcebergRead.read(spark, eqDest, versionAsOf = Some(1L)).count() === 20L)
    // partitioned eq tombstones export too (dedicated delete spec)
    val eqPart = LogTable(spark, tmp("ice_eq_part_"), partitionBy = Seq("s"))
    eqPart.append((0L until 10L).map(i => (i, s"g${i % 2}")).toDF("id", "s"))
    eqPart.deleteEq(Seq(1L).toDF("id"))
    val eqPartDest = tmp("ice_eq_part_out_")
    IcebergExport.export(eqPart, eqPartDest)
    assert(sortedRows(IcebergRead.read(spark, eqPartDest)
        .select(col("id"), col("s"))) ===
      sortedRows(eqPart.read().select(col("id"), col("s"))))

    val b = LogTable(spark, tmp("ice_bucket_"),
      hiddenBy = Seq(Transform.bucket(8, "id")))
    b.append((0L until 20L).map(i => (i, s"x$i")).toDF("id", "s"))
    val e3 = intercept[IllegalArgumentException](
      IcebergExport.export(b, tmp("ice_bucket_out_")))
    assert(e3.getMessage.contains("bucket"))

    val empty = LogTable(spark, tmp("ice_empty_"))
    val e4 = intercept[IllegalArgumentException](
      IcebergExport.export(empty, tmp("ice_empty_out_")))
    assert(e4.getMessage.contains("schema"))
  }

  test("import: an Iceberg table becomes a first-class graft table — zero copy, layout and rename history intact") {
    val t = LogTable(spark, tmp("ice_imp_src_"), partitionBy = Seq("k"),
      hiddenBy = Seq(Transform.day("ts_us")))
    t.append((0L until 40L).map(i =>
      (i, s"g${i % 3}", i * 86400000000L / 5, i * 2)).toDF("id", "k", "ts_us", "v"))
    t.renameColumn("v", "val2")
    t.append((40L until 60L).map(i =>
      (i, s"g${i % 3}", i * 86400000000L / 5, i * 2)).toDF("id", "k", "ts_us", "val2"))
    val ice = tmp("ice_imp_out_")
    IcebergExport.export(t, ice)

    val destRoot = tmp("ice_imp_dest_")
    val imp = IcebergImport.importTable(spark, ice, destRoot)
    // metadata-only adoption: schema, spec, rename history, rows
    assert(imp.schema.fieldNames.toSeq === Seq("id", "k", "ts_us", "val2"))
    val proj = Seq("id", "k", "ts_us", "val2").map(col)
    assert(sortedRows(imp.read().select(proj: _*)) ===
      sortedRows(t.read().select(proj: _*)))
    // the imported layout prunes: a one-partition readWhere opens only
    // that partition's files
    assert(imp.read().filter(col("k") === "g1").count() ===
      t.read().filter(col("k") === "g1").count())

    // the table is graft-native and independently writable: new rows
    // land under the NEW root, the source files untouched
    val srcFiles = t.snapshot().files.map(_.path).toSet
    imp.append(Seq((100L, "g9", 0L, 5L)).toDF("id", "k", "ts_us", "val2"))
    assert(imp.read().count() === t.read().count() + 1)
    assert(imp.snapshot().files.count(f => !srcFiles.contains(f.path)) >= 1)
    assert(t.read().count() === 60L, "source table untouched by the import's writes")

    // retention on the importing table can never reclaim the foreign
    // (borrowed) files — the own-root guard
    imp.compact()
    imp.expire(keepLast = 1)
    assert(srcFiles.forall(p => Files.exists(Paths.get(p))),
      "imported-table expire must never delete foreign source files")
    assert(t.read().count() === 60L)
  }

  test("import refusal: unsupported transforms refuse loudly instead of mis-pruning") {
    val t = LogTable(spark, tmp("ice_impref_"),
      hiddenBy = Seq(Transform.day("ts_us")))
    t.append((0L until 10L).map(i => (i, i * 86400000000L)).toDF("id", "ts_us"))
    val ice = tmp("ice_impref_out_")
    IcebergExport.export(t, ice)
    // a foreign writer's year layout (no µs-long source to prune on):
    // rewrite the spec in place
    val mp = Paths.get(ice).resolve("metadata").resolve("v1.metadata.json")
    Files.writeString(mp, Files.readString(mp)
      .replace("truncate[86400000000]", "year"))
    val e = intercept[IllegalArgumentException](
      IcebergImport.importTable(spark, ice, tmp("ice_impref_dest_")))
    assert(e.getMessage.contains("year"))

    // a VOID spec field (Iceberg's dropped-partition-field tombstone)
    // imports by being skipped exactly — it stores and prunes nothing
    val tv = LogTable(spark, tmp("ice_impref_v_"),
      hiddenBy = Seq(Transform.day("ts_us")))
    tv.append((0L until 8L).map(i => (i, i * 86400000000L)).toDF("id", "ts_us"))
    val icev = tmp("ice_impref_v_out_")
    IcebergExport.export(tv, icev)
    val mpv = Paths.get(icev).resolve("metadata").resolve("v1.metadata.json")
    Files.writeString(mpv, Files.readString(mpv)
      .replace("\"transform\":\"truncate[86400000000]\"", "\"transform\":\"void\""))
    val impv = IcebergImport.importTable(spark, icev, tmp("ice_impref_v_dest_"))
    assert(impv.hiddenBy.isEmpty && impv.partitionBy.isEmpty)
    assert(impv.read().count() === 8L)

    // bucket[N] over a STRING source imports (mbucket hashes UTF-8
    // bytes per the spec); the one remaining bucket refusal is a
    // source type with a byte encoding graft does not reproduce —
    // simulate by pointing the spec at the DOUBLE column
    val ts = LogTable(spark, tmp("ice_impref_s_"), partitionBy = Seq("k"))
    ts.append((0L until 6L).map(i => (i, s"g${i % 2}", i * 1.5)).toDF("id", "k", "d"))
    val ice2 = tmp("ice_impref_s_out_")
    IcebergExport.export(ts, ice2)
    val mp2 = Paths.get(ice2).resolve("metadata").resolve("v1.metadata.json")
    Files.writeString(mp2, Files.readString(mp2)
      .replace("\"transform\":\"identity\"", "\"transform\":\"bucket[4]\""))
    val impS = IcebergImport.importTable(spark, ice2, tmp("ice_impref_s_dest_"))
    assert(impS.hiddenBy === Seq(Transform.mbucket(4, "k")), "string bucket imports as mbucket")
    assert(impS.read().count() === 6L)
    // double-sourced bucket refuses (no exact hash domain)
    val ice3 = tmp("ice_impref_d_out_")
    IcebergExport.export(ts, ice3)
    val mp3 = Paths.get(ice3).resolve("metadata").resolve("v1.metadata.json")
    val meta3 = Files.readString(mp3)
    // rewrite the spec field to bucket over the double column's id
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root3 = om.readTree(meta3).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val dId = {
      import scala.jdk.CollectionConverters._
      root3.get("schemas").get(0).get("fields").elements().asScala
        .find(_.get("name").asText() == "d").get.get("id").asInt()
    }
    val sf3 = root3.get("partition-specs").get(0).get("fields").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    sf3.put("transform", "bucket[4]")
    sf3.put("source-id", dId)
    Files.writeString(mp3, root3.toString)
    val e3 = intercept[IllegalArgumentException](
      IcebergImport.importTable(spark, ice3, tmp("ice_impref_d_dest_")))
    assert(e3.getMessage.contains("bucket[4]"))
  }

  test("SQL routes: CALL export_iceberg / import_iceberg on both surfaces") {
    // GraftSql surface
    GraftSql.setWarehouse(tmp("ice_sql_wh_"))
    GraftSql.exec(spark, "CREATE TABLE ice_sql_t (id BIGINT, s STRING)")
    GraftSql.exec(spark,
      "INSERT INTO ice_sql_t SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS t(id, s)")
    val dest = tmp("ice_sql_out_")
    GraftSql.exec(spark, s"CALL export_iceberg(ice_sql_t, '$dest')")
    assert(Files.exists(Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    GraftSql.exec(spark, s"CALL import_iceberg(ice_sql_imp, '$dest')")
    assert(GraftSql.exec(spark,
      "SELECT count(*) FROM ice_sql_imp").head().getLong(0) === 2L)
    intercept[IllegalArgumentException](
      GraftSql.exec(spark, s"CALL import_iceberg(ice_sql_imp, '$dest')"))
    // history form on the embedded surface
    val destH = tmp("ice_sql_hist_out_")
    GraftSql.exec(spark, s"CALL export_iceberg(ice_sql_t, '$destH', 'history')")
    assert(sortedRows(IcebergRead.read(spark, destH, versionAsOf = Some(1L))) ===
      sortedRows(GraftSql.table("ice_sql_t").timeTravel(1L)))

    // catalog surface (Spark's own CALL statement)
    val wh = tmp("ice_cat_wh_")
    spark.conf.set("spark.sql.catalog.gice", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gice.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gice.ns")
    spark.sql("CREATE TABLE gice.ns.src (id BIGINT, s STRING)")
    spark.sql("INSERT INTO gice.ns.src VALUES (10L, 'x'), (11L, 'y'), (12L, 'z')")
    val dest2 = tmp("ice_cat_out_")
    spark.sql(s"CALL gice.system.export_iceberg('ns.src', '$dest2')")
    val dest2h = tmp("ice_cat_hist_out_")
    spark.sql(s"CALL gice.system.export_iceberg('ns.src', '$dest2h', 'history')")
    assert(Files.exists(Paths.get(dest2h).resolve("metadata").resolve("v1.metadata.json")))
    spark.sql(s"CALL gice.system.import_iceberg('ns.back', '$dest2')")
    assert(spark.sql("SELECT count(*) FROM gice.ns.back").head().getLong(0) === 3L)
    assert(spark.sql("SELECT s FROM gice.ns.back ORDER BY id").collect()
      .map(_.getString(0)).toSeq === Seq("x", "y", "z"))
  }

  test("nested-struct export: name-mapping ids equal the schema's nested ids (one allocation, every consumer)") {
    val t = LogTable(spark, tmp("ice_nested_"))
    t.append(spark.range(5).selectExpr("id",
      "named_struct('a', id * 2, 'b', named_struct('c', CAST(id AS STRING))) AS payload"))
    val dest = tmp("ice_nested_out_")
    IcebergExport.export(t, dest)
    val mp = Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(java.nio.file.Files.readAllBytes(mp))
    // collect (path -> id) from the schema…
    def schemaIds(fields: com.fasterxml.jackson.databind.JsonNode,
        prefix: String): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      fields.elements().asScala.flatMap { f =>
        val p = prefix + f.get("name").asText()
        val self = Map(p -> f.get("id").asInt())
        val tn = f.get("type")
        if (tn.isObject && tn.get("type").asText() == "struct")
          self ++ schemaIds(tn.get("fields"), p + ".")
        else self
      }.toMap
    }
    val fromSchema = schemaIds(
      meta.get("schemas").get(0).get("fields"), "")
    // …and from the name mapping: they must agree on every path
    val mappingJson = mapper.readTree(meta.get("properties")
      .get("schema.name-mapping.default").asText())
    def mappingIds(entries: com.fasterxml.jackson.databind.JsonNode,
        prefix: String): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      entries.elements().asScala.flatMap { e =>
        val p = prefix + e.get("names").get(0).asText()
        val self = Map(p -> e.get("field-id").asInt())
        if (e.has("fields")) self ++ mappingIds(e.get("fields"), p + ".")
        else self
      }.toMap
    }
    val fromMapping = mappingIds(mappingJson, "")
    assert(fromMapping === fromSchema,
      "name-mapping ids must be READ from the generated schema, never re-allocated")
    assert(fromSchema.contains("payload.b.c"))
    // and the spec-based reader round-trips the nested rows
    assert(sortedRows(IcebergRead.read(spark, dest)) === sortedRows(t.read()))
  }

  test("history export: every live snapshot becomes a foreign-time-travelable Iceberg snapshot") {
    val t = LogTable(spark, tmp("ice_hist_"))
    t.append((0L until 20L).map(i => (i, i.toInt)).toDF("id", "n"))       // v1
    t.renameColumn("n", "cnt")                                             // v2
    t.append((20L until 30L).map(i => (i, i.toInt)).toDF("id", "cnt"))     // v3
    t.delete(col("id") < 5L)                                               // v4 (COW — clean)
    t.compact()                                                            // v5
    val dest = tmp("ice_hist_out_")
    IcebergExport.export(t, dest, history = true)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    import scala.jdk.CollectionConverters._
    val snapIds = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSeq
    assert(snapIds === Seq(1L, 2L, 3L, 4L, 5L))
    assert(meta.get("snapshot-log").size() === 5)
    assert(meta.get("current-snapshot-id").asLong() === 5L)
    // pre-rename snapshots read under THEIR schema (Iceberg's
    // time-travel semantics), later ones under the renamed schema
    val v1 = IcebergRead.read(spark, dest, versionAsOf = Some(1L))
    assert(v1.schema.fieldNames.toSeq === Seq("id", "n"))
    assert(sortedRows(v1) === sortedRows(t.timeTravel(1L)))
    (2L to 5L).foreach { v =>
      val got = IcebergRead.read(spark, dest, versionAsOf = Some(v))
      assert(got.schema.fieldNames.toSeq === Seq("id", "cnt"), s"v$v schema")
      assert(sortedRows(got) === sortedRows(t.timeTravel(v)), s"v$v rows")
    }
    // default read = current snapshot
    assert(sortedRows(IcebergRead.read(spark, dest)) === sortedRows(t.read()))
    // summary operations map: append/replace/overwrite
    val ops = meta.get("snapshots").elements().asScala
      .map(_.get("summary").get("operation").asText()).toSeq
    assert(ops === Seq("append", "overwrite", "append", "overwrite", "replace"))
    // conventional totals ride each summary (what Iceberg inspectors
    // read), exact per snapshot
    val totals = meta.get("snapshots").elements().asScala
      .map(_.get("summary").get("total-records").asText().toLong).toSeq
    assert(totals === Seq(20L, 20L, 30L, 25L, 25L))

    // a lineage with mid-history MoR/eq debt time-travels at EVERY
    // version: v2 carries marks (its own delete manifest), v3 adds an
    // equality tombstone, v4 compacts clean — each exported snapshot
    // reads exactly like graft's timeTravel
    val dirty = LogTable(spark, tmp("ice_hist_dirty_"))
    dirty.append((0L until 10L).map(i => (i, i)).toDF("id", "v"))       // v1
    dirty.deleteMor(col("id") < 3L)                                      // v2 marks
    dirty.deleteEq(Seq(7L).toDF("id"))                                   // v3 marks+eq
    dirty.compact()                                                      // v4 clean
    val ddest = tmp("ice_hist_dirty_out_")
    IcebergExport.export(dirty, ddest, history = true)
    (1L to 4L).foreach { v =>
      assert(sortedRows(IcebergRead.read(spark, ddest, versionAsOf = Some(v))) ===
        sortedRows(dirty.timeTravel(v)), s"dirty-lineage v$v")
    }
    // v2 and v3 share one mark-set: the cached delete parquet writes once
    import scala.jdk.CollectionConverters._
    val delFiles = Files.list(Paths.get(ddest).resolve("data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("delete-")).toSeq
    assert(delFiles.size === 1, s"shared mark-set must export once, got $delFiles")
  }

  test("foreign-shaped adoption: identity partition column stored PHYSICALLY in flat-layout files reads and prunes") {
    // a typical non-graft Iceberg writer stores identity partition
    // columns IN the data files and lays files out flat — the shape
    // IcebergImport hands to the adoption commit. graft's schema'd
    // scan must read the column from the file (no hive dirs to
    // discover) and manifest pruning must still bound the file set.
    import spark.implicits._
    val dataDir = Files.createTempDirectory("ice_foreign_data_")
    def writeOne(k: String, ids: Range): String = {
      val stage = Files.createTempDirectory("ice_foreign_stage_")
      ids.map(i => (i.toLong, k)).toDF("id", "k")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      import scala.jdk.CollectionConverters._
      val src = Files.walk(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val target = dataDir.resolve(s"part-$k.parquet")
      Files.copy(src, target)
      target.toString
    }
    val fa = writeOne("a", 0 until 10)
    val fb = writeOne("b", 10 until 30)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType)))
    val root = tmp("ice_foreign_tbl_")
    LogTable(spark, root).commitAdoption("import", "foreign-fixture",
      schema.json, Seq("k"), Nil, Seq(
        DataFile(fa, 10, Files.size(Paths.get(fa)), Map("k" -> "a")),
        DataFile(fb, 20, Files.size(Paths.get(fb)), Map("k" -> "b"))))
    val t = LogTable(spark, root)
    assert(t.read().count() === 30L)
    assert(t.read().filter(col("k") === "a").count() === 10L)
    // manifest pruning bounds the scan to the matching file
    val pruned = t.readWhere(_.get("k").contains("b"))
    assert(pruned.count() === 20L)
    assert(pruned.select("id").as[Long].collect().sorted === (10L until 30L).toArray)
  }

  test("merge-on-read export: position deletes ride a delete manifest; reader AND import both apply them") {
    val t = LogTable(spark, tmp("ice_mor_exp_"))
    t.append((0L until 60L).map(i => (i, s"s$i")).toDF("id", "s"))
    // two delete commits in BOTH encodings: a deletion-vector blob
    // (default) and a legacy parquet delete file
    t.deleteMor(col("id") % 7 === 0L)
    spark.conf.set("graft.deletes.vector", "false")
    try t.deleteMor(col("id") % 11 === 3L)
    finally spark.conf.unset("graft.deletes.vector")
    val live = sortedRows(t.read())
    assert(t.snapshot().deletes.size >= 2)

    val dest = tmp("ice_mor_exp_out_")
    IcebergExport.export(t, dest)
    // the export carries a delete manifest + sharded sorted delete
    // parquets (one per ~8 referenced data files)
    import scala.jdk.CollectionConverters._
    val names = Files.list(Paths.get(dest).resolve("metadata")).iterator()
      .asScala.map(_.getFileName.toString).toSeq
    assert(names.count(_.endsWith("-d0.avro")) === 1, "one delete manifest")
    val refFiles = t.snapshot().deletes.flatMap(_.refPaths).toSet.size
    val nDel = Files.list(Paths.get(dest).resolve("data")).iterator().asScala
      .count(_.getFileName.toString.startsWith("delete-"))
    assert(nDel >= 1 && nDel <= (refFiles + 7) / 8,
      s"expected 1..${(refFiles + 7) / 8} delete parquets, got $nDel")

    // the spec reader applies the deletes
    assert(sortedRows(IcebergRead.read(spark, dest)) === live)

    // import materializes them as graft deletion vectors: reads agree,
    // metadata count stays exact under the marks
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_mor_imp_"))
    assert(sortedRows(imp.read()) === live)
    assert(imp.snapshot().deletes.nonEmpty)
    assert(imp.countMeta() === live.size.toLong)

    // PARTITIONED + dirty: the delete manifest binds to a dedicated
    // unpartitioned spec — the roundtrip still holds on both legs
    val part = LogTable(spark, tmp("ice_mor_part_"), partitionBy = Seq("k"))
    part.append((0L until 20L).map(i => (i, s"g${i % 2}")).toDF("id", "k"))
    part.deleteMor(col("id") < 5L)
    val partLive = sortedRows(part.read().select(col("id"), col("k")))
    val pdest = tmp("ice_mor_part_out_")
    IcebergExport.export(part, pdest)
    val pjson = new String(Files.readAllBytes(
      Paths.get(pdest).resolve("metadata").resolve("v1.metadata.json")))
    assert(pjson.contains("\"spec-id\":1"), "dedicated delete spec recorded")
    assert(sortedRows(IcebergRead.read(spark, pdest)
      .select(col("id"), col("k"))) === partLive)
    val pimp = IcebergImport.importTable(spark, pdest, tmp("ice_mor_part_imp_"))
    assert(sortedRows(pimp.read().select(col("id"), col("k"))) === partLive)
  }

  test("import materializes foreign position deletes through the SHARDED writer — no driver mark collect") {
    // many-file source with a mark in every file: the sharded writer
    // (one shard per ~DeleteShardSpan = 8 candidate files) must emit
    // MULTIPLE DV blobs, each written by an executor task — the
    // pre-sharded code collected every mark to the driver and wrote
    // exactly ONE blob, so blob count > 1 is the structural witness
    // that the distributed path ran.
    val t = LogTable(spark, tmp("ice_shard_src_"))
    (0 until 24).foreach(c =>
      t.append(Seq((c.toLong * 10, s"f$c"), (c.toLong * 10 + 1, s"g$c")).toDF("id", "s")))
    t.deleteMor(col("id") % 10 === 1L) // one mark per two rows → every file
    val live = sortedRows(t.read())
    assert(t.read().count() === 24L)
    val nFiles = t.snapshot().files.size
    val marks = t.snapshot().deletes.map(_.rows).sum
    val dest = tmp("ice_shard_out_")
    IcebergExport.export(t, dest)

    val imp = IcebergImport.importTable(spark, dest, tmp("ice_shard_imp_"))
    assert(sortedRows(imp.read()) === live)
    assert(imp.countMeta() === 24L, "metadata count stays exact under imported marks")
    val blobs = imp.snapshot().deletes
    val maxShards = (nFiles + 7) / 8
    assert(blobs.size > 1 && blobs.size <= maxShards,
      s"expected 2..$maxShards sharded DV blobs over $nFiles files, " +
        s"got ${blobs.size}")
    assert(blobs.map(_.rows).sum === marks, "every foreign mark imported exactly once")
  }

  test("equality-tombstone export: zero-copy content=2 entries, sequence-exact both ways") {
    val t = LogTable(spark, tmp("ice_eq_exp_"))
    t.append((0L until 20L).map(i => (i, "old")).toDF("id", "tag"))     // seq 1
    t.deleteEq(Seq(3L, 5L, 100L).toDF("id"))                            // eq seq 2
    // a POST-tombstone append re-adds id 3: Iceberg's strictly-below
    // rule (identical to graft's) must keep it alive everywhere
    t.append(Seq((3L, "new"), (30L, "new")).toDF("id", "tag"))          // seq 3
    val live = sortedRows(t.read())
    assert(t.read().filter(col("id") === 3L).count() === 1L, "re-added key lives")
    assert(t.read().filter(col("id") === 5L).count() === 0L)

    val dest = tmp("ice_eq_exp_out_")
    IcebergExport.export(t, dest)
    // spec reader honors the per-file sequence guard
    assert(sortedRows(IcebergRead.read(spark, dest)) === live)

    // import adopts the tombstone parquet ZERO-COPY with its sequence;
    // graft's own guard then applies it identically
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_eq_imp_"))
    assert(sortedRows(imp.read()) === live)
    assert(imp.snapshot().eqDeletes.nonEmpty)
    // the imported table is maintainable: compact folds the debt and
    // the table re-exports clean
    imp.compact()
    assert(imp.snapshot().eqDeletes.isEmpty)
    assert(sortedRows(imp.read()) === live)
    IcebergExport.export(imp, tmp("ice_eq_imp_reexp_"))
  }

  test("history export ACROSS partition-spec evolution: multiple partition-specs, per-manifest spec-ids, every version foreign-time-travels") {
    val day = 86400000000L
    val t0 = LogTable(spark, tmp("ice_spec_evo_") + "/t")
    // v1: UNPARTITIONED generation (event_type/ts_us stored physically)
    t0.append(Seq((1L, "click", 10L, 5L), (2L, "view", 20L, day + 7L),
      (3L, "click", 30L, 2 * day + 9L)).toDF("id", "event_type", "v", "ts_us"))
    // v2: evolve to (event_type, day(ts_us)) — metadata-only
    val t = t0.evolveSpec(partitionBy = Seq("event_type"),
      hiddenBy = Seq(Transform.day("ts_us")))
    // v3-v4: EVOLVED-generation ingests (event_type only in metadata)
    t.append(Seq((4L, "click", 40L, 11L), (5L, "error", 50L, day + 3L))
      .toDF("id", "event_type", "v", "ts_us"))
    t.append(Seq((6L, "view", 60L, 2 * day + 1L))
      .toDF("id", "event_type", "v", "ts_us"))

    val dest = tmp("ice_spec_evo_out_")
    IcebergExport.export(t, dest, history = true)

    // metadata: BOTH specs present, default = the evolved one
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dest)
        .resolve("metadata").resolve("v1.metadata.json")))
    val specs = meta.get("partition-specs").elements()
      .asScala.toSeq
    assert(specs.size === 2, s"expected 2 partition specs, got $specs")
    assert(specs.map(_.get("fields").size()).sorted === Seq(0, 2))
    assert(meta.get("default-spec-id").asInt() === 1)

    // every version foreign-time-travels equal to graft's own travel,
    // including the MIXED snapshot (v3: one manifest per spec)
    t.versions.foreach { v =>
      assert(sortedRows(IcebergRead.read(spark, dest, versionAsOf = Some(v)))
        === sortedRows(t.timeTravel(v)),
        s"spec-reader view at v$v must equal graft time travel")
    }
    // the CURRENT view resolves both generations: pre-evolution rows
    // read event_type physically, evolved rows from partition metadata
    assert(sortedRows(IcebergRead.read(spark, dest)) === sortedRows(t.read()))

    // PRUNING PARITY on the evolved snapshots: evolved-generation
    // groups carry event_type as a per-group literal, so a filter on
    // it statically eliminates whole groups — the filtered plan reads
    // strictly fewer files than the full scan, and never an evolved
    // file of another event_type
    locally {
      val full = IcebergRead.read(spark, dest)
      val filtered = full.filter(col("event_type") === "error")
      assert(sortedRows(filtered) ===
        sortedRows(t.read().filter(col("event_type") === "error")))
      val fullFiles = full.inputFiles.toSet
      val filtFiles = filtered.inputFiles.toSet
      assert(filtFiles.subsetOf(fullFiles))
      assert(filtFiles.size < fullFiles.size,
        s"the evolved-identity filter must prune whole layout groups " +
          s"(${filtFiles.size} vs ${fullFiles.size})")
      assert(!filtFiles.exists(f =>
        f.contains("event_type=click") || f.contains("event_type=view")),
        s"no evolved file of another event_type may survive: $filtFiles")
    }

    // the import direction refuses the mixed-spec snapshot loudly
    // (the reader is the mixed-spec path; import adopts one spec)
    val eImp = intercept[IllegalArgumentException](
      IcebergImport.importTable(spark, dest, tmp("ice_spec_evo_imp_")))
    assert(eImp.getMessage.contains("spec-evolved"))
  }

  test("FOREIGN format-v1 tables read: legacy single-schema/flat-spec metadata, inline-manifests snapshot, v1 manifest list, prune, import") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

    val root = Paths.get(tmp("ice_v1_"))
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)
    val dataDir = root.resolve("data"); Files.createDirectories(dataDir)

    // data files: Hive-style v1 — the identity partition column is NOT
    // stored physically; the reader reconstructs it from the manifest
    def writeData(name: String, ids: Seq[Long]): (String, Long) = {
      val p = dataDir.resolve(name).toString
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
      val f = new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      (f.getAbsolutePath, f.length())
    }
    val (fA, szA) = writeData("cat=x/a", Seq(1L, 2L))
    val (fB, szB) = writeData("cat=y/b", Seq(3L))
    val (fC, szC) = writeData("cat=x/c", Seq(4L, 5L))
    // a NON-hive-path file for the import-refusal case below
    val (fD, szD) = writeData("d", Seq(9L))

    // v1 manifest avro: NO sequence-number fields anywhere, the
    // v1-required block_size_in_bytes present, data_file has NO content
    val mSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[
        |  {"name":"cat","type":["null","string"],"default":null}]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"block_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    def writeManifest(name: String,
        entries: Seq[(Int, String, String, Long, Long)]): String = {
      val p = metaDir.resolve(name)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](mSchema))
      w.create(mSchema, p.toFile)
      try entries.foreach { case (status, path, cat, rows, size) =>
        val part = new GenericData.Record(mSchema.getField("data_file")
          .schema().getField("partition").schema())
        part.put("cat", cat)
        val df = new GenericData.Record(mSchema.getField("data_file").schema())
        df.put("file_path", path); df.put("file_format", "PARQUET")
        df.put("partition", part); df.put("record_count", rows)
        df.put("file_size_in_bytes", size)
        df.put("block_size_in_bytes", 67108864L)
        val e = new GenericData.Record(mSchema)
        e.put("status", status); e.put("snapshot_id", 1L); e.put("data_file", df)
        w.append(e)
      } finally w.close()
      p.toString
    }
    val m1 = writeManifest("m1.avro",
      Seq((1, fA, "x", 2L, szA), (1, fB, "y", 1L, szB)))
    val m2 = writeManifest("m2.avro", Seq((1, fC, "x", 2L, szC)))

    // v1 manifest LIST (snapshot 2): no content / sequence_number
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    val listPath = metaDir.resolve("snap-2.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, listPath.toFile)
      try Seq(m1, m2).foreach { mp =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", mp)
        r.put("manifest_length", Files.size(Paths.get(mp)))
        r.put("partition_spec_id", 0); r.put("added_snapshot_id", 2L)
        w.append(r)
        ()
      } finally w.close()
    }

    // v1 metadata: legacy single `schema`, flat `partition-spec`,
    // snapshot 1 in the OLDEST inline-`manifests` shape, snapshot 2
    // through the manifest list
    val metaJson =
      s"""{"format-version":1,"table-uuid":"f00dcafe-0000-0000-0000-000000000001",
         |"location":"$root","last-updated-ms":1000,"last-column-id":2,
         |"schema":{"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"cat","required":false,"type":"string"}]},
         |"partition-spec":[{"name":"cat","transform":"identity","source-id":2,"field-id":1000}],
         |"properties":{},
         |"current-snapshot-id":2,
         |"snapshots":[
         |  {"snapshot-id":1,"timestamp-ms":1000,"summary":{"operation":"append"},
         |   "manifests":["$m1"]},
         |  {"snapshot-id":2,"timestamp-ms":2000,"summary":{"operation":"append"},
         |   "manifest-list":"$listPath"}],
         |"snapshot-log":[{"timestamp-ms":1000,"snapshot-id":1},
         |  {"timestamp-ms":2000,"snapshot-id":2}]}""".stripMargin
    Files.write(metaDir.resolve("v1.metadata.json"), metaJson.getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))

    // current read: both manifests through the v1 list, identity `cat`
    // reconstructed from partition metadata
    val cur = IcebergRead.read(spark, root.toString)
    assert(cur.select("id", "cat").as[(Long, String)].collect().sorted.toSeq
      === Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "x"), (5L, "x")))
    // time travel to the inline-`manifests` snapshot
    val v1 = IcebergRead.read(spark, root.toString, versionAsOf = Some(1L))
    assert(v1.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // identity-partition pruning survives the v1 path
    val pruned = cur.filter(col("cat") === "y")
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(3L))
    assert(pruned.inputFiles.map(f => java.net.URI.create(f).getPath).toSet
      === Set(fB),
      s"cat='y' must read only fB, got ${pruned.inputFiles.toSeq}")
    // SQL surfaces
    assert(GraftSql.exec(spark,
      s"SELECT count(*) AS n FROM iceberg_scan('$root')").head().getLong(0) === 5L)
    val snaps = IcebergRead.snapshots(spark, root.toString)
      .select("snapshot_id", "manifest_list").collect()
    assert(snaps.length === 2)
    assert(snaps.find(_.getLong(0) == 1L).exists(_.isNullAt(1)),
      "the inline-manifests snapshot has no manifest list")
    // graft-native import adopts the identity layout and the rows
    // (the fixture's files sit in hive-style dirs, as Spark/Hive-era
    // v1 writers lay them out — graft's scan derives identity values
    // from those path segments)
    val imp = IcebergImport.importTable(spark, root.toString, tmp("ice_v1_imp_"))
    assert(imp.read().select("id", "cat").as[(Long, String)].collect().sorted.toSeq
      === Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "x"), (5L, "x")))

    // a NON-hive-path identity layout REFUSES import (graft's scan
    // could not derive 'cat' from the path — adopting it would read
    // nulls silently) while the spec reader still reads it exactly
    // (it reconstructs from the manifest, path-agnostic)
    val root2 = Paths.get(tmp("ice_v1_nh_"))
    val metaDir2 = root2.resolve("metadata"); Files.createDirectories(metaDir2)
    val m3 = writeManifest("m3.avro", Seq((1, fD, "z", 1L, szD)))
    val metaJson2 =
      s"""{"format-version":1,"table-uuid":"f00dcafe-0000-0000-0000-000000000002",
         |"location":"$root2","last-updated-ms":1000,"last-column-id":2,
         |"schema":{"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"cat","required":false,"type":"string"}]},
         |"partition-spec":[{"name":"cat","transform":"identity","source-id":2,"field-id":1000}],
         |"properties":{},"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"timestamp-ms":1000,
         |  "summary":{"operation":"append"},"manifests":["$m3"]}],
         |"snapshot-log":[{"timestamp-ms":1000,"snapshot-id":1}]}""".stripMargin
    Files.write(metaDir2.resolve("v1.metadata.json"), metaJson2.getBytes("UTF-8"))
    Files.write(metaDir2.resolve("version-hint.text"), "1".getBytes("UTF-8"))
    assert(IcebergRead.read(spark, root2.toString)
      .select("id", "cat").as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    val eNh = intercept[IllegalArgumentException](
      IcebergImport.importTable(spark, root2.toString, tmp("ice_v1_nh_imp_")))
    assert(eNh.getMessage.contains("hive-style path segments"))
  }

  test("v1-to-v2 UPGRADED table: a v2 reader reads v1-WRITTEN manifest lists at sequence 0 (the upgrade keeps old lists)") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

    val root = Paths.get(tmp("ice_v1up_"))
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)
    val dataDir = root.resolve("data"); Files.createDirectories(dataDir)
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(dataDir.resolve("a").toString)
    val f = new java.io.File(dataDir.resolve("a").toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head

    // v1-schema manifest + list (no sequence fields anywhere)
    val mSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    val mp = metaDir.resolve("m1.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](mSchema))
      w.create(mSchema, mp.toFile)
      try {
        val dfr = new GenericData.Record(mSchema.getField("data_file").schema())
        dfr.put("file_path", f.getAbsolutePath)
        dfr.put("file_format", "PARQUET")
        dfr.put("partition", new GenericData.Record(
          mSchema.getField("data_file").schema().getField("partition").schema()))
        dfr.put("record_count", 3L); dfr.put("file_size_in_bytes", f.length())
        val e = new GenericData.Record(mSchema)
        // EXISTING status — under the old strictness a missing sequence
        // number on EXISTING refused; a v1-written manifest must not
        e.put("status", 0); e.put("data_file", dfr)
        w.append(e)
      } finally w.close()
    }
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"}
        |]}""".stripMargin)
    val lp = metaDir.resolve("snap-1.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, lp.toFile)
      try {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", mp.toString)
        r.put("manifest_length", Files.size(mp))
        r.put("partition_spec_id", 0)
        w.append(r)
      } finally w.close()
    }
    // the UPGRADED metadata: format-version 2 (schemas/partition-specs
    // arrays, as the upgrade rewrites metadata) but the snapshot still
    // references the v1-WRITTEN list above
    val metaJson =
      s"""{"format-version":2,"table-uuid":"f00dcafe-0000-0000-0000-000000000003",
         |"location":"$root","last-updated-ms":1000,"last-column-id":1,
         |"last-sequence-number":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,"properties":{},
         |"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"timestamp-ms":1000,"sequence-number":0,
         |  "summary":{"operation":"append"},"manifest-list":"$lp","schema-id":0}],
         |"snapshot-log":[{"timestamp-ms":1000,"snapshot-id":1}]}""".stripMargin
    Files.write(metaDir.resolve("v1.metadata.json"), metaJson.getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))

    assert(IcebergRead.read(spark, root.toString)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // and the import carries the defaulted sequence 0 over
    val imp = IcebergImport.importTable(spark, root.toString, tmp("ice_v1up_imp_"))
    assert(imp.read().select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("column stats cross the seam: bounds/null-counts export in spec binary form, import adopts them, foreign files stat-prune immediately") {
    val t = LogTable(spark, tmp("ice_stats_"))
    t.append(Seq((1L, "apple", Some(10L)), (2L, "banana", None))
      .toDF("id", "s", "v").coalesce(1))
    t.append(Seq((100L, "kiwi", Some(5L)), (200L, "zebra", Some(7L)))
      .toDF("id", "s", "v").coalesce(1))
    val dest = tmp("ice_stats_out_")
    IcebergExport.export(t, dest)

    // the spec reader surfaces manifest-carried stats per entry:
    // longs as 8-byte little-endian, strings as exact UTF-8
    val m = IcebergRead.load(dest)
    assert(m.entries.size === 2)
    def le(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong()
    val idF = m.fieldNameById.find(_._2 == "id").get._1
    val sF = m.fieldNameById.find(_._2 == "s").get._1
    assert(m.entries.map(e => le(e.lowerBounds(idF))).sorted === Seq(1L, 100L))
    val e1 = m.entries.find(e => le(e.lowerBounds(idF)) == 1L).get
    assert(le(e1.upperBounds(idF)) === 2L)
    assert(new String(e1.lowerBounds(sF), "UTF-8") === "apple")
    assert(new String(e1.upperBounds(sF), "UTF-8") === "banana")
    // the nullable column's null count rides as null_value_counts
    val vF = m.fieldNameById.find(_._2 == "v").get._1
    if (t.stats().files.exists(_.nulls.contains("v")))
      assert(e1.nullCounts.get(vF).contains(1L))

    // import adopts the stats verbatim (zero-copy files, same paths)
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_stats_imp_"))
    val src = t.stats().files
      .map(f => f.path -> (f.ranges.get("id"), f.strRanges.get("s"))).toMap
    imp.stats().files.foreach { f =>
      assert(src(f.path)._1 === f.ranges.get("id"), s"id range of ${f.path}")
      assert(src(f.path)._2 === f.strRanges.get("s"), s"s range of ${f.path}")
    }
    // and stat pruning fires on the imported table IMMEDIATELY — no
    // compaction needed to re-derive footer stats
    assert(imp.filesInRange("id", 150L, 300L).size === 1,
      "imported bounds must skip the 1-2 file for a 150-300 window")
    assert(imp.read().filter(col("id") >= 100L)
      .select("id").as[Long].collect().sorted.toSeq === Seq(100L, 200L))
  }

  test("manifest-list partition summaries: per-field contains_null + single-value bounds (the prune-whole-manifests level)") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val day = 86400000000L
    val t = LogTable(spark, tmp("ice_psum_"),
      partitionBy = Seq("event_type"),
      hiddenBy = Seq(Transform.day("ts_us")))
    t.append(Seq(
      (1L, "alpha", 10L),            // day 0
      (2L, "beta", day + 5L),        // day 1
      (3L, null: String, 2 * day + 9L) // day 2, NULL identity value
    ).toDF("id", "event_type", "ts_us"))
    val dest = tmp("ice_psum_out_")
    IcebergExport.export(t, dest)

    val listPath = Files.list(Paths.get(dest).resolve("metadata"))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("snap-"))
      .toSeq match { case Seq(one) => one; case m => fail(s"lists: $m") }
    val rdr = new DataFileReader[GenericRecord](listPath.toFile,
      new GenericDatumReader[GenericRecord]())
    val rec = try rdr.next() finally rdr.close()
    val sums = rec.get("partitions").asInstanceOf[java.util.List[_]]
      .asScala.map(_.asInstanceOf[GenericRecord]).toSeq
    assert(sums.size === 2, "one summary per spec field")
    def bytesOf(v: AnyRef): Array[Byte] = {
      val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
      val out = new Array[Byte](bb.remaining()); bb.get(out); out
    }
    // field 0: identity event_type — a null value in one file, string
    // bounds over the others
    val etype = sums.head
    assert(etype.get("contains_null").asInstanceOf[Boolean] === true)
    assert(new String(bytesOf(etype.get("lower_bound")), "UTF-8") === "alpha")
    assert(new String(bytesOf(etype.get("upper_bound")), "UTF-8") === "beta")
    // field 1: day(ts_us) over a LONG source exports as Iceberg
    // truncate[86400000000] — bounds are the µs day boundaries
    val dayF = sums(1)
    assert(dayF.get("contains_null").asInstanceOf[Boolean] === false)
    def ord(v: AnyRef): Long = {
      val b = bytesOf(v)
      val bb = java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (b.length == 8) bb.getLong() else bb.getInt().toLong
    }
    assert(ord(dayF.get("lower_bound")) === 0L)
    assert(ord(dayF.get("upper_bound")) === 2 * day)
    // and the export stays readable end to end (column-aligned: the
    // spec reader renders identity columns in schema position)
    assert(sortedRows(IcebergRead.read(spark, dest)
        .select("id", "event_type", "ts_us")) ===
      sortedRows(t.read().select("id", "event_type", "ts_us")))
  }

  test("delete-shard targeting predicate: interval tests, URI-form bounds, truncated foreign bounds stay conservative, bound-less always applies") {
    def applies(b: Option[(String, String)], gp: String*): Boolean =
      IcebergRead.shardApplies(b, gp.map(
        _.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")))
    // plain interval containment
    assert(applies(Some(("/t/data/a.parquet", "/t/data/m.parquet")),
      "/t/data/g.parquet"))
    assert(!applies(Some(("/t/data/a.parquet", "/t/data/m.parquet")),
      "/t/data/z.parquet"))
    // a foreign writer's file:// URI bounds normalize like the keys
    assert(applies(Some(("file:///t/data/a.parquet", "file:///t/data/m.parquet")),
      "file:///t/data/g.parquet"))
    // TRUNCATED foreign bounds (lower truncated down, upper truncated
    // and incremented) only WIDEN the interval — still a hit for paths
    // the exact interval would cover
    assert(applies(Some(("/t/data/a", "/t/data/n")), "/t/data/m.parquet"))
    // no bounds recorded = unknown coverage = always applies
    assert(applies(None, "/anything"))
    // empty group never matches a bounded shard
    assert(!applies(Some(("/a", "/b"))))
  }

  test("eq re-encode is BATCHED: a many-tombstone HISTORY export runs one job per shape group, not one per file") {
    val t = LogTable(spark, tmp("ice_eq_batch_"))
    t.append((0L until 40L).map(i => (i, "a")).toDF("id", "tag"))
    // six tombstone commits, all keyed alike — the CDC loop's steady
    // state; each is its own history snapshot with one more eq file
    (0 until 6).foreach(k =>
      t.deleteEq(Seq(k.toLong, (k + 20).toLong).toDF("id")))
    assert(t.snapshot().eqDeletes.size === 6)
    val live = sortedRows(t.read())

    val dest = tmp("ice_eq_batch_out_")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IcebergExport.export(t, dest, history = true)
      Thread.sleep(2000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    // the old shape was one read+coalesce(1) job PER eq file (6 here,
    // once per first-seeing snapshot); the batched pre-pass re-encodes
    // the whole shape group in ONE union job (+ AQE's bounded planning
    // overhead). Everything else in the export is a driver-side
    // metadata projection.
    assert(jobs.get() <= 2,
      s"a 6-tombstone history export ran ${jobs.get()} jobs — the eq " +
        "re-encode must batch per shape group")

    // exactness: the spec reader applies the batched re-encodes at
    // every version (sequence numbers carried per file)
    assert(sortedRows(IcebergRead.read(spark, dest)) === live)
    val versions = t.versions
    versions.foreach { v =>
      assert(sortedRows(IcebergRead.read(spark, dest, versionAsOf = Some(v)))
        === sortedRows(t.timeTravel(v)),
        s"history view at v$v must equal graft time travel")
    }
  }

  test("metadata scale: a 100k-file snapshot exports as a PURE metadata projection (no data I/O)") {
    val t = LogTable(spark, tmp("ice_scale_"))
    t.declareSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType))))
    // 100k SYNTHETIC manifest entries (paths that do not exist): the
    // export must never open or stat a data file, so fake paths prove
    // the zero-data-I/O property by construction
    (0 until 10).foreach { c =>
      t.commitSynthetic((0 until 10000).map(i =>
        DataFile(s"/nonexistent/data/f-$c-$i.parquet", 100L, 4096L)))
    }
    assert(t.snapshot().files.size === 100000)
    val dest = tmp("ice_scale_out_")
    val t0 = System.nanoTime()
    IcebergExport.export(t, dest)
    val secs = (System.nanoTime() - t0) / 1e9
    // generous CI bound — measured ~1-3 s on this host; a data-file
    // touch would blow it up by orders of magnitude (the paths 404)
    assert(secs < 60.0, f"metadata projection took $secs%.1f s")
    val m = IcebergRead.load(dest)
    assert(m.entries.size === 100000)
    assert(m.entries.map(_.rows).sum === 100000L * 100L)
  }

  test("equality tombstones keyed on a RENAMED column still apply inside pre-rename files") {
    val t = LogTable(spark, tmp("ice_eq_ren_"))
    t.append((0L until 20L).map(i => (i, s"u$i")).toDF("uid", "s"))  // stores 'uid'
    t.renameColumn("uid", "user_id")                                  // metadata-only
    t.append((20L until 30L).map(i => (i, s"u$i")).toDF("user_id", "s"))
    // tombstone keys from BOTH generations under the current name
    t.deleteEq(Seq(3L, 25L).toDF("user_id"))
    val live = sortedRows(t.read())
    assert(t.read().count() === 28L)

    val dest = tmp("ice_eq_ren_out_")
    IcebergExport.export(t, dest)
    // the pre-rename file stores the key under 'uid'; the reader must
    // coalesce the historical name before the tombstone anti-join —
    // a current-name-only join would read null there and keep uid=3
    val back = IcebergRead.read(spark, dest)
    assert(back.filter(col("user_id") === 3L).count() === 0L,
      "tombstone must reach the pre-rename generation")
    assert(sortedRows(back) === live)
    // import leg agrees (graft's own rename-coalescing scan)
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_eq_ren_imp_"))
    assert(sortedRows(imp.read()) === live)
  }

  test("iceberg_scan('<path>' [, v]) reads an Iceberg table in plain SQL (DuckDB's convention)") {
    val t = LogTable(spark, tmp("ice_fn_"))
    t.append((0L until 25L).map(i => (i, s"s$i")).toDF("id", "s"))   // v1
    t.append((25L until 40L).map(i => (i, s"s$i")).toDF("id", "s"))  // v2
    val dest = tmp("ice_fn_out_")
    IcebergExport.export(t, dest, history = true)
    val n = GraftSql.exec(spark,
      s"SELECT count(*) AS n FROM iceberg_scan('$dest')").head().getLong(0)
    assert(n === 40L)
    // snapshot-id arg time-travels the history export
    val n1 = GraftSql.exec(spark,
      s"SELECT count(*) AS n FROM iceberg_scan('$dest', 1)").head().getLong(0)
    assert(n1 === 25L)
    // composes with ordinary SQL (joins, predicates)
    val top = GraftSql.exec(spark,
      s"SELECT s FROM iceberg_scan('$dest') WHERE id >= 38 ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(top === Seq("s38", "s39"))
    // a literal mentioning iceberg_scan is data, not a call
    assert(GraftSql.exec(spark,
      "SELECT 'use iceberg_scan(''x'')' AS note").head().getString(0)
      .contains("iceberg_scan"))
  }

  test("iceberg_snapshots('<path>') lists the snapshot log in SQL; composes with a time-traveling scan") {
    val t = LogTable(spark, tmp("ice_snaps_"))
    t.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "s"))   // v1
    t.append((10L until 18L).map(i => (i, s"b$i")).toDF("id", "s"))  // v2
    t.delete(col("id") < 3L)                                          // v3
    val dest = tmp("ice_snaps_out_")
    IcebergExport.export(t, dest, history = true)
    val snaps = GraftSql.exec(spark,
      s"SELECT snapshot_id, operation, is_current FROM iceberg_snapshots('$dest') ORDER BY snapshot_id")
      .collect()
    assert(snaps.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(snaps.map(_.getString(1)).toSeq === Seq("append", "append", "overwrite"))
    assert(snaps.map(_.getBoolean(2)).toSeq === Seq(false, false, true))
    // the discovery → time-travel composition: list, pick, scan
    val oldest = GraftSql.exec(spark,
      s"SELECT min(snapshot_id) AS v FROM iceberg_snapshots('$dest')")
      .head().getLong(0)
    val n1 = GraftSql.exec(spark,
      s"SELECT count(*) AS n FROM iceberg_scan('$dest', $oldest)")
      .head().getLong(0)
    assert(n1 === 10L)
  }

  test("named refs export as Iceberg refs: tags resolve in the reader AND as iceberg_scan('p','tag')") {
    val t = LogTable(spark, tmp("ice_refs_"))
    t.append((0L until 12L).map(i => (i, s"a$i")).toDF("id", "s"))  // v1
    t.createRef("golden")                                            // tag at v1
    t.append((12L until 20L).map(i => (i, s"b$i")).toDF("id", "s")) // v2
    t.createRef("latest")                                            // tag at v2
    val dest = tmp("ice_refs_out_")
    IcebergExport.export(t, dest, history = true)
    val meta = new String(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    assert(meta.contains("\"refs\""))
    assert(meta.contains("\"golden\"") && meta.contains("\"latest\""))
    // readRef = graft's own readRef through the foreign metadata
    assert(sortedRows(IcebergRead.readRef(spark, dest, "golden")) ===
      sortedRows(t.readRef("golden")))
    assert(IcebergRead.refSnapshot(dest, "main") === 2L)
    // tag-addressed SQL time travel (DuckDB's quoted-ref form)
    assert(GraftSql.exec(spark,
      s"SELECT count(*) AS n FROM iceberg_scan('$dest', 'golden')")
      .head().getLong(0) === 12L)
    // unknown ref refuses with the known names
    val e = intercept[IllegalArgumentException](
      IcebergRead.refSnapshot(dest, "nope"))
    assert(e.getMessage.contains("golden"))
    // a CURRENT-ONLY export drops tags on unexported snapshots rather
    // than writing a dangling spec-invalid ref
    val dest2 = tmp("ice_refs_cur_out_")
    IcebergExport.export(t, dest2)
    val meta2 = new String(Files.readAllBytes(
      Paths.get(dest2).resolve("metadata").resolve("v1.metadata.json")))
    assert(!meta2.contains("\"golden\"") && meta2.contains("\"latest\""))
  }

  test("declared write sort order exports as Iceberg sort-order 1") {
    val t = LogTable(spark, tmp("ice_sort_"))
    t.append((0L until 10L).map(i => (i, i * 2)).toDF("id", "v"))
    t.setSortOrder(Seq("id"))
    val dest = tmp("ice_sort_out_")
    IcebergExport.export(t, dest)
    val json = new String(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    assert(json.contains("\"default-sort-order-id\":1"))
    assert(json.contains("\"direction\":\"asc\""))
    // unsorted tables keep the spec-required order 0
    val t2 = LogTable(spark, tmp("ice_sort2_"))
    t2.append(Seq((1L, 2L)).toDF("id", "v"))
    val d2 = tmp("ice_sort2_out_")
    IcebergExport.export(t2, d2)
    assert(new String(Files.readAllBytes(Paths.get(d2).resolve("metadata")
      .resolve("v1.metadata.json"))).contains("\"default-sort-order-id\":0"))
  }

  test("re-export into a dest holding a DIFFERENT table's metadata refuses; same table carries the uuid forward") {
    val a = LogTable(spark, tmp("ice_uuid_a_"))
    a.append(Seq((1L, "x")).toDF("id", "s"))
    val dest = tmp("ice_uuid_out_")
    IcebergExport.export(a, dest)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def uuidOf(v: Int): String = mapper.readTree(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve(s"v$v.metadata.json")))
      .get("table-uuid").asText()
    // same table re-exports: vN chains, uuid stable (mirror refresh)
    a.append(Seq((2L, "y")).toDF("id", "s"))
    IcebergExport.export(a, dest)
    assert(uuidOf(1) === uuidOf(2), "uuid carries forward for the same table")
    // a DIFFERENT table into the same dest refuses instead of chaining
    val b = LogTable(spark, tmp("ice_uuid_b_"))
    b.append(Seq((9L, "z")).toDF("id", "s"))
    val e = intercept[IllegalArgumentException](IcebergExport.export(b, dest))
    assert(e.getMessage.contains("different table"))
  }

  test("mbucket is the Iceberg-spec bucket: test vector, write/derive parity, export + foreign-prune parity, import") {
    // the public Iceberg spec's 32-bit hash test vector: long 34
    // hashes to 2017239379 (Appendix B) — pins seed 0 + little-endian
    // long blocks, the exact arithmetic a foreign engine prunes with
    val t8 = Transform.mbucket(8, "id")
    assert(t8.derive(34L) === (2017239379 & Int.MaxValue) % 8)
    // column (codegen'd Murmur3Hash) and derive (driver literal) agree
    val ids = Seq(0L, 1L, 34L, -1L, Long.MaxValue, Long.MinValue, 123456789L)
    val derived = ids.toDF("id").select(col("id"), t8.column.as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach(i => assert(derived(i) === t8.derive(i), s"id=$i"))

    // an mbucket table EXPORTS (the xxhash64 refusal does not apply)
    val t = LogTable(spark, tmp("ice_mb_"), hiddenBy = Seq(Transform.mbucket(8, "id")))
    t.append((0L until 64L).map(i => (i, s"s$i")).toDF("id", "s"))
    val dest = tmp("ice_mb_out_")
    IcebergExport.export(t, dest)
    val json = new String(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    assert(json.contains("\"transform\":\"bucket[8]\""))
    assert(sortedRows(IcebergRead.read(spark, dest)) === sortedRows(t.read()))

    // FOREIGN-PRUNE PARITY: a spec reader doing a point lookup keeps
    // only manifest entries whose bucket value equals the spec hash of
    // the key — those files must contain the row, and the pruned set
    // must agree with graft's own manifest pruning
    val m = IcebergRead.load(dest)
    val key = 34L
    val want = t8.derive(key)
    val kept = m.entries.filter(_.part.get("id_bucket").exists(
      _.asInstanceOf[Number].longValue() === want))
    assert(kept.nonEmpty && kept.size < m.entries.size, "prune must bound the file set")
    val hit = spark.read.parquet(kept.map(_.path): _*).filter(col("id") === key)
    assert(hit.count() === 1L, "point lookup lands in the pruned bucket")
    val graftKept = t.snapshot().files.filter(_.partitions.get(t8.colName)
      .contains(want.toString)).map(_.path).toSet
    assert(kept.map(_.path).toSet === graftKept, "foreign and graft prune agree")

    // IMPORT the other way: a bucket[8] spec becomes graft mbucket,
    // values verbatim, pruning immediate
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_mb_imp_"))
    assert(imp.hiddenBy === Seq(Transform.mbucket(8, "id")))
    assert(sortedRows(imp.read()) === sortedRows(t.read()))
    assert(imp.read().filter(col("id") === key).count() === 1L)

    // the legacy xxhash64 bucket still refuses, pointing at mbucket
    val xb = LogTable(spark, tmp("ice_xb_"), hiddenBy = Seq(Transform.bucket(8, "id")))
    xb.append((0L until 8L).map(i => (i, s"x$i")).toDF("id", "s"))
    val e = intercept[IllegalArgumentException](
      IcebergExport.export(xb, tmp("ice_xb_out_")))
    assert(e.getMessage.contains("mbucket"))
  }

  test("STRING mbucket: spec vector, write/derive parity, prune, export + import roundtrip") {
    // the Iceberg spec's Appendix-B string vector: "iceberg" hashes to
    // 1210000089 — pins seed 0 + UTF-8 bytes + STANDARD murmur3 tail
    // (Spark's own hashUnsafeBytes variant would differ)
    val t8 = Transform.mbucket(8, "k")
    assert(t8.deriveStr("iceberg") === (1210000089 & Int.MaxValue) % 8)
    // column (codegen'd IcebergBucketHash) and deriveStr agree,
    // multi-byte UTF-8 included
    val keys = Seq("iceberg", "", "a", "doc-123", "naïve-ключ-文書")
    val derived = keys.toDF("k").select(col("k"), t8.column.as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach(k => assert(derived(k) === t8.deriveStr(k), s"k=$k"))

    // a string-keyed mbucket table writes, prunes, and round-trips
    val t = LogTable(spark, tmp("ice_mbs_"), hiddenBy = Seq(Transform.mbucket(8, "k")))
    t.append((0L until 64L).map(i => (i, s"doc-$i")).toDF("id", "k"))
    val probe = "doc-17"
    val want = t8.deriveStr(probe)
    val kept = t.snapshot().files.filter(_.partitions.get(t8.colName)
      .contains(want.toString))
    assert(kept.nonEmpty && kept.size < t.snapshot().files.size,
      "string point lookup must bound the file set")
    assert(spark.read.parquet(kept.map(_.path): _*)
      .filter(col("k") === probe).count() === 1L)
    // the DSv2 pruner's string clause agrees: an EqualTo("k", probe)
    // filter keeps exactly the probe's bucket files, and inequality
    // keeps everything (the hash scrambles order — equality only)
    val pruned = t.snapshot().prunedFiles(
      Seq(org.apache.spark.sql.sources.EqualTo("k", probe)))
    assert(pruned.map(_.path).toSet === kept.map(_.path).toSet)
    // the Scala point-lookup API prunes the same way and stays exact
    assert(t.filesForPointStr("k", probe).map(_.path).toSet
      .subsetOf(kept.map(_.path).toSet))
    assert(t.readPointStr("k", probe).count() === 1L)
    assert(t.readPointStr("k", "doc-does-not-exist").count() === 0L)
    assert(t.snapshot().prunedFiles(Seq(
      org.apache.spark.sql.sources.GreaterThan("k", probe))).size ===
      t.snapshot().files.size)

    // export as bucket[8] over the string source; spec reader agrees;
    // import adopts the layout back as string mbucket
    val dest = tmp("ice_mbs_out_")
    IcebergExport.export(t, dest)
    assert(new String(Files.readAllBytes(Paths.get(dest).resolve("metadata")
      .resolve("v1.metadata.json"))).contains("\"transform\":\"bucket[8]\""))
    assert(sortedRows(IcebergRead.read(spark, dest)) === sortedRows(t.read()))
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_mbs_imp_"))
    assert(imp.hiddenBy === Seq(Transform.mbucket(8, "k")))
    assert(sortedRows(imp.read()) === sortedRows(t.read()))
  }

  test("TIMESTAMP-sourced day partitioning: layout, timestamp-literal prune, NATIVE Iceberg day export, import") {
    import java.time.Instant
    // a real TIMESTAMP `time` column (the reference's log-table
    // shape), day-partitioned through the hidden transform
    val t = LogTable(spark, tmp("ice_tsday_"),
      hiddenBy = Seq(Transform.day("time")))
    val rows = (0L until 40L).map { i =>
      (i, java.sql.Timestamp.from(
        Instant.ofEpochSecond(86400L * (i % 5) + i)))  // 5 distinct days
    }
    t.append(rows.toDF("id", "time"))
    // directory values are day ordinals — identical to a µs-long
    // source's derive
    val dayVals = t.snapshot().files.flatMap(_.partitions.get("_p_time_day")).toSet
    assert(dayVals === Set("0", "1", "2", "3", "4"))

    // timestamp LITERALS prune through the transform on the DSv2
    // filter path (both java.sql and java8 renderings)
    val cut = java.sql.Timestamp.from(Instant.ofEpochSecond(3 * 86400L))
    val keptTs = t.snapshot().prunedFiles(
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("time", cut)))
    assert(keptTs.nonEmpty)
    assert(keptTs.flatMap(_.partitions.get("_p_time_day")).toSet === Set("3", "4"))
    val keptInst = t.snapshot().prunedFiles(
      Seq(org.apache.spark.sql.sources.EqualTo("time",
        Instant.ofEpochSecond(2 * 86400L + 12L))))
    assert(keptInst.flatMap(_.partitions.get("_p_time_day")).toSet === Set("2"))

    // exports as Iceberg's NATIVE day transform (int ordinal), not a
    // truncate encoding; the spec reader round-trips
    val dest = tmp("ice_tsday_out_")
    IcebergExport.export(t, dest)
    val json = new String(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    assert(json.contains("\"transform\":\"day\""))
    assert(!json.contains("truncate[86400000000]"))
    assert(sortedRows(IcebergRead.read(spark, dest)) === sortedRows(t.read()))

    // the other direction: a foreign day-over-timestamptz spec becomes
    // graft day over the timestamp column, pruning immediately
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_tsday_imp_"))
    assert(imp.hiddenBy === Seq(Transform.day("time")))
    assert(sortedRows(imp.read()) === sortedRows(t.read()))
    assert(imp.snapshot().prunedFiles(
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("time", cut)))
      .flatMap(_.partitions.get("_p_time_day")).toSet === Set("3", "4"))
  }

  test("export after MoR-fold compaction equals the pre-compact live rows") {
    val t = LogTable(spark, tmp("ice_fold_"))
    t.append((0L until 50L).map(i => (i, i % 5)).toDF("id", "g"))
    t.deleteMor(col("g") === 0L)
    val live = sortedRows(t.read())
    t.compact()
    val dest = tmp("ice_fold_out_")
    IcebergExport.export(t, dest)
    assert(sortedRows(IcebergRead.read(spark, dest)) === live)
  }

  test("history export over a NESTED+EVOLVING lineage: stable nested ids, per-version schemas, time travel at every version") {
    import org.apache.spark.sql.functions.struct
    val t = LogTable(spark, tmp("ice_nesthist_"))
    // v1: struct column under the ORIGINAL member names
    t.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "k", "c")
      .select(col("id"),
        struct(col("k").as("etype"), col("c").as("cents")).as("payload")))
    t.renameField("payload.etype", "kind")                      // v2
    t.widenField("payload.cents",
      org.apache.spark.sql.types.LongType)                      // v3
    // v4: second generation under the NEW shape
    t.append(Seq((3L, "x", 30L), (4L, "y", 40L)).toDF("id", "k", "c")
      .select(col("id"),
        struct(col("k").as("kind"), col("c").as("cents")).as("payload")))

    val dest = tmp("ice_nesthist_out_")
    IcebergExport.export(t, dest, history = true)

    // every version's foreign read equals graft's own time travel —
    // v1 under its OWN schema (old member names), later versions
    // coalescing the pre-rename files' values through the mapping
    t.versions.foreach { v =>
      assert(sortedRows(IcebergRead.read(spark, dest, versionAsOf = Some(v))) ===
        sortedRows(t.timeTravel(v)), s"version $v")
    }
    // the CURRENT read resolves generation-1 values under the new
    // member names (a silent null here would be wrong data)
    val cur = IcebergRead.read(spark, dest)
    assert(cur.select(col("payload.kind")).as[String].collect().sorted ===
      Array("a", "b", "x", "y"))
    assert(cur.select(col("payload.cents")).as[Long].collect().sorted ===
      Array(10L, 20L, 30L, 40L))

    // NESTED ID STABILITY across versions: the renamed member carries
    // ONE id in every exported schema (Iceberg's id-projection
    // contract), readable straight from the metadata JSON
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readAllBytes(Paths.get(dest).resolve("metadata")
        .resolve("v1.metadata.json")))
    import scala.jdk.CollectionConverters._
    def memberIds(schemaIdx: Int): Map[String, Int] = {
      val payload = json.get("schemas").get(schemaIdx).get("fields")
        .elements().asScala.find(_.get("name").asText() == "payload").get
      payload.get("type").get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    }
    val nSchemas = json.get("schemas").size()
    assert(nSchemas >= 2, "evolution must record multiple schemas")
    val v1Ids = memberIds(0)
    val curIds = memberIds(nSchemas - 1)
    assert(v1Ids("etype") === curIds("kind"),
      "the renamed nested member keeps ONE field id across versions")
    assert(v1Ids("cents") === curIds("cents"),
      "the widened nested member keeps its field id")

    // the import direction carries the NESTED rename history: graft's
    // own coalescing read path resolves generation-1 values exactly
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_nesthist_imp_"))
    assert(imp.read().select(col("payload.kind")).as[String].collect().sorted ===
      Array("a", "b", "x", "y"))
    assert(sortedRows(imp.read().select(col("id"), col("payload"))) ===
      sortedRows(t.read().select(col("id"), col("payload"))))
  }

  test("position-delete EXPORT shards like the import side: >1 delete parquets, wholeness, summary agreement") {
    import scala.jdk.CollectionConverters._
    // a mark backlog referencing MANY data files: the sharded writer
    // (one delete parquet per ~8 referenced files) must emit MULTIPLE
    // content=deletes entries — the old coalesce(1) funnelled the
    // whole backlog through one task into one file.
    val t = LogTable(spark, tmp("ice_delshard_"))
    (0 until 40).foreach(c =>
      t.append(Seq((c.toLong * 10, s"f$c"), (c.toLong * 10 + 1, s"g$c"))
        .toDF("id", "s")))
    t.deleteMor(col("id") % 10 === 1L) // a mark in every append's files
    val live = sortedRows(t.read())
    val refFiles = t.snapshot().deletes.flatMap(_.refPaths).toSet.size
    val marks = t.snapshot().deletes.map(_.rows).sum
    assert(refFiles >= 17, s"need >2 shards' worth of marked files, got $refFiles")

    val dest = tmp("ice_delshard_out_")
    IcebergExport.export(t, dest)

    val delFiles = Files.list(Paths.get(dest).resolve("data")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("delete-")).toSeq
    val maxShards = (refFiles + 7) / 8
    // one task writes one parquet in this shape (no rolling), so >1
    // files IS the >1-tasks witness that the coalesce(1) funnel is gone
    assert(delFiles.size > 1 && delFiles.size <= maxShards,
      s"expected 2..$maxShards sharded delete parquets over $refFiles " +
        s"marked files, got ${delFiles.size}")

    // WHOLENESS: each data file's marks land wholly in ONE delete
    // parquet (one delete read per data file); spec sort within each
    val perShard = delFiles.map { p =>
      val df = spark.read.parquet(p.toString)
      val paths = df.select("file_path").distinct().as[String].collect().toSet
      val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows === rows.sortBy(identity), s"shard $p not spec-sorted")
      paths
    }
    perShard.combinations(2).foreach { case Seq(a, b) =>
      assert(a.intersect(b).isEmpty, "a data file's marks split across shards")
    }
    assert(perShard.map(_.size).sum === refFiles)

    // every mark exported exactly once; the spec reader applies them all
    assert(delFiles.map(p => IcebergExport.parquetRowCount(p)).sum === marks)
    assert(sortedRows(IcebergRead.read(spark, dest)) === live)

    // summary totals agree with the delete manifest's own contents
    val json = new String(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    assert(json.contains(s""""total-delete-files":"${delFiles.size}""""),
      "summary counts EXPORTED delete files, not internal DV blobs")

    // DELETE-FILE TARGETING: each shard's manifest entry carries
    // file_path lower/upper bounds (reserved field id 2147483546)
    // covering a CONTIGUOUS, DISJOINT path interval (range sharding) —
    // a foreign engine matches delete files to data files from the
    // manifest alone. Cross-check the bounds against the shards'
    // actual contents.
    locally {
      import org.apache.avro.file.DataFileReader
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      val metaDir = Paths.get(dest).resolve("metadata")
      val delManifest = Files.list(metaDir).iterator().asScala
        .filter(_.getFileName.toString.endsWith("-d0.avro")).toSeq match {
          case Seq(one) => one
          case more => fail(s"expected one delete manifest, got $more")
        }
      val rdr = new DataFileReader[GenericRecord](delManifest.toFile,
        new GenericDatumReader[GenericRecord]())
      val bounds = try {
        val buf = scala.collection.mutable.ListBuffer[(String, String, String)]()
        while (rdr.hasNext) {
          val df = rdr.next().get("data_file").asInstanceOf[GenericRecord]
          def bound(f: String): String = {
            val kv = df.get(f).asInstanceOf[java.util.List[_]].get(0)
              .asInstanceOf[GenericRecord]
            assert(kv.get("key").asInstanceOf[Int] === 2147483546)
            val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
            val out = new Array[Byte](bb.remaining()); bb.get(out)
            new String(out, "UTF-8")
          }
          buf += ((df.get("file_path").toString, bound("lower_bounds"),
            bound("upper_bounds")))
        }
        buf.toList
      } finally rdr.close()
      assert(bounds.size === delFiles.size)
      bounds.foreach { case (shardPath, lo, hi) =>
        val actual = spark.read.parquet(shardPath)
          .select("file_path").as[String].collect()
        assert(actual.min === lo && actual.max === hi,
          s"bounds of $shardPath must equal its contents' min/max")
      }
      // disjoint intervals: sorted by lower bound, each upper < next lower
      val sorted = bounds.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, hi), (_, lo2, _)) =>
          assert(hi < lo2, s"shard intervals overlap: $hi vs $lo2")
        case _ =>
      }
    }

    // the import direction round-trips the sharded form too
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_delshard_imp_"))
    assert(sortedRows(imp.read()) === live)
  }

  test("timestamp-sourced truncate refuses at export (no legal Iceberg transform/source combination)") {
    import java.time.Instant
    val t = LogTable(spark, tmp("ice_tstrunc_"),
      hiddenBy = Seq(Transform.truncate(3600000000L, "time")))
    t.append((0L until 10L).map(i => (i, java.sql.Timestamp.from(
      Instant.ofEpochSecond(3600L * i)))).toDF("id", "time"))
    // graft-side reads and pruning keep working
    assert(t.read().count() === 10L)
    val e = intercept[IllegalArgumentException](
      IcebergExport.export(t, tmp("ice_tstrunc_out_")))
    assert(e.getMessage.contains("TIMESTAMP source"))
    assert(e.getMessage.contains("truncate"))
  }

  test("pre-1970 rows refuse at the day/hour seam: trunc-vs-floor ordinals diverge on the negative domain") {
    // negative µs-epoch values: graft's trunc-toward-zero day ordinal
    // differs from Iceberg's floor-based one, so export must refuse
    val t = LogTable(spark, tmp("ice_neg_"),
      hiddenBy = Seq(Transform.day("ts_us")))
    t.append(Seq((1L, -86400000000L * 3 + 5L), (2L, 86400000000L * 2))
      .toDF("id", "ts_us"))
    assert(t.read().count() === 2L) // graft-side unaffected
    val e = intercept[IllegalArgumentException](
      IcebergExport.export(t, tmp("ice_neg_out_")))
    assert(e.getMessage.contains("pre-1970") ||
      e.getMessage.contains("negative-epoch"))

    // ordinal 0 with PROVEN non-negative footer min exports fine
    val ok = LogTable(spark, tmp("ice_zeroday_"),
      hiddenBy = Seq(Transform.day("ts_us")))
    ok.append(Seq((1L, 5L), (2L, 86400000000L + 7L)).toDF("id", "ts_us"))
    val dest = tmp("ice_zeroday_out_")
    IcebergExport.export(ok, dest)
    assert(sortedRows(IcebergRead.read(spark, dest)
      .select(col("id"), col("ts_us"))) ===
      sortedRows(ok.read().select(col("id"), col("ts_us"))))
  }

  test("TIMESTAMP-sourced year/month partitioning: native export, import roundtrip, prune parity — the year refusal is retired") {
    import java.time.{Instant, LocalDate}
    def ts(date: String): java.sql.Timestamp =
      java.sql.Timestamp.from(Instant.ofEpochSecond(
        LocalDate.parse(date).toEpochDay * 86400L))
    // MONTH layout over the reference's TIMESTAMP shape
    val t = LogTable(spark, tmp("ice_tsmonth_"),
      hiddenBy = Seq(Transform.month("time")))
    t.append(Seq("2023-11-15", "2023-12-01", "2024-01-10", "2024-02-29",
      "2024-03-01").zipWithIndex.map { case (d, i) => (i.toLong, ts(d)) }
      .toDF("id", "time"))
    val monthOrds = t.snapshot().files
      .flatMap(_.partitions.get("_p_time_month")).toSet
    assert(monthOrds === Set("646", "647", "648", "649", "650"))

    // exports as Iceberg's NATIVE month transform (int ordinal)
    val dest = tmp("ice_tsmonth_out_")
    IcebergExport.export(t, dest)
    val json = new String(Files.readAllBytes(
      Paths.get(dest).resolve("metadata").resolve("v1.metadata.json")))
    assert(json.contains("\"transform\":\"month\""))
    assert(sortedRows(IcebergRead.read(spark, dest)) === sortedRows(t.read()))

    // the import direction: foreign month-over-timestamptz becomes
    // graft month, pruning immediately (the old refusal is retired)
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_tsmonth_imp_"))
    assert(imp.hiddenBy === Seq(Transform.month("time")))
    assert(sortedRows(imp.read()) === sortedRows(t.read()))
    assert(imp.snapshot().prunedFiles(
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("time", ts("2024-02-01"))))
      .flatMap(_.partitions.get("_p_time_month")).toSet === Set("649", "650"))

    // YEAR layout: same circle
    val ty = LogTable(spark, tmp("ice_tsyear_"),
      hiddenBy = Seq(Transform.year("time")))
    ty.append(Seq("2022-05-01", "2023-06-01", "2024-07-01").zipWithIndex
      .map { case (d, i) => (i.toLong, ts(d)) }.toDF("id", "time"))
    val ydest = tmp("ice_tsyear_out_")
    IcebergExport.export(ty, ydest)
    assert(new String(Files.readAllBytes(Paths.get(ydest).resolve("metadata")
      .resolve("v1.metadata.json"))).contains("\"transform\":\"year\""))
    assert(sortedRows(IcebergRead.read(spark, ydest)) === sortedRows(ty.read()))
    val yimp = IcebergImport.importTable(spark, ydest, tmp("ice_tsyear_imp_"))
    assert(yimp.hiddenBy === Seq(Transform.year("time")))
    assert(yimp.snapshot().prunedFiles(
      Seq(org.apache.spark.sql.sources.LessThan("time", ts("2022-12-31"))))
      .flatMap(_.partitions.get("_p_time_year")).toSet === Set("52"))

    // a µs-LONG-sourced year layout has no legal Iceberg encoding
    val tl = LogTable(spark, tmp("ice_longyear_"),
      hiddenBy = Seq(Transform.year("ts_us")))
    tl.append(Seq((1L, 86400000000L * 400)).toDF("id", "ts_us"))
    val e = intercept[IllegalArgumentException](
      IcebergExport.export(tl, tmp("ice_longyear_out_")))
    assert(e.getMessage.contains("year") &&
      e.getMessage.contains("TIMESTAMP"))
  }

  test("graft data writes store TIMESTAMP as INT64 micros (Iceberg-required), not Spark's default INT96") {
    import java.time.Instant
    val t = LogTable(spark, tmp("ice_micros_"))
    t.append((0L until 5L).map(i => (i, java.sql.Timestamp.from(
      Instant.ofEpochSecond(i)))).toDF("id", "time"))
    val p = t.snapshot().files.head.path
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    import scala.jdk.CollectionConverters._
    val tsType = try r.getFooter.getFileMetaData.getSchema
      .getFields.asScala.find(_.getName == "time").get
      .asPrimitiveType().getPrimitiveTypeName
      finally r.close()
    assert(tsType ===
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
      "timestamp column must be INT64 micros for the Iceberg seam")
  }

  test("deletion-vector-v1 codec: roundtrip incl. bitmap containers, run-container decode, CRC refusal") {
    // array + bitmap containers, multiple 32-bit buckets
    val dense = (0L until 5000L).map(_ * 2) // >4096 per container → bitmap
    val positions = (Array(0L, 2L, 7L, 65536L, (1L << 33) + 5) ++ dense).distinct
    val blob = PuffinDv.serialize(positions)
    assert(PuffinDv.deserialize(blob).toSeq === positions.sorted.toSeq)
    // run-container form (foreign writers run-compress): hand-author
    // cookie 12347 with one run container [10, 13]
    val bm = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bm.putLong(1L).putInt(0) // one bucket, high=0
    bm.putInt(12347) // SERIAL_COOKIE, (nContainers-1)=0 in high 16 bits
    bm.put(1.toByte) // run bitset: container 0 is a run
    bm.putShort(0.toShort).putShort(3.toShort) // key 0, card-1 = 3
    // < 4 containers → no offset index under the run cookie
    bm.putShort(1.toShort) // n_runs
    bm.putShort(10.toShort).putShort(3.toShort) // [10, 10+3]
    val bitmap = java.util.Arrays.copyOf(bm.array(), bm.position())
    val magic = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39, 0x64)
    val crc = new java.util.zip.CRC32()
    crc.update(magic); crc.update(bitmap)
    val full = java.nio.ByteBuffer.allocate(4 + 4 + bitmap.length + 4)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
      .putInt(4 + bitmap.length).put(magic).put(bitmap)
      .putInt(crc.getValue.toInt).array()
    assert(PuffinDv.deserialize(full).toSeq === Seq(10L, 11L, 12L, 13L))
    // a flipped bit fails the CRC, loudly
    val corrupt = full.clone(); corrupt(12) = (corrupt(12) ^ 1).toByte
    val e = intercept[IllegalArgumentException](PuffinDv.deserialize(corrupt))
    assert(e.getMessage.contains("CRC"))
    // a run whose start+len overflows the container's 16-bit value
    // space would OR into the key bits — silently wrong positions, so
    // the codec must refuse (exact-or-refuse covers structure, not
    // just checksums)
    val bad = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bad.putLong(1L).putInt(0)
    bad.putInt(12347)
    bad.put(1.toByte)
    bad.putShort(0.toShort).putShort(3.toShort)
    bad.putShort(1.toShort)
    bad.putShort(0xFFFE.toShort).putShort(5.toShort) // start+len > 0xffff
    val badBitmap = java.util.Arrays.copyOf(bad.array(), bad.position())
    val crc2 = new java.util.zip.CRC32()
    crc2.update(magic); crc2.update(badBitmap)
    val badFull = java.nio.ByteBuffer.allocate(4 + 4 + badBitmap.length + 4)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
      .putInt(4 + badBitmap.length).put(magic).put(badBitmap)
      .putInt(crc2.getValue.toInt).array()
    val e2 = intercept[IllegalArgumentException](PuffinDv.deserialize(badFull))
    assert(e2.getMessage.contains("overflows"))
  }

  test("DV blob ranges read through the FileSystem seam: URI-schemed puffin paths (foreign-table shape) open and decode") {
    // foreign v3 tables commonly record file:///… puffin paths; the
    // range read must route those through Hadoop's FileSystem instead
    // of RandomAccessFile (which cannot open a URI)
    val dir = Paths.get(tmp("dv_fs_"))
    Files.createDirectories(dir)
    val pp = dir.resolve("marks-deletes.puffin")
    val payload = PuffinDv.serialize(Array(3L, 5L, 900000L))
    val (_, _, metas) = Puffin.write(pp, Seq(Puffin.Blob(
      "deletion-vector-v1", Nil, 1L, 1L, payload,
      Map("referenced-data-file" -> "/d/f.parquet"))), Map.empty)
    val m = metas.head
    val plain = PuffinDv.readRange(pp.toString, m.offset, m.length)
    val viaUri = PuffinDv.readRange(s"file://$pp", m.offset, m.length)
    assert(plain.toSeq === Seq(3L, 5L, 900000L))
    assert(viaUri.toSeq === plain.toSeq)
  }

  test("deletion-vector-v1 codec at scale: 1M positions roundtrip exactly; the blob stays bitmap-compressed, far below 8 bytes/position") {
    // the 100 TB shape: a 128 MB data file holds ~1M rows; a heavy
    // delete marks a large fraction of them. 1M positions spread over
    // several 64k containers with mixed densities.
    val rnd = new scala.util.Random(42)
    val positions = Array.fill(1000000)(rnd.nextLong(1L << 24)).distinct.sorted
    val t0 = System.nanoTime()
    val blob = PuffinDv.serialize(positions)
    val back = PuffinDv.deserialize(blob)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(back.toSeq === positions.toSeq, "1M-position roundtrip must be exact")
    // roaring compression: ~960k distinct positions over a 16M space
    // (~6% density) must land FAR below the 8-byte/position naive form
    assert(blob.length < positions.length * 4,
      s"blob ${blob.length}B for ${positions.length} positions — not compressed?")
    // codec cost is not a scan bottleneck: a second per million marks
    // would dominate small reads
    assert(secs < 10.0, s"1M-position codec roundtrip took ${secs}s")
  }

  test("FOREIGN format-v3 tables read: deletion vectors apply via IcebergRead + iceberg_scan + import with graft-DV parity; time travel; refusal ladder") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

    val root = Paths.get(tmp("ice_v3_"))
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)
    val dataDir = root.resolve("data"); Files.createDirectories(dataDir)

    def writeData(name: String, rows: Seq[(Long, String)]): (String, Long) = {
      val p = dataDir.resolve(name).toString
      rows.toDF("id", "s").coalesce(1).write.mode("overwrite").parquet(p)
      val f = new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      (f.getAbsolutePath, f.length())
    }
    val (fA, szA) = writeData("a", Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w")))
    val (fB, szB) = writeData("b", Seq((10L, "p"), (11L, "q")))

    // the DV: positions 1 and 3 of file A (ids 2 and 4), as a
    // deletion-vector-v1 blob in a Puffin file
    val dvPath = metaDir.resolve("deletes.puffin")
    val (_, _, blobMetas) = Puffin.write(dvPath, Seq(Puffin.Blob(
      "deletion-vector-v1", Nil, snapshotId = 2L, sequenceNumber = 2L,
      payload = PuffinDv.serialize(Array(1L, 3L)),
      properties = Map("referenced-data-file" -> fA,
        "cardinality" -> "2"))), Map.empty)
    val dvOff = blobMetas.head.offset
    val dvLen = blobMetas.head.length

    // v3 data manifest (v2-shaped entry schema + sequence numbers;
    // first_row_id present = row lineage, adopted on import)
    val dataSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"first_row_id","type":["null","long"],"default":null}
        |]}}]}""".stripMargin)
    val dataManifest = metaDir.resolve("m-data.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](dataSchema))
      w.create(dataSchema, new java.io.File(dataManifest))
      try Seq((fA, 4L, szA, 0L), (fB, 2L, szB, 4L)).foreach {
        case (p, rows, sz, firstRow) =>
          val part = new GenericData.Record(dataSchema.getField("data_file")
            .schema().getField("partition").schema())
          val df = new GenericData.Record(dataSchema.getField("data_file").schema())
          df.put("content", 0); df.put("file_path", p)
          df.put("file_format", "PARQUET"); df.put("partition", part)
          df.put("record_count", rows); df.put("file_size_in_bytes", sz)
          df.put("first_row_id", firstRow) // v3 row lineage — adopted
          val e = new GenericData.Record(dataSchema)
          e.put("status", 1); e.put("snapshot_id", 1L)
          e.put("sequence_number", 1L); e.put("data_file", df)
          w.append(e)
      } finally w.close()
    }

    // v3 DELETE manifest: one DV entry (content 1, PUFFIN) carrying
    // the spec-required referenced_data_file/content_offset/size
    val delSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"referenced_data_file","type":["null","string"],"default":null},
        |{"name":"content_offset","type":["null","long"],"default":null},
        |{"name":"content_size_in_bytes","type":["null","long"],"default":null}
        |]}}]}""".stripMargin)
    def writeDeleteManifest(name: String, withCoords: Boolean): String = {
      val p = metaDir.resolve(name)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](delSchema))
      w.create(delSchema, p.toFile)
      try {
        val part = new GenericData.Record(delSchema.getField("data_file")
          .schema().getField("partition").schema())
        val df = new GenericData.Record(delSchema.getField("data_file").schema())
        df.put("content", 1); df.put("file_path", dvPath.toString)
        df.put("file_format", "PUFFIN"); df.put("partition", part)
        df.put("record_count", 2L)
        df.put("file_size_in_bytes", Files.size(dvPath))
        if (withCoords) {
          df.put("referenced_data_file", fA)
          df.put("content_offset", dvOff)
          df.put("content_size_in_bytes", dvLen)
        }
        val e = new GenericData.Record(delSchema)
        e.put("status", 1); e.put("snapshot_id", 2L)
        e.put("sequence_number", 2L); e.put("data_file", df)
        w.append(e)
      } finally w.close()
      p.toString
    }
    val delManifest = writeDeleteManifest("m-del.avro", withCoords = true)

    // manifest lists: snapshot 1 = data only; snapshot 2 = data + DV
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    def writeList(name: String, ms: Seq[(String, Int, Long)]): String = {
      val p = metaDir.resolve(name)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, p.toFile)
      try ms.foreach { case (mp, content, seq) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", mp)
        r.put("manifest_length", Files.size(Paths.get(mp)))
        r.put("partition_spec_id", 0); r.put("content", content)
        r.put("sequence_number", seq); r.put("added_snapshot_id", seq)
        w.append(r)
        ()
      } finally w.close()
      p.toString
    }
    val list1 = writeList("snap-1.avro", Seq((dataManifest, 0, 1L)))
    val list2 = writeList("snap-2.avro",
      Seq((dataManifest, 0, 1L), (delManifest, 1, 2L)))

    def metaJson(extraSchema: String = "", fv: Int = 3,
        delList: String = list2): String =
      s"""{"format-version":$fv,"table-uuid":"f00dcafe-0000-0000-0000-000000000003",
         |"location":"$root","last-sequence-number":2,"last-updated-ms":2000,
         |"last-column-id":2,"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"s","required":false,"type":"string"}$extraSchema]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,"properties":{},
         |"next-row-id":6,
         |"current-snapshot-id":2,
         |"snapshots":[
         |  {"snapshot-id":1,"timestamp-ms":1000,"sequence-number":1,
         |   "first-row-id":0,"schema-id":0,
         |   "summary":{"operation":"append"},"manifest-list":"$list1"},
         |  {"snapshot-id":2,"timestamp-ms":2000,"sequence-number":2,
         |   "first-row-id":6,"schema-id":0,
         |   "summary":{"operation":"delete"},"manifest-list":"$delList"}],
         |"snapshot-log":[{"timestamp-ms":1000,"snapshot-id":1},
         |  {"timestamp-ms":2000,"snapshot-id":2}]}""".stripMargin
    Files.write(metaDir.resolve("v1.metadata.json"),
      metaJson().getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))

    // current read: the DV removes positions 1 and 3 of file A
    val cur = IcebergRead.read(spark, root.toString)
    assert(cur.select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L, 10L, 11L))
    // time travel to the pre-DV snapshot: all six rows
    val v1 = IcebergRead.read(spark, root.toString, versionAsOf = Some(1L))
    assert(v1.select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L, 10L, 11L))
    // SQL surface
    assert(GraftSql.exec(spark,
      s"SELECT count(*) AS n FROM iceberg_scan('$root')").head().getLong(0) === 4L)

    // REST-served v3 (the v1-fixture treatment): the wire-carried
    // metadata feeds the same v3 reader, DV applied
    locally {
      val cat = IcebergRestCatalog.start()
      try {
        cat.register("v3", "t", root.toString)
        assert(IcebergRead.readRest(spark, cat.uri, "v3", "t")
          .select("id").as[Long].collect().sorted.toSeq
          === Seq(1L, 3L, 10L, 11L))
      } finally cat.close()
    }

    // PARITY vs graft's own DV machinery: same rows, same deletes,
    // through a native LogTable deleteMor
    val gt = LogTable(spark, tmp("ice_v3_native_"))
    gt.append(Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w"),
      (10L, "p"), (11L, "q")).toDF("id", "s"))
    gt.deleteMor(col("id").isin(2L, 4L))
    assert(cur.select("id", "s").as[(Long, String)].collect().sorted.toSeq
      === gt.read().select("id", "s").as[(Long, String)].collect().sorted.toSeq)

    // import: the DV decodes into graft's native delete form; reads match
    val imp = IcebergImport.importTable(spark, root.toString, tmp("ice_v3_imp_"))
    assert(imp.read().select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L, 10L, 11L))

    // REFUSAL LADDER
    // format-version 4: refuse
    Files.write(metaDir.resolve("v1.metadata.json"),
      metaJson(fv = 4).getBytes("UTF-8"))
    val e4 = intercept[IllegalArgumentException](
      IcebergRead.read(spark, root.toString))
    assert(e4.getMessage.contains("format-version"))
    // a DV entry missing its spec-required coordinates: refuse
    val delBad = writeDeleteManifest("m-del-bad.avro", withCoords = false)
    val listBad = writeList("snap-2-bad.avro",
      Seq((dataManifest, 0, 1L), (delBad, 1, 2L)))
    Files.write(metaDir.resolve("v1.metadata.json"),
      metaJson(delList = listBad).getBytes("UTF-8"))
    val eDv = intercept[IllegalArgumentException](
      IcebergRead.read(spark, root.toString))
    assert(eDv.getMessage.contains("referenced_data_file"))
    // a TOP-LEVEL atomic initial-default READS: both files predate the
    // column, so every row fills the constant — through the spec
    // reader (DV still applied) AND iceberg_scan
    Files.write(metaDir.resolve("v1.metadata.json"), metaJson(extraSchema =
      """,{"id":3,"name":"d","required":false,"type":"int","initial-default":42}""")
      .getBytes("UTF-8"))
    val defRead = IcebergRead.read(spark, root.toString)
    assert(defRead.select("id", "d").as[(Long, Int)].collect().sorted.toSeq
      === Seq((1L, 42), (3L, 42), (10L, 42), (11L, 42)))
    assert(GraftSql.exec(spark,
      s"SELECT count(*) AS n FROM iceberg_scan('$root') WHERE d = 42")
      .head().getLong(0) === 4L)
    // import with a DV referencing the default-absent file refuses
    // (the rewrite cannot be proven to preserve row positions)
    val eImpDv = intercept[IllegalArgumentException](
      IcebergImport.importTable(spark, root.toString, tmp("ice_v3_dimp0_")))
    assert(eImpDv.getMessage.contains("rewrite"))
    // without positional state the defaulted table IMPORTS: the
    // default-absent files rewrite with the constant materialized,
    // and graft's own scan reads the same frame
    Files.write(metaDir.resolve("v1.metadata.json"), metaJson(extraSchema =
      """,{"id":3,"name":"d","required":false,"type":"int","initial-default":42}""",
      delList = list1).getBytes("UTF-8"))
    val impDef = IcebergImport.importTable(spark, root.toString,
      tmp("ice_v3_dimp_"))
    assert(impDef.read().select("id", "d").as[(Long, Int)]
      .collect().sorted.toSeq
      === Seq((1L, 42), (2L, 42), (3L, 42), (4L, 42),
        (10L, 42), (11L, 42)))
    // a default whose type this reader can't decode exactly: refuse
    Files.write(metaDir.resolve("v1.metadata.json"), metaJson(extraSchema =
      """,{"id":4,"name":"dd","required":false,"type":"decimal(10,2)","initial-default":"1.00"}""")
      .getBytes("UTF-8"))
    val eDef = intercept[IllegalArgumentException](
      IcebergRead.read(spark, root.toString))
    assert(eDef.getMessage.contains("initial-default"))
    // a NESTED member default: refuse (fill is top-level only)
    Files.write(metaDir.resolve("v1.metadata.json"), metaJson(extraSchema =
      """,{"id":5,"name":"st","required":false,"type":{"type":"struct","fields":[
        |{"id":6,"name":"m","required":false,"type":"int","initial-default":7}]}}"""
        .stripMargin).getBytes("UTF-8"))
    val eNest = intercept[IllegalArgumentException](
      IcebergRead.read(spark, root.toString))
    assert(eNest.getMessage.contains("initial-default"))
    // a v3-only type with no Spark equivalent (geometry): refuse
    // (variant now READS — covered by its own fixture test)
    Files.write(metaDir.resolve("v1.metadata.json"), metaJson(extraSchema =
      """,{"id":3,"name":"v","required":false,"type":"geometry"}""")
      .getBytes("UTF-8"))
    val eVar = intercept[IllegalArgumentException](
      IcebergRead.read(spark, root.toString))
    assert(eVar.getMessage.contains("unsupported type"))
    // restore the good metadata (hygiene for any later reads)
    Files.write(metaDir.resolve("v1.metadata.json"),
      metaJson().getBytes("UTF-8"))
  }

  test("format-v3 EXPORT: deletion vectors as Puffin blobs (no position parquets), row lineage, read/time-travel/import parity, v2 default unchanged") {
    val t = LogTable(spark, tmp("ice_v3w_"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "s").coalesce(1))                 // v1: 4 rows
    t.deleteMor(col("id").isin(2L, 4L))             // v2: MoR marks only
    t.append(Seq((10L, "x"), (11L, "y")).toDF("id", "s").coalesce(1)) // v3
    val dest = tmp("ice_v3w_out_")
    IcebergExport.export(t, dest, history = true, formatVersion = 3)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    // metadata: format-version 3 + row lineage. first-row-id
    // watermarks: v1 starts at 0 (4 rows), the MoR delete adds no
    // files (watermark 4), v3's append starts at 4 (2 rows) → next 6
    val meta = mapper.readTree(Files.readAllBytes(
      java.nio.file.Paths.get(dest).resolve("metadata")
        .resolve("v1.metadata.json")))
    assert(meta.get("format-version").asInt() === 3)
    assert(meta.get("next-row-id").asLong() === 6L)
    val frows = meta.get("snapshots").elements().asScala
      .map(s => s.get("snapshot-id").asLong() ->
        s.get("first-row-id").asLong()).toMap
    assert(frows === Map(1L -> 0L, 2L -> 4L, 3L -> 4L))

    // the delete state is Puffin DVs — zero position-delete parquets
    val m = IcebergRead.load(dest)
    val posDels = m.deleteFiles.filter(_.content == 1)
    assert(posDels.nonEmpty && posDels.forall(_.dv.isDefined),
      "v3 export must carry deletion vectors, never position parquets")
    posDels.foreach(d => assert(d.path.endsWith(".puffin")))
    // the blob itself decodes to the two marked positions of file A
    val (ref, off, sz) = posDels.head.dv.get
    assert(PuffinDv.readRange(posDels.head.path, off, sz).length === 2)
    assert(m.entries.map(_.path).contains(ref),
      "the DV must reference an exported data file")

    // read parity vs graft (DV applied), time travel to pre-delete
    assert(IcebergRead.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq
      === t.read().select("id").as[Long].collect().sorted.toSeq)
    assert(IcebergRead.read(spark, dest, versionAsOf = Some(1L))
      .select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L))
    // import materializes the DVs back into graft's native form
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_v3w_imp_"))
    assert(imp.read().select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L, 10L, 11L))

    // the default export stays v2 with position-delete parquets
    val dest2 = tmp("ice_v3w_v2_")
    IcebergExport.export(t, dest2)
    val meta2 = mapper.readTree(Files.readAllBytes(
      java.nio.file.Paths.get(dest2).resolve("metadata")
        .resolve("v1.metadata.json")))
    assert(meta2.get("format-version").asInt() === 2)
    assert(meta2.get("next-row-id") == null)
    val m2 = IcebergRead.load(dest2)
    assert(m2.deleteFiles.filter(_.content == 1).forall(_.dv.isEmpty))
    // a bad version refuses
    val eV = intercept[IllegalArgumentException](
      IcebergExport.export(t, tmp("ice_v3w_bad_"), formatVersion = 4))
    assert(eV.getMessage.contains("format-version"))
  }

  test("format-v3 ROW LINEAGE reads: _row_id/_last_updated_sequence_number from explicit entry ids; stable across an append; DV gaps preserved") {
    val t = LogTable(spark, tmp("ice_v3lin_"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "s").coalesce(1))                 // v1: row ids 0..3
    t.deleteMor(col("id").isin(2L, 4L))             // v2: marks positions 1,3
    t.append(Seq((10L, "x"), (11L, "y")).toDF("id", "s").coalesce(1)) // v3: 4..5
    val dest = tmp("ice_v3lin_out_")
    IcebergExport.export(t, dest, history = true, formatVersion = 3)

    // current read: surviving rows carry the export-side assignment —
    // deleted rows leave ID GAPS (1 and 3), never re-assigned
    val cur = IcebergRead.read(spark, dest, withLineage = true)
      .select(col("id"), col("_row_id"), col("_last_updated_sequence_number"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(cur === Seq((1L, 0L, 1L), (3L, 2L, 1L),
      (10L, 4L, 3L), (11L, 5L, 3L)))
    // pre-delete snapshot: the full id range, same assignment
    val v1 = IcebergRead.read(spark, dest, versionAsOf = Some(1L),
        withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(v1 === Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
    // ID STABILITY across the append: every id visible in both reads
    // carries the same _row_id
    val curMap = cur.map(r => r._1 -> r._2).toMap
    v1.foreach { case (id, rid) =>
      curMap.get(id).foreach(c => assert(c === rid,
        s"row id of business key $id drifted $rid -> $c across the append"))
    }
    // the v3 manifest LIST carries the per-manifest first-row-id
    // watermark (spec field 520) — what inheritance-running readers
    // validate/consume even though our entries are explicit
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Files.readAllBytes(
      java.nio.file.Paths.get(dest).resolve("metadata")
        .resolve("v1.metadata.json")))
    val curList = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == 3L).get
      .get("manifest-list").asText()
    val r = org.apache.avro.file.DataFileReader.openReader(
      new java.io.File(curList),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val listRecs = try r.iterator().asScala.toList finally r.close()
    val dataRecs = listRecs.filter(_.get("content").asInstanceOf[Int] == 0)
    assert(dataRecs.nonEmpty)
    dataRecs.foreach(m => assert(m.get("first_row_id") != null,
      "v3 data manifests must carry the first-row-id watermark"))
    assert(dataRecs.map(_.get("first_row_id").asInstanceOf[Long]).min === 0L)
    // a v2 export reads NULL lineage (no recorded ids — never guessed)
    val dest2 = tmp("ice_v3lin_v2_")
    IcebergExport.export(t, dest2)
    val v2lin = IcebergRead.read(spark, dest2, withLineage = true)
    assert(v2lin.columns.contains("_row_id"))
    assert(v2lin.filter(col("_row_id").isNotNull).count() === 0L)
  }

  test("partition statistics export: spec schema + reserved field ids, per-snapshot registration, manifest-rollup parity; unpartitioned refuses; default export carries none") {
    val t = LogTable(spark, tmp("ice_pstats_"), partitionBy = Seq("lang"))
    t.append(Seq((1L, "en"), (2L, "en"), (3L, "de")).toDF("id", "lang"))
    t.append(Seq((4L, "en"), (5L, "fr")).toDF("id", "lang"))
    val dest = tmp("ice_pstats_out_")
    IcebergExport.export(t, dest, partitionStats = true)

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = om.readTree(Files.readAllBytes(Paths.get(dest)
      .resolve("metadata").resolve("v1.metadata.json")))
    val ps = meta.get("partition-statistics")
    assert(ps != null && ps.size() === 1)
    assert(ps.get(0).get("snapshot-id").asLong() === t.currentVersion)
    val statsPath = ps.get(0).get("statistics-path").asText()
    assert(Files.exists(Paths.get(statsPath)))
    assert(ps.get(0).get("file-size-in-bytes").asLong()
      === Files.size(Paths.get(statsPath)))

    // rollup parity: the stats file must equal an independent rollup
    // of the table's own per-file metadata
    val got = IcebergRead.partitionStats(spark, dest)
      .selectExpr("partition.lang AS lang", "spec_id",
        "data_record_count", "data_file_count",
        "total_data_file_size_in_bytes")
      .as[(String, Int, Long, Int, Long)].collect().sortBy(_._1).toSeq
    val expect = t.snapshot(t.currentVersion).files
      .groupBy(_.partitions("lang")).map { case (l, fs) =>
        (l, 0, fs.map(_.rows).sum, fs.size, fs.map(_.bytes).sum)
      }.toSeq.sortBy(_._1)
    assert(got === expect)
    assert(got.find(_._1 == "en").exists(r => r._3 === 3L && r._4 === 2))

    // the spec's RESERVED field ids ride the parquet footer (what a
    // foreign reader resolves columns by), partition members keep
    // their partition-field ids (1000+)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(statsPath),
      spark.sessionState.newHadoopConf())
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val msg = rdr.getFooter.getFileMetaData.getSchema
      val topIds = msg.getFields.asScala
        .map(f => f.getName -> f.getId.intValue()).toMap
      assert(topIds === Map("partition" -> 1, "spec_id" -> 2,
        "data_record_count" -> 3, "data_file_count" -> 4,
        "total_data_file_size_in_bytes" -> 5))
      val pGroup = msg.getFields.asScala
        .find(_.getName == "partition").get.asGroupType()
      assert(pGroup.getFields.asScala.map(f =>
        f.getName -> f.getId.intValue()).toMap === Map("lang" -> 1000))
    } finally rdr.close()

    // SQL surface: the same rollup as a table function
    val sqlGot = GraftSql.exec(spark,
      s"SELECT partition.lang AS lang, data_record_count " +
        s"FROM iceberg_partition_stats('$dest') ORDER BY lang")
      .as[(String, Long)].collect().toSeq
    assert(sqlGot === expect.map(e => (e._1, e._3)))

    // default export stays byte-stable: no partition-statistics key,
    // and the reader REFUSES rather than fabricating an empty frame
    val dest2 = tmp("ice_pstats_off_")
    IcebergExport.export(t, dest2)
    val meta2 = om.readTree(Files.readAllBytes(Paths.get(dest2)
      .resolve("metadata").resolve("v1.metadata.json")))
    assert(meta2.get("partition-statistics") == null)
    val eNone = intercept[IllegalArgumentException](
      IcebergRead.partitionStats(spark, dest2))
    assert(eNone.getMessage.contains("partition-statistics"))

    // unpartitioned: refuse at export (the snapshot summary already
    // carries the table totals)
    val u = LogTable(spark, tmp("ice_pstats_u_"))
    u.append(Seq((1L, "x")).toDF("id", "s"))
    val eU = intercept[IllegalArgumentException](
      IcebergExport.export(u, tmp("ice_pstats_u_out_"),
        partitionStats = true))
    assert(eU.getMessage.contains("partition statistics"))

    // SPEC EVOLUTION: files under two layouts roll up into the spec's
    // UNIFIED partition struct — a field outside a file's spec reads
    // null, and each row carries the spec_id its files bound to
    val e0 = LogTable(spark, tmp("ice_pstats_ev_"),
      partitionBy = Seq("lang"))
    e0.append(Seq((1L, "en", "web"), (2L, "de", "web"))
      .toDF("id", "lang", "src"))
    val ev = e0.evolveSpec(partitionBy = Seq("src"))
    ev.append(Seq((3L, "en", "book")).toDF("id", "lang", "src"))
    val dev = tmp("ice_pstats_ev_out_")
    IcebergExport.export(ev, dev, partitionStats = true)
    val st = IcebergRead.partitionStats(spark, dev)
      .selectExpr("partition.lang AS lang", "partition.src AS src",
        "spec_id", "data_record_count")
      .as[(Option[String], Option[String], Int, Long)]
      .collect().sortBy(r => (r._3, r._1, r._2)).toSeq
    assert(st === Seq(
      (Some("de"), None, 0, 1L),
      (Some("en"), None, 0, 1L),
      (None, Some("book"), 1, 1L)))
  }

  test("format-v3 VARIANT columns read as native VariantType (scan/SQL/REST); pre-add files null-fill; import adopts") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val root = Paths.get(tmp("ice_v3var_"))
    val dataDir = root.resolve("data"); Files.createDirectories(dataDir)
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)

    def onePart(dir: String): (String, Long) = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      (f.getAbsolutePath, f.length())
    }
    // file A predates the variant column (id only)
    val pA = dataDir.resolve("a").toString
    Seq(1L, 2L).toDF("id").coalesce(1).write.mode("overwrite").parquet(pA)
    val (fA, szA) = onePart(pA)
    // file B carries it — Spark's native parquet variant encoding,
    // which IS Iceberg v3's variant physical form
    val pB = dataDir.resolve("b").toString
    Seq(10L, 11L).toDF("id").coalesce(1)
      .withColumn("v", expr(
        """parse_json(concat('{"a":', id, ',"tag":"t', id, '"}'))"""))
      .write.mode("overwrite").parquet(pB)
    val (fB, szB) = onePart(pB)

    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    val manifest = metaDir.resolve("m-data.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, new java.io.File(manifest))
      try Seq((fA, szA), (fB, szB)).foreach { case (p, sz) =>
        val part = new GenericData.Record(entrySchema.getField("data_file")
          .schema().getField("partition").schema())
        val df = new GenericData.Record(entrySchema.getField("data_file").schema())
        df.put("content", 0); df.put("file_path", p)
        df.put("file_format", "PARQUET"); df.put("partition", part)
        df.put("record_count", 2L); df.put("file_size_in_bytes", sz)
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1); e.put("snapshot_id", 1L)
        e.put("sequence_number", 1L); e.put("data_file", df)
        w.append(e)
      } finally w.close()
    }
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    val list1 = metaDir.resolve("snap-1.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, new java.io.File(list1))
      try {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", manifest)
        r.put("manifest_length", Files.size(Paths.get(manifest)))
        r.put("partition_spec_id", 0); r.put("content", 0)
        r.put("sequence_number", 1L); r.put("added_snapshot_id", 1L)
        w.append(r); ()
      } finally w.close()
    }
    Files.write(metaDir.resolve("v1.metadata.json"),
      s"""{"format-version":3,"table-uuid":"f00dcafe-0000-0000-0000-00000000000a",
         |"location":"$root","last-sequence-number":1,"last-updated-ms":1000,
         |"last-column-id":2,"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"variant"}]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,"properties":{},
         |"current-snapshot-id":1,
         |"snapshots":[
         |  {"snapshot-id":1,"timestamp-ms":1000,"sequence-number":1,
         |   "schema-id":0,"summary":{"operation":"append"},
         |   "manifest-list":"$list1"}],
         |"snapshot-log":[{"timestamp-ms":1000,"snapshot-id":1}]}"""
        .stripMargin.getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))

    // spec read: native VariantType, values query through variant_get,
    // pre-add file A rows read null (never a fake empty variant)
    val df = IcebergRead.read(spark, root.toString)
    assert(df.schema("v").dataType ===
      org.apache.spark.sql.types.VariantType)
    val got = df.selectExpr("id",
      "variant_get(v, '$.a', 'long') AS a",
      "variant_get(v, '$.tag', 'string') AS tag")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, None, None), (2L, None, None),
      (10L, Some(10L), Some("t10")), (11L, Some(11L), Some("t11"))))

    // SQL surface: iceberg_scan serves the variant column
    assert(GraftSql.exec(spark,
      s"SELECT count(*) AS n FROM iceberg_scan('$root') " +
        "WHERE variant_get(v, '$.a', 'long') IS NOT NULL")
      .head().getLong(0) === 2L)

    // REST-served read: same frame over the wire-carried metadata
    locally {
      val cat = IcebergRestCatalog.start()
      try {
        cat.register("v3v", "t", root.toString)
        val rest = IcebergRead.readRest(spark, cat.uri, "v3v", "t")
          .selectExpr("id", "variant_get(v, '$.a', 'long') AS a")
          .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
        assert(rest === Seq((1L, None), (2L, None),
          (10L, Some(10L)), (11L, Some(11L))))
      } finally cat.close()
    }

    // import ADOPTS variant as a first-class graft column: same rows
    // through graft's own reader, pre-add files still null
    val imp = IcebergImport.importTable(spark, root.toString,
      tmp("ice_v3var_imp_"))
    val impGot = imp.read().selectExpr("id",
      "variant_get(v, '$.a', 'long') AS a")
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(impGot === Seq((1L, None), (2L, None),
      (10L, Some(10L)), (11L, Some(11L))))
  }

  test("variant as a first-class graft column: append/read/COW-delete/compact; v3 export round-trip; v2 export refuses") {
    val t = LogTable(spark, tmp("ice_var_native_"))
    t.append(Seq((1L, """{"a":1,"tag":"x"}"""), (2L, """{"a":2,"tag":"y"}"""),
      (3L, """{"a":3,"tag":"z"}"""))
      .toDF("id", "j")
      .select(col("id"), expr("parse_json(j)").as("v")))
    def vals(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
      df.selectExpr("id", "variant_get(v, '$.a', 'long') AS a",
        "variant_get(v, '$.tag', 'string') AS tag")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(vals(t.read()) === Seq((1L, 1L, "x"), (2L, 2L, "y"), (3L, 3L, "z")))
    // COW delete rewrites files carrying variant rows
    t.delete(col("id") === 2L)
    assert(vals(t.read()) === Seq((1L, 1L, "x"), (3L, 3L, "z")))
    t.compact()
    assert(vals(t.read()) === Seq((1L, 1L, "x"), (3L, 3L, "z")))
    // v2 export refuses: variant is spec-illegal below format v3
    val e2 = intercept[IllegalArgumentException](
      IcebergExport.export(t, tmp("ice_var_v2_")))
    assert(e2.getMessage.contains("format-version 3"))
    // v3 export → spec reader parity → import back to graft
    val dest = tmp("ice_var_v3_")
    IcebergExport.export(t, dest, formatVersion = 3)
    val spec = IcebergRead.read(spark, dest)
    assert(vals(spec) === Seq((1L, 1L, "x"), (3L, 3L, "z")))
    val back = IcebergImport.importTable(spark, dest, tmp("ice_var_back_"))
    assert(vals(back.read()) === Seq((1L, 1L, "x"), (3L, 3L, "z")))
  }

  test("format-v3 ROW LINEAGE inheritance: null entry ids derive from the manifest list's first_row_id + preceding ADDED record counts") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val root = Paths.get(tmp("ice_v3inh_"))
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)
    val dataDir = root.resolve("data"); Files.createDirectories(dataDir)
    def writeData(name: String, rows: Seq[(Long, String)]): (String, Long) = {
      val p = dataDir.resolve(name).toString
      rows.toDF("id", "s").coalesce(1).write.mode("overwrite").parquet(p)
      val f = new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      (f.getAbsolutePath, f.length())
    }
    val (fA, szA) = writeData("a", Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w")))
    val (fB, szB) = writeData("b", Seq((10L, "p"), (11L, "q")))
    // entries with NULL first_row_id — the inheritance path
    val dataSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"first_row_id","type":["null","long"],"default":null}
        |]}}]}""".stripMargin)
    val dataManifest = metaDir.resolve("m-data.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](dataSchema))
      w.create(dataSchema, new java.io.File(dataManifest))
      try Seq((fA, 4L, szA), (fB, 2L, szB)).foreach { case (p, rows, sz) =>
        val part = new GenericData.Record(dataSchema.getField("data_file")
          .schema().getField("partition").schema())
        val df = new GenericData.Record(dataSchema.getField("data_file").schema())
        df.put("content", 0); df.put("file_path", p)
        df.put("file_format", "PARQUET"); df.put("partition", part)
        df.put("record_count", rows); df.put("file_size_in_bytes", sz)
        // first_row_id left NULL: inherit
        val e = new GenericData.Record(dataSchema)
        e.put("status", 1); e.put("snapshot_id", 1L)
        e.put("sequence_number", 1L); e.put("data_file", df)
        w.append(e)
      } finally w.close()
    }
    // manifest list WITH first_row_id = 100 (the inheritance base)
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null},
        |{"name":"first_row_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    val list1 = metaDir.resolve("snap-1.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, new java.io.File(list1))
      try {
        val m = new GenericData.Record(listSchema)
        m.put("manifest_path", dataManifest)
        m.put("manifest_length", Files.size(Paths.get(dataManifest)))
        m.put("partition_spec_id", 0); m.put("content", 0)
        m.put("sequence_number", 1L); m.put("added_snapshot_id", 1L)
        m.put("first_row_id", 100L)
        w.append(m)
        ()
      } finally w.close()
    }
    Files.write(metaDir.resolve("v1.metadata.json"),
      s"""{"format-version":3,"table-uuid":"f00dcafe-0000-0000-0000-00000000inh1",
         |"location":"$root","last-sequence-number":1,"last-updated-ms":1000,
         |"last-column-id":2,"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"s","required":false,"type":"string"}]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,"properties":{},
         |"next-row-id":106,
         |"current-snapshot-id":1,
         |"snapshots":[
         |  {"snapshot-id":1,"timestamp-ms":1000,"sequence-number":1,
         |   "first-row-id":100,"schema-id":0,
         |   "summary":{"operation":"append"},"manifest-list":"$list1"}],
         |"snapshot-log":[{"timestamp-ms":1000,"snapshot-id":1}]}"""
        .stripMargin.getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))
    // fA (4 rows) inherits 100, fB inherits 100+4=104 — the spec's
    // preceding-ADDED-record-count arithmetic
    val rows = IcebergRead.read(spark, root.toString, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, 100L), (2L, 101L), (3L, 102L), (4L, 103L),
      (10L, 104L), (11L, 105L)))
  }

  test("format-v3 EXPORT shards DV Puffin assembly onto executors: >1 *-deletes.puffin, one blob per marked file, read/import parity") {
    // many-file table with a mark in EVERY file: the sharded DV writer
    // (one executor-written Puffin file per ~8 marked data files) must
    // emit MULTIPLE puffin files — the pre-sharded code collected every
    // compressed payload to the driver and assembled exactly ONE, so
    // puffin-file count > 1 is the structural witness the distributed
    // path ran; the driver-held state is the coordinate tuples the
    // manifest entries record, each of which must decode back to its
    // file's exact marks.
    val t = LogTable(spark, tmp("ice_v3shard_"))
    (0 until 24).foreach(c =>
      t.append(Seq((c.toLong * 10, s"f$c"), (c.toLong * 10 + 1, s"g$c"))
        .toDF("id", "s").coalesce(1)))
    t.deleteMor(col("id") % 10 === 1L) // one mark per file
    val live = sortedRows(t.read())
    val nFiles = t.snapshot().files.size
    val dest = tmp("ice_v3shard_out_")
    IcebergExport.export(t, dest, formatVersion = 3)

    val m = IcebergRead.load(dest)
    val dvEntries = m.deleteFiles.filter(_.dv.isDefined)
    // one DV entry per marked data file, all coordinates resolvable
    assert(dvEntries.size === nFiles)
    val puffins = dvEntries.map(_.path).distinct
    val maxShards = (nFiles + 7) / 8
    assert(puffins.size > 1 && puffins.size <= maxShards,
      s"expected 2..$maxShards sharded puffin files over $nFiles marked " +
        s"files, got ${puffins.size}")
    puffins.foreach(p => assert(p.endsWith("-deletes.puffin")))
    // every blob decodes to exactly its file's one mark, addressed by
    // the manifest coordinates alone (range reads, never whole-file)
    dvEntries.foreach { d =>
      val (ref, off, sz) = d.dv.get
      val ps = PuffinDv.readRange(d.path, off, sz)
      assert(ps.length === 1L, s"one mark per file, got ${ps.toSeq} for $ref")
      assert(d.rows === 1L)
    }
    // read + import parity against the live table
    assert(sortedRows(IcebergRead.read(spark, dest)) === live)
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_v3shard_imp_"))
    assert(sortedRows(imp.read()) === live)
  }

  test("stat-adoption guard: int bounds decode 4-byte LE, long must be 8 bytes, non-ASCII/oversize string bounds are refused (absence never prunes)") {
    import org.apache.spark.sql.types._
    def le(v: Long, n: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (n == 4) b.putInt(v.toInt) else b.putLong(v)
      b.array()
    }
    def u(s: String): Array[Byte] = s.getBytes("UTF-8")
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("s", StringType), StructField("emoji", StringType),
      StructField("big", StringType)))
    val names = Map(1 -> "i", 2 -> "l", 3 -> "s", 4 -> "emoji", 5 -> "big")
    val (ranges, strRanges) = IcebergImport.adoptedStats(
      lowerBounds = Map(1 -> le(10, 4), 2 -> le(5, 4), 3 -> u("apple"),
        4 -> u("a"), 5 -> u("x")),
      upperBounds = Map(1 -> le(99, 4), 2 -> le(7, 4), 3 -> u("zebra"),
        4 -> u("😀"), 5 -> u("y" * 70)),
      fieldNameById = names, schema = schema)
    // spec-conformant int single-value form (4-byte LE) adopts exactly
    assert(ranges.get("i").contains((10L, 99L)))
    // a long bound NOT in the full 8-byte form is refused, not guessed
    assert(!ranges.contains("l"))
    // pure-ASCII ≤64-byte string bounds adopt (Java order == byte order)
    assert(strRanges.get("s").contains(("apple", "zebra")))
    // an emoji upper bound is UTF-8-byte-ordered, which diverges from
    // the Java-order pruners compare in — refused (would mis-prune a
    // file whose UTF-16-max is a BMP char above the emoji)
    assert(!strRanges.contains("emoji"))
    // >64-byte bounds violate the strRanges invariant — refused
    assert(!strRanges.contains("big"))
  }

  test("int-typed columns cross the stats seam in the spec's 4-byte form and prune after import") {
    val t = LogTable(spark, tmp("ice_int_"))
    t.append(Seq((1, "a"), (5, "b")).toDF("n", "s").coalesce(1))
    t.append(Seq((100, "c"), (200, "d")).toDF("n", "s").coalesce(1))
    val dest = tmp("ice_int_out_")
    IcebergExport.export(t, dest)
    val m = IcebergRead.load(dest)
    val nF = m.fieldNameById.find(_._2 == "n").get._1
    m.entries.foreach { e =>
      assert(e.lowerBounds(nF).length === 4,
        "an `int` field's single-value bound must serialize as 4-byte LE " +
          "(spec-strict foreign readers reject 8-byte forms)")
      assert(e.upperBounds(nF).length === 4)
    }
    def le4(b: Array[Byte]): Int = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()
    assert(m.entries.map(e => le4(e.lowerBounds(nF))).sorted === Seq(1, 100))
    // import adopts the 4-byte form and stat-prunes immediately
    val imp = IcebergImport.importTable(spark, dest, tmp("ice_int_imp_"))
    assert(imp.stats().files.forall(_.ranges.contains("n")))
    assert(imp.filesInRange("n", 150L, 300L).size === 1,
      "imported int bounds must skip the 1-5 file for a 150-300 window")
  }

  test("manifest-list string partition bounds are picked in UNSIGNED UTF-8 byte order, not Java UTF-16 order") {
    // byte order: "😀" (F0 9F 98 80) > "￿" (EF BF BF) > "a";
    // Java UTF-16 order: "￿" (0xFFFF) > "😀" (leads 0xD83D) > "a".
    // A foreign engine compares the emitted bounds in BYTE order — the
    // max must be the emoji or a manifest holding it gets skipped.
    val (mn, mx) = IcebergExport.utf8MinMax(Seq("￿", "😀", "a"))
    assert(new String(mn, "UTF-8") === "a")
    assert(new String(mx, "UTF-8") === "😀",
      "byte-order max must be the emoji (Java String max would be \\uffff)")
    // prefix rule: shorter string that is a prefix sorts first
    val (pmn, pmx) = IcebergExport.utf8MinMax(Seq("abc", "ab"))
    assert(new String(pmn, "UTF-8") === "ab" &&
      new String(pmx, "UTF-8") === "abc")
  }

  test("v3 SHREDDED variant: a physically shredded foreign data file reads EXACTLY through the spec reader, SQL, REST, and import") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

    val root = Paths.get(tmp("ice_v3_shred_"))
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)
    val dataDir = root.resolve("data"); Files.createDirectories(dataDir)

    // 1. the data file, written by Spark's OWN shredding writer: the
    //    parquet variant-shredding layout (per-field typed_value
    //    subcolumns next to the residual value binary) — what an
    //    Iceberg-blessed shredding engine physically produces
    val stage = dataDir.resolve("shred").toString
    spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    spark.conf.set("spark.sql.variant.forceShreddingSchemaForTest",
      "a long, b string")
    try {
      spark.range(4).selectExpr("id",
        """parse_json(format_string('{"a": %d, "b": "x%d"}', id, id)) AS v""")
        .coalesce(1).write.mode("overwrite").parquet(stage)
    } finally {
      spark.conf.unset("spark.sql.variant.writeShredding.enabled")
      spark.conf.unset("spark.sql.variant.forceShreddingSchemaForTest")
    }
    val dataFile = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head

    // 2. prove the fixture IS shredded: the footer schema must carry
    //    typed_value subcolumns under the VARIANT-annotated group (a
    //    twin-binary file would make this test vacuous)
    val pr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile.toString),
        new org.apache.hadoop.conf.Configuration()))
    val pSchema = try pr.getFooter.getFileMetaData.getSchema.toString
      finally pr.close()
    assert(pSchema.contains("typed_value"), s"fixture not shredded:\n$pSchema")
    assert(pSchema.contains("VARIANT"), s"variant annotation missing:\n$pSchema")

    // 3. hand-author the v3 table around it (schema: id long, v variant)
    val dataSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"first_row_id","type":["null","long"],"default":null}
        |]}}]}""".stripMargin)
    val manifest = metaDir.resolve("m-data.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](dataSchema))
      w.create(dataSchema, new java.io.File(manifest))
      try {
        val part = new GenericData.Record(dataSchema.getField("data_file")
          .schema().getField("partition").schema())
        val df = new GenericData.Record(dataSchema.getField("data_file").schema())
        df.put("content", 0); df.put("file_path", dataFile.getAbsolutePath)
        df.put("file_format", "PARQUET"); df.put("partition", part)
        df.put("record_count", 4L)
        df.put("file_size_in_bytes", dataFile.length())
        df.put("first_row_id", 0L)
        val e = new GenericData.Record(dataSchema)
        e.put("status", 1); e.put("snapshot_id", 1L)
        e.put("sequence_number", 1L); e.put("data_file", df)
        w.append(e)
      } finally w.close()
    }
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    val list1 = metaDir.resolve("snap-1.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, new java.io.File(list1))
      try {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", manifest)
        r.put("manifest_length", Files.size(Paths.get(manifest)))
        r.put("partition_spec_id", 0); r.put("content", 0)
        r.put("sequence_number", 1L); r.put("added_snapshot_id", 1L)
        w.append(r)
        ()
      } finally w.close()
    }
    Files.write(metaDir.resolve("v1.metadata.json"),
      s"""{"format-version":3,"table-uuid":"f00dcafe-0000-0000-0000-00000000shre",
         |"location":"$root","last-sequence-number":1,"last-updated-ms":1000,
         |"last-column-id":2,"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"variant"}]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,"properties":{},
         |"next-row-id":4,
         |"current-snapshot-id":1,
         |"snapshots":[
         |  {"snapshot-id":1,"timestamp-ms":1000,"sequence-number":1,
         |   "first-row-id":0,"schema-id":0,
         |   "summary":{"operation":"append"},"manifest-list":"$list1"}],
         |"snapshot-log":[{"timestamp-ms":1000,"snapshot-id":1}]}"""
        .stripMargin.getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))

    val expect = (0L until 4L).map(i => (i, i, s"x$i")).toSeq
    def census(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
      df.selectExpr("id", "variant_get(v, '$.a', 'long') AS a",
        "variant_get(v, '$.b', 'string') AS b")
        .as[(Long, Long, String)].collect().sorted.toSeq

    // 4. the spec reader rebuilds EXACT values from the shredded layout
    assert(census(IcebergRead.read(spark, root.toString)) === expect)
    // ...through SQL (iceberg_scan + variant_get pushes into the scan)
    assert(GraftSql.exec(spark,
      "SELECT count(*) AS n FROM iceberg_scan('" + root + "') " +
        "WHERE variant_get(v, '$.a', 'long') >= 2").head().getLong(0) === 2L)
    // ...over REST (wire metadata, same reader)
    locally {
      val cat = IcebergRestCatalog.start()
      try {
        cat.register("shred", "t", root.toString)
        assert(census(IcebergRead.readRest(spark, cat.uri, "shred", "t"))
          === expect)
      } finally cat.close()
    }
    // ...and a graft-native import adopts the column: the shredded
    // file reads through graft's own scan as first-class variant
    val imp = IcebergImport.importTable(spark, root.toString,
      tmp("ice_v3_shred_imp_"))
    assert(census(imp.read()) === expect)
  }

  test("write.variant.shredding pins the VARIANT physical layout; default shreds; mixed layouts, COW rewrites and v3 export stay exact") {
    def isShredded(path: String): Boolean = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getFileMetaData.getSchema.toString.contains("typed_value")
      finally r.close()
    }
    def rows(ids: Seq[Long]) = spark.range(1).selectExpr(
        s"explode(array(${ids.mkString(",")})) AS id",
        "0 AS z").selectExpr("id",
      """parse_json(format_string('{"a": %d, "b": "x%d"}', id, id)) AS v""")
      .coalesce(1)
    val t = LogTable(spark, tmp("lt_vshred_"))
    // validation: only true/false
    intercept[IllegalArgumentException](
      t.setProperties(Map(LogTable.VariantShredProp -> "maybe")))
    // 1. ENGINE DEFAULT, pinned: Spark 4's writer shreds variant —
    //    the layout the library's variant lifecycle has been storing
    //    all along (lake_variant's green hash covers shredded files)
    t.append(rows(0L until 6L))
    assert(t.snapshot().files.forall(f => isShredded(f.path)),
      "the engine default must shred (if this moved, re-pin the docs)")
    def census(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
      df.selectExpr("id", "variant_get(v, '$.a', 'long') AS a",
        "variant_get(v, '$.b', 'string') AS b")
        .as[(Long, Long, String)].collect().sorted.toSeq
    assert(census(t.read()) === (0L until 6L).map(i => (i, i, s"x$i")))
    // 2. property=false forces the TWIN-BINARY layout (readers that
    //    predate shredding); old files keep theirs — a mixed table
    t.setProperties(Map(LogTable.VariantShredProp -> "false"))
    t.append(rows(Seq(10L, 11L)))
    val byLayout = t.snapshot().files.map(f => isShredded(f.path)).toSet
    assert(byLayout === Set(true, false), "expected a mixed-layout table")
    assert(census(t.read()) ===
      ((0L until 6L) ++ Seq(10L, 11L)).map(i => (i, i, s"x$i")))
    // the wrap restores the session confs it touched
    assert(spark.conf.get("spark.sql.variant.writeShredding.enabled") !== "false")
    // 3. property=true pins shredding; a COW delete THROUGH the
    //    variant rewrites shredded and stays exact
    t.setProperties(Map(LogTable.VariantShredProp -> "true"))
    t.delete(org.apache.spark.sql.functions.expr(
      "variant_get(v, '$.a', 'long') = 2"))
    assert(census(t.read()) ===
      (Seq(0L, 1L, 3L, 4L, 5L) ++ Seq(10L, 11L)).map(i => (i, i, s"x$i")))
    // 4. v3 export serves the mixed files; the independent spec
    //    reader rebuilds identical values
    val dest = tmp("lt_vshred_ice_")
    IcebergExport.export(t, dest, formatVersion = 3)
    assert(census(IcebergRead.read(spark, dest)) === census(t.read()))
  }

  test("shredded-stat pruning: variant_get pushes into the scan as typed_value subcolumn reads + pushed filters") {
    // Spark's pushVariantIntoScan (default on) rewrites variant_get
    // over a shredded file into struct subcolumn accesses: the scan's
    // ReadSchema narrows to the requested typed_value fields (never
    // the full binary) and the equality lands in PushedFilters, where
    // parquet row-group stats on the shredded subcolumn prune I/O —
    // the "shredded-stat pruning" tier, inherited and here PINNED
    // through graft's OWN read paths.
    val t = LogTable(spark, tmp("lt_vpush_"))
    t.append(spark.range(100).selectExpr("id",
      """parse_json(format_string('{"a": %d, "b": "x%d"}', id, id)) AS v""")
      .coalesce(2))
    def probe(df: org.apache.spark.sql.DataFrame): Unit = {
      val q = df.filter(org.apache.spark.sql.functions.expr(
          "variant_get(v, '$.a', 'long') = 7"))
        .selectExpr("id", "variant_get(v, '$.b', 'string') AS b")
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters: [IsNotNull(v), EqualTo(v."),
        s"variant_get equality must reach PushedFilters:\n${p.take(1200)}")
      assert("ReadSchema:[^\n]*v:struct<".r.findFirstIn(p).nonEmpty,
        s"ReadSchema must narrow to typed_value subcolumns:\n${p.take(1200)}")
      assert(q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((7L, "x7")))
    }
    probe(t.read()) // graft-native scan
    val dest = tmp("lt_vpush_ice_")
    IcebergExport.export(t, dest, formatVersion = 3)
    probe(IcebergRead.read(spark, dest)) // independent spec reader
  }

  test("import ADOPTS v3 row lineage: _row_id continuity survives the migration exactly; partial lineage refuses") {
    // source: a graft table with two lineage epochs, exported v3
    val t = LogTable(spark, tmp("ice_lin_src_"))
    t.append((0L until 30L).map(i => (i, i * 2)).toDF("id", "v"))
    t.append((30L until 50L).map(i => (i, i * 2)).toDF("id", "v"))
    val ice = tmp("ice_lin_out_")
    IcebergExport.export(t, ice, history = true, formatVersion = 3)
    val before = IcebergRead.read(spark, ice, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(before.size === 50)
    assert(before.values.toSeq.distinct.size === 50, "ids must be unique")

    // import: per-file first_row_id adopts into graft metadata, the
    // next-row-id watermark into table props
    val imp = IcebergImport.importTable(spark, ice, tmp("ice_lin_dest_"))
    assert(imp.snapshot().files.nonEmpty)
    assert(imp.snapshot().files.forall(_.firstRowId.isDefined),
      "adopted files must carry the foreign first_row_id")
    assert(imp.properties(LogTable.NextRowIdProp).toLong === 50L)

    // re-export the IMPORTED table: every row's _row_id is the
    // foreign assignment, verbatim
    val ice2 = tmp("ice_lin_out2_")
    IcebergExport.export(imp, ice2, formatVersion = 3)
    val after = IcebergRead.read(spark, ice2, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(after === before, "_row_id continuity lost across import")

    // post-import appends take FRESH ids from beyond the adopted
    // watermark — never colliding with an adopted range
    imp.append(Seq((100L, 1L), (101L, 2L)).toDF("id", "v"))
    val ice3 = tmp("ice_lin_out3_")
    IcebergExport.export(imp, ice3, formatVersion = 3)
    val grown = IcebergRead.read(spark, ice3, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(grown.filter(_._1 < 100L) === before)
    assert(Seq(100L, 101L).flatMap(grown.get).forall(_ >= 50L),
      "fresh rows must be assigned beyond the adopted watermark")
    assert(grown.values.toSeq.distinct.size === grown.size)

    // REFUSAL: a v3 snapshot where only SOME entries carry lineage
    // has no exact adoption — a hand-built foreign table, one entry
    // with first_row_id, one null
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val root = Paths.get(tmp("ice_lin_mixed_"))
    val metaDir = root.resolve("metadata"); Files.createDirectories(metaDir)
    val dataDir = root.resolve("data"); Files.createDirectories(dataDir)
    def writeData(name: String, rows: Seq[(Long, String)]): (String, Long) = {
      val p = dataDir.resolve(name).toString
      rows.toDF("id", "s").coalesce(1).write.mode("overwrite").parquet(p)
      val f = new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      (f.getAbsolutePath, f.length())
    }
    val (fA, szA) = writeData("a", Seq((1L, "x"), (2L, "y")))
    val (fB, szB) = writeData("b", Seq((10L, "p")))
    val dataSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"first_row_id","type":["null","long"],"default":null}
        |]}}]}""".stripMargin)
    val dataManifest = metaDir.resolve("m-data.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](dataSchema))
      w.create(dataSchema, new java.io.File(dataManifest))
      try Seq((fA, 2L, szA, Some(0L)), (fB, 1L, szB, None)).foreach {
        case (p, rows, sz, firstRow) =>
          val part = new GenericData.Record(dataSchema.getField("data_file")
            .schema().getField("partition").schema())
          val df = new GenericData.Record(dataSchema.getField("data_file").schema())
          df.put("content", 0); df.put("file_path", p)
          df.put("file_format", "PARQUET"); df.put("partition", part)
          df.put("record_count", rows); df.put("file_size_in_bytes", sz)
          firstRow.foreach(fr => df.put("first_row_id", fr))
          val e = new GenericData.Record(dataSchema)
          e.put("status", 1); e.put("snapshot_id", 1L)
          e.put("sequence_number", 1L); e.put("data_file", df)
          w.append(e)
      } finally w.close()
    }
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    val list1 = metaDir.resolve("snap-1.avro").toString
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.create(listSchema, new java.io.File(list1))
      try {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", dataManifest)
        r.put("manifest_length", Files.size(Paths.get(dataManifest)))
        r.put("partition_spec_id", 0); r.put("content", 0)
        r.put("sequence_number", 1L); r.put("added_snapshot_id", 1L)
        w.append(r)
        ()
      } finally w.close()
    }
    Files.write(metaDir.resolve("v1.metadata.json"),
      s"""{"format-version":3,"table-uuid":"f00dcafe-0000-0000-0000-00000000001a",
         |"location":"$root","last-sequence-number":1,"last-updated-ms":1000,
         |"last-column-id":2,"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"s","required":false,"type":"string"}]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,"properties":{},
         |"next-row-id":2,
         |"current-snapshot-id":1,
         |"snapshots":[
         |  {"snapshot-id":1,"timestamp-ms":1000,"sequence-number":1,
         |   "first-row-id":0,"schema-id":0,
         |   "summary":{"operation":"append"},"manifest-list":"$list1"}],
         |"snapshot-log":[{"timestamp-ms":1000,"snapshot-id":1}]}""".stripMargin
        .getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.text"), "1".getBytes("UTF-8"))
    val eMix = intercept[IllegalArgumentException](
      IcebergImport.importTable(spark, root.toString, tmp("ice_lin_mixed_dest_")))
    assert(eMix.getMessage.contains("row lineage"))

    // MOR surfaces PRESERVE ids for free (DVs mark positions,
    // physical rows never move)
    imp.deleteMor(col("id") < 5L)
    val ice4 = tmp("ice_lin_out4_")
    IcebergExport.export(imp, ice4, formatVersion = 3)
    val afterMor = IcebergRead.read(spark, ice4, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(afterMor.keySet === grown.keySet.filter(k => k >= 5L))
    assert(afterMor.forall { case (id, rid) => grown(id) == rid },
      "MOR delete must not move surviving rows' _row_id")

    // REWRITES PRESERVE (the v3 spec's rewrite rule): compact folds
    // the MoR marks in and MATERIALIZES every surviving row's
    // _row_id into the rewritten file — the next export serves the
    // adopted rows' ids IDENTICALLY. The two post-import append rows
    // never had adopted lineage; their ids stay export-assigned
    // (fresh block, unique, beyond the watermark) — only ADOPTED/
    // materialized continuity is the stability contract.
    imp.compact(smallBytes = Long.MaxValue)
    assert(imp.snapshot().files.exists(_.matLineage),
      "compacted lineage outputs must be flagged materialized")
    val ice5 = tmp("ice_lin_out5_")
    IcebergExport.export(imp, ice5, formatVersion = 3)
    val afterCompact = IcebergRead.read(spark, ice5, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    val adoptedIds = (m: Map[Long, Long]) => m.filter(_._1 < 100L)
    assert(adoptedIds(afterCompact) === adoptedIds(afterMor),
      "compact must not re-id adopted surviving rows")
    assert(afterCompact.values.toSeq.distinct.size === afterCompact.size)
    assert(Seq(100L, 101L).flatMap(afterCompact.get).forall(_ >= 50L),
      "non-lineage rows still assign beyond the adopted watermark")

    // COW delete on the MATERIALIZED file: the second-generation
    // rewrite reads the STORED ids back and carries them — survivors
    // keep their ids through delete-after-compact
    imp.delete(col("id") >= 40L && col("id") < 45L)
    val ice6 = tmp("ice_lin_out6_")
    IcebergExport.export(imp, ice6, formatVersion = 3)
    val afterDel = IcebergRead.read(spark, ice6, withLineage = true)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(adoptedIds(afterDel) ===
      adoptedIds(afterCompact).filter { case (id, _) => id < 40L || id >= 45L },
      "COW delete must not re-id adopted surviving rows")

    // catalog-SQL row-level ops CANNOT thread _row_id through
    // Spark's ReplaceData job — they refuse with guidance instead of
    // silently re-idding (the Scala COW surfaces above are the path)
    // [exercised in GraftSqlSpec-adjacent coverage via
    // commitReplaceGroups' guard — here we assert the Scala surfaces
    // kept the continuity, which is the user-visible contract]

    // ESCAPE HATCH: dropLineage() now also PHYSICALLY strips the
    // materialized columns (a spec reader resolves stored ids by
    // reserved field id regardless of graft metadata — leaving them
    // next to fresh export assignments would serve duplicate ids);
    // the next export assigns fresh, self-consistent ids
    imp.dropLineage()
    assert(!imp.properties.contains(LogTable.NextRowIdProp))
    assert(imp.snapshot().files.forall(f =>
      f.firstRowId.isEmpty && !f.matLineage))
    imp.compact(smallBytes = Long.MaxValue)
    val ice7 = tmp("ice_lin_out7_")
    IcebergExport.export(imp, ice7, formatVersion = 3)
    val fresh = IcebergRead.read(spark, ice7, withLineage = true)
      .select(col("_row_id")).as[Long].collect()
    assert(fresh.length === fresh.distinct.length)
    assert(fresh.sorted.toSeq === (0L until fresh.length).toSeq,
      "post-drop export must assign a fresh dense id space from 0")
  }
}
