package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

import java.nio.file.Files

/** The catalog plugin ([[GraftCatalog]]): the full SQL lifecycle —
  * CREATE (with partition transforms) / CTAS / INSERT / INSERT
  * OVERWRITE / SELECT (with pushdown) / ALTER / RENAME / DROP —
  * through Spark's OWN parser and planner, no bespoke dialect. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft_cat_wh_").toString
    spark.conf.set("spark.sql.catalog.gtest", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.warehouse", wh)
    wh
  }

  private def scanPartitions(df: DataFrame): Int = {
    // reach through AQE's wrapper: aggregates plan adaptively
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
      }.flatten
    ScanPlans.plannedFiles(scans(df.queryExecution.executedPlan).head.inputPartitions)
  }

  test("CREATE TABLE with transforms + INSERT INTO + pruned SELECT, all via Spark SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.logs")
    spark.sql(
      """CREATE TABLE gtest.logs.api (ts_us BIGINT, op STRING, dur_ms BIGINT)
        |PARTITIONED BY (days(ts_us), op)""".stripMargin)
    // the declared layout landed in the manifest (persisted spec)
    val t = LogTable(spark, s"$warehouse/logs/api")
    assert(t.partitionBy === Seq("op"))
    assert(t.hiddenBy === Seq(Transform.day("ts_us")))

    (0 until 3).foreach { d =>
      (0 until 20).map(i =>
          (d * 86400000000L + i, if (i % 2 == 0) "get" else "put", i.toLong))
        .toDF("ts_us", "op", "dur_ms")
        .createOrReplaceTempView("api_batch")
      spark.sql("INSERT INTO gtest.logs.api SELECT * FROM api_batch")
    }
    assert(spark.sql("SELECT count(*) FROM gtest.logs.api").as[Long].head() === 60L)

    // the catalog SELECT prunes through day() + the op partition
    val full = spark.sql("SELECT * FROM gtest.logs.api")
    val pruned = spark.sql(
      s"""SELECT sum(dur_ms) AS s FROM gtest.logs.api
         |WHERE op = 'get' AND ts_us >= ${2 * 86400000000L}""".stripMargin)
    assert(scanPartitions(pruned) < scanPartitions(full))
    assert(pruned.as[Long].head() ===
      (0 until 20).filter(_ % 2 == 0).map(_.toLong).sum)

    // DESCRIBE surfaces the recorded layout through Spark's own command
    val desc = spark.sql("DESCRIBE TABLE gtest.logs.api")
      .collect().map(_.toSeq.mkString(" ")).mkString("\n")
    assert(desc.contains("days(ts_us)") && desc.contains("op"))
  }

  test("INSERT OVERWRITE is an atomic swap; the old snapshot stays time-travelable") {
    warehouse
    spark.sql("CREATE TABLE gtest.ow (id BIGINT, s STRING)")
    spark.sql("INSERT INTO gtest.ow VALUES (1, 'a'), (2, 'b')")
    val t = LogTable(spark, s"$warehouse/ow")
    val v = t.currentVersion
    spark.sql("INSERT OVERWRITE gtest.ow VALUES (9, 'z')")
    assert(spark.sql("SELECT id FROM gtest.ow").as[Long].collect().toSeq === Seq(9L))
    assert(t.snapshot().operation === "overwrite")
    assert(t.timeTravel(v).count() === 2L)
  }

  test("CTAS creates, declares the query schema, and loads the rows") {
    warehouse
    spark.sql(
      "CREATE TABLE gtest.ctas AS SELECT id, id * 2 AS twice FROM range(10)")
    assert(spark.sql("SELECT sum(twice) FROM gtest.ctas").as[Long].head() === 90L)
    assert(LogTable(spark, s"$warehouse/ctas").schema.fieldNames.toSeq ===
      Seq("id", "twice"))
  }

  test("ALTER TABLE: rename column (old files coalesce), widening retype, drop") {
    warehouse
    spark.sql("CREATE TABLE gtest.alt (id BIGINT, v INT, junk STRING)")
    spark.sql("INSERT INTO gtest.alt VALUES (1, 10, 'x')")
    spark.sql("ALTER TABLE gtest.alt RENAME COLUMN v TO val")
    spark.sql("ALTER TABLE gtest.alt ALTER COLUMN val TYPE BIGINT")
    spark.sql("ALTER TABLE gtest.alt DROP COLUMN junk")
    spark.sql("INSERT INTO gtest.alt VALUES (2, 20)")
    val got = spark.sql("SELECT id, val FROM gtest.alt ORDER BY id")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 10L), (2L, 20L)))
    // ADD COLUMN: metadata-only commit under a fresh field id — rows
    // from pre-add files read NULL, later inserts carry the column,
    // and a time-travel read of the pre-add snapshot never sees it
    val preAdd = graft.sources.LogTable(spark,
      s"$warehouse/alt").currentVersion
    spark.sql("ALTER TABLE gtest.alt ADD COLUMN tag STRING")
    spark.sql("INSERT INTO gtest.alt VALUES (3, 30, 'new')")
    val got2 = spark.sql(
      "SELECT id, val, tag FROM gtest.alt ORDER BY id")
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(got2 === Seq((1L, 10L, None), (2L, 20L, None),
      (3L, 30L, Some("new"))))
    assert(!spark.sql(s"SELECT * FROM gtest.alt VERSION AS OF $preAdd")
      .columns.contains("tag"), "pre-add snapshots keep their own schema")
  }

  test("SET/UNSET TBLPROPERTIES route through Spark DDL; SHOW TBLPROPERTIES reads them back") {
    val wh = warehouse
    spark.sql("DROP TABLE IF EXISTS gtest.props_t")
    spark.sql("CREATE TABLE gtest.props_t (id BIGINT)")
    spark.sql("ALTER TABLE gtest.props_t SET TBLPROPERTIES (" +
      "'write.max-records-per-file' = '50', 'pipeline' = 'catalog-user')")
    val shown = spark.sql("SHOW TBLPROPERTIES gtest.props_t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("write.max-records-per-file") === Some("50"))
    assert(shown.get("pipeline") === Some("catalog-user"))
    // the honored cap applies to catalog INSERTs too
    spark.sql("INSERT INTO gtest.props_t SELECT id FROM RANGE(200)")
    val t = LogTable(spark, s"$wh/props_t")
    assert(t.snapshot().files.forall(_.rows <= 50L))
    assert(spark.sql("SELECT count(*) FROM gtest.props_t").head().getLong(0) === 200L)
    spark.sql("ALTER TABLE gtest.props_t UNSET TBLPROPERTIES ('pipeline')")
    assert(t.properties === Map("write.max-records-per-file" -> "50"))
    spark.sql("DROP TABLE gtest.props_t")
  }

  test("RENAME TABLE, DROP TABLE, SHOW TABLES") {
    warehouse
    spark.sql("CREATE TABLE gtest.t1 (id BIGINT)")
    spark.sql("INSERT INTO gtest.t1 VALUES (5)")
    spark.sql("ALTER TABLE gtest.t1 RENAME TO t2")
    assert(spark.sql("SELECT id FROM gtest.t2").as[Long].head() === 5L)
    val names = spark.sql("SHOW TABLES IN gtest").select("tableName")
      .as[String].collect().toSet
    assert(names.contains("t2") && !names.contains("t1"))
    spark.sql("DROP TABLE gtest.t2")
    assert(!spark.catalog.tableExists("gtest.t2"))
  }

  test("VERSION AS OF (number + named ref) and TIMESTAMP AS OF travel through catalog SQL") {
    warehouse
    spark.sql("CREATE TABLE gtest.tt (id BIGINT, s STRING)")
    spark.sql("INSERT INTO gtest.tt VALUES (1, 'a'), (2, 'b')")
    val t = LogTable(spark, s"$warehouse/tt")
    val v = t.currentVersion
    t.createRef("first", v)
    Thread.sleep(10) // commit timestamps are ms — keep v and v+1 distinct
    spark.sql("INSERT INTO gtest.tt VALUES (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM gtest.tt").as[Long].head() === 3L)
    assert(spark.sql(s"SELECT count(*) FROM gtest.tt VERSION AS OF $v")
      .as[Long].head() === 2L)
    // a named ref (Iceberg tag) resolves as a version string
    assert(spark.sql("SELECT count(*) FROM gtest.tt VERSION AS OF 'first'")
      .as[Long].head() === 2L)
    // timestamp travel: latest snapshot at or before the instant
    val tsMs = t.snapshot(v).timestampMs
    assert(spark.sql(
        s"SELECT count(*) FROM gtest.tt TIMESTAMP AS OF timestamp_millis($tsMs)")
      .as[Long].head() === 2L)
    // the pinned handle carries the SNAPSHOT's schema: after a rename,
    // the old version still reads under its historical column name
    spark.sql("ALTER TABLE gtest.tt RENAME COLUMN s TO label")
    assert(spark.sql("SELECT label FROM gtest.tt").count() === 3L)
    assert(spark.sql(s"SELECT s FROM gtest.tt VERSION AS OF $v").count() === 2L)
    intercept[Exception] {
      spark.sql(s"SELECT label FROM gtest.tt VERSION AS OF $v").collect()
    }
  }

  test("DELETE FROM and TRUNCATE route through the COW machinery via Spark's planner") {
    warehouse
    spark.sql("CREATE TABLE gtest.del (id BIGINT, kind STRING)")
    spark.sql("INSERT INTO gtest.del VALUES (1,'a'),(2,'b'),(3,'a'),(4,'c'),(5,'a')")
    spark.sql("DELETE FROM gtest.del WHERE kind = 'a' AND id >= 3")
    assert(spark.sql("SELECT id FROM gtest.del ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 4L))
    val t = LogTable(spark, s"$warehouse/del")
    assert(t.snapshot().operation === "delete")
    // the pre-delete snapshot stays time-travelable
    assert(spark.sql(
        s"SELECT count(*) FROM gtest.del VERSION AS OF ${t.currentVersion - 1}")
      .as[Long].head() === 5L)
    spark.sql("TRUNCATE TABLE gtest.del")
    assert(spark.sql("SELECT count(*) FROM gtest.del").as[Long].head() === 0L)
  }

  test("catalog UPDATE plans group-based; runtime group filtering bounds the rewrite") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.rlo")
    spark.sql("CREATE TABLE gtest.rlo.kv (id BIGINT, v STRING)")
    // three files with OVERLAPPING string ranges: static manifest
    // pruning cannot separate them — only the runtime group filter
    // (matching rows → their `_file`s) can narrow the rewrite
    spark.sql("INSERT INTO gtest.rlo.kv VALUES (1,'a'),(2,'z')")
    spark.sql("INSERT INTO gtest.rlo.kv VALUES (10,'a'),(11,'x'),(12,'z')")
    spark.sql("INSERT INTO gtest.rlo.kv VALUES (20,'b'),(21,'y')")
    val t = LogTable(spark, s"$warehouse/rlo/kv")
    val pre = t.snapshot().files.map(_.path).toSet
    assert(pre.size >= 3) // VALUES inserts may split across tasks

    spark.sql("UPDATE gtest.rlo.kv SET v = concat(v, '!') WHERE v = 'x'")

    assert(t.snapshot().operation === "rlo-update")
    assert(spark.sql("SELECT v FROM gtest.rlo.kv WHERE id = 11")
      .as[String].head() === "x!")
    assert(spark.sql("SELECT count(*) FROM gtest.rlo.kv").as[Long].head() === 7L)
    // ONLY the file holding the matching row was replaced
    val post = t.snapshot().files.map(_.path).toSet
    assert((pre -- post).size === 1, s"expected 1 replaced file, " +
      s"got removed=${(pre -- post).size} added=${(post -- pre).size}")
    // the untouched files are the SAME physical files
    assert((pre & post).size === pre.size - 1)
    // time travel still sees the pre-update value
    assert(spark.sql(
        s"SELECT v FROM gtest.rlo.kv VERSION AS OF ${t.currentVersion - 1} " +
          "WHERE id = 11").as[String].head() === "x")
  }

  test("catalog MERGE INTO with full clause surface, on a partitioned table") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.rlo")
    spark.sql(
      """CREATE TABLE gtest.rlo.pt (id BIGINT, grp STRING, v BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql(
      "INSERT INTO gtest.rlo.pt VALUES (1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40)")
    Seq((2L, "a", 200L), (4L, "b", -1L), (5L, "c", 50L))
      .toDF("id", "grp", "v").createOrReplaceTempView("rlo_src")

    spark.sql(
      """MERGE INTO gtest.rlo.pt t USING rlo_src s ON t.id = s.id
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    assert(spark.sql("SELECT id, grp, v FROM gtest.rlo.pt ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "a", 200L), (3L, "b", 30L), (5L, "c", 50L)))
    val t = LogTable(spark, s"$warehouse/rlo/pt")
    assert(t.snapshot().operation === "rlo-merge")
    // the restaged rewrite landed in the hive layout (manifest-pruned
    // partition reads still work)
    assert(t.snapshot().files.forall(_.partitions.contains("grp")))
    assert(spark.sql("SELECT count(*) FROM gtest.rlo.pt WHERE grp = 'c'")
      .as[Long].head() === 1L)
  }

  test("complex DELETE predicates route group-based; simple ones stay metadata COW") {
    warehouse
    spark.sql("CREATE TABLE gtest.rlo_del (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gtest.rlo_del SELECT id, concat('v', id) FROM range(0, 30)")
    // untranslatable to the v1 Filter algebra → Spark's group-based
    // rewrite (previously: refused loudly)
    spark.sql("DELETE FROM gtest.rlo_del WHERE id % 3 = 0")
    val t = LogTable(spark, s"$warehouse/rlo_del")
    assert(t.snapshot().operation === "rlo-delete")
    assert(spark.sql("SELECT count(*) FROM gtest.rlo_del").as[Long].head() === 20L)
    assert(spark.sql("SELECT count(*) FROM gtest.rlo_del WHERE id % 3 = 0")
      .as[Long].head() === 0L)
    // a translatable predicate still takes the metadata/COW fast path
    spark.sql("DELETE FROM gtest.rlo_del WHERE id < 10")
    assert(t.snapshot().operation === "delete")
    // ids 1,2,4,5,7,8 go (the multiples of 3 were already deleted)
    assert(spark.sql("SELECT count(*) FROM gtest.rlo_del").as[Long].head() === 14L)
  }

  test("write-audit-publish entirely via catalog SQL: branch handles + CALL procs") {
    warehouse
    spark.sql("CREATE TABLE gtest.wap (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gtest.wap VALUES (1,'live'),(2,'live')")

    // WRITE: land a batch on a branch — main's readers see nothing
    spark.sql("CALL gtest.system.create_branch('wap', 'audit')")
    spark.sql("INSERT INTO gtest.wap.branch_audit VALUES (3,'staged'),(4,'staged')")
    assert(spark.sql("SELECT count(*) FROM gtest.wap").as[Long].head() === 2L)

    // AUDIT: the branch handle and VERSION AS OF '<branch>' both read
    // the branch HEAD (base rows + staged batch)
    assert(spark.sql("SELECT count(*) FROM gtest.wap.branch_audit")
      .as[Long].head() === 4L)
    assert(spark.sql("SELECT count(*) FROM gtest.wap VERSION AS OF 'audit'")
      .as[Long].head() === 4L)
    assert(spark.sql(
        "SELECT id FROM gtest.wap.branch_audit WHERE v = 'staged' ORDER BY id")
      .as[Long].collect().toSeq === Seq(3L, 4L))

    // PUBLISH: main atomically adopts the branch head
    spark.sql("CALL gtest.system.fast_forward('wap', 'audit')")
    assert(spark.sql("SELECT count(*) FROM gtest.wap").as[Long].head() === 4L)
    val t = LogTable(spark, s"$warehouse/wap")
    assert(t.snapshot().operation === "publish")

    // branch DML stays loud (publish or use the Scala API)
    val e = intercept[Exception](
      spark.sql("DELETE FROM gtest.wap.branch_audit WHERE id = 3"))
    assert(e.getMessage.contains("branch"))

    // RETENTION: the WAP loop keeps landing audited batches — the
    // branch's intermediates expire via CALL; the fork-point base and
    // the head survive, and main is untouched
    spark.sql("INSERT INTO gtest.wap.branch_audit VALUES (5,'s2')")
    spark.sql("INSERT INTO gtest.wap.branch_audit VALUES (6,'s3')")
    spark.sql("CALL gtest.system.expire_branch('wap', 'audit', 1)")
    val b = t.branch("audit")
    assert(b.versions.head === 1L && b.versions.size === 2,
      s"expire_branch must keep base + head, got ${b.versions}")
    assert(b.read().count() === 6L)
    assert(spark.sql("SELECT count(*) FROM gtest.wap").as[Long].head() === 4L)
  }

  test("the _file metadata column resolves in plain catalog SELECTs") {
    warehouse
    spark.sql("CREATE TABLE gtest.rlo_meta (id BIGINT)")
    spark.sql("INSERT INTO gtest.rlo_meta VALUES (1),(2)")
    spark.sql("INSERT INTO gtest.rlo_meta VALUES (3)")
    val t = LogTable(spark, s"$warehouse/rlo_meta")
    val got = spark.sql("SELECT DISTINCT _file FROM gtest.rlo_meta")
      .as[String].collect().toSet
    assert(got === t.snapshot().files.map(_.path).toSet)
  }

  test("CALL catalog.system.<proc> drives maintenance through Spark's own parser") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.m")
    spark.sql("CREATE TABLE gtest.m.t (id BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO gtest.m.t VALUES ($i)"))
    val t = LogTable(spark, s"$warehouse/m/t")
    assert(t.snapshot().files.size === 3)

    spark.sql("CALL gtest.system.compact('m.t')")
    assert(t.snapshot().operation === "compact")
    assert(t.snapshot().files.size === 1)

    spark.sql("CALL gtest.system.create_ref('m.t', 'prod')")
    assert(t.refVersion("prod") === t.currentVersion)

    spark.sql(s"CALL gtest.system.rollback('m.t', ${t.currentVersion - 1})")
    assert(spark.sql("SELECT count(*) FROM gtest.m.t").as[Long].head() === 3L)

    spark.sql("CALL gtest.system.delete_mor('m.t', 'id = 2')")
    assert(t.snapshot().operation === "mor-delete")
    assert(spark.sql("SELECT count(*) FROM gtest.m.t").as[Long].head() === 2L)

    spark.sql("CALL gtest.system.evolve_spec('m.t', 'bucket(4, id)')")
    // `bucket` on the SQL surfaces is the Iceberg-spec murmur3 kind
    assert(LogTable(spark, t.root).hiddenBy === Seq(Transform.mbucket(4, "id")))

    spark.sql("CALL gtest.system.analyze('m.t')")
    assert(t.snapshot().operation === "analyze")
    assert(t.snapshot().ndvs.contains("id"))

    // the stats seam drives through the catalog's CALL too: export,
    // then Puffin NDVs against the exported current snapshot
    val iceDest = java.nio.file.Files.createTempDirectory("gcat_ice_").toString
    spark.sql(s"CALL gtest.system.export_iceberg('m.t', '$iceDest')")
    spark.sql(s"CALL gtest.system.export_statistics('m.t', '$iceDest')")
    assert(IcebergStatistics.ndvStats(iceDest).contains("id"))
    // this is a MID-EVOLUTION current-only export (pre-bucket files +
    // the evolved spec): both eras must be in partition-specs and the
    // spec reader must read the mixed layout exactly
    assert(IcebergRead.read(spark, iceDest).select("id").as[Long]
      .collect().sorted.toSeq ===
      spark.sql("SELECT id FROM gtest.m.t").as[Long].collect().sorted.toSeq)

    intercept[Exception] { spark.sql("CALL gtest.system.nope('m.t')") }
  }

  test("metadata tables answer as cat.ns.t.history / .files / .partitions in pure SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.md")
    spark.sql("CREATE TABLE gtest.md.t (id BIGINT, kind STRING) PARTITIONED BY (kind)")
    spark.sql("INSERT INTO gtest.md.t VALUES (1,'a'),(2,'b')")
    spark.sql("INSERT INTO gtest.md.t VALUES (3,'a')")

    val hist = spark.sql(
      "SELECT version, operation FROM gtest.md.t.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist.map(_._2) === Seq("evolve-schema", "append", "append"))

    assert(spark.sql("SELECT count(*) FROM gtest.md.t.files").as[Long].head() >= 2L)
    val parts = spark.sql(
      "SELECT * FROM gtest.md.t.partitions").columns
    assert(parts.nonEmpty)

    // refs metadata table: tags and branches with their versions
    val lt = LogTable(spark, s"$warehouse/md/t")
    lt.createRef("pinned")
    lt.createBranch("wip")
    val refs = spark.sql(
      "SELECT name, type, version FROM gtest.md.t.refs ORDER BY type, name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs === Seq(("wip", "branch", 1L), ("pinned", "tag", 3L)))
    lt.dropBranch("wip")

    intercept[Exception] { spark.sql("SELECT * FROM gtest.md.t.nope").collect() }

    // the changelog handle: full retained change history in pure SQL
    spark.sql("DELETE FROM gtest.md.t WHERE kind = 'b'") // metadata drop
    val changes = spark.sql(
      """SELECT id, _change_type, _commit_version FROM gtest.md.t.changes
        |ORDER BY id, _change_type""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(changes === Seq(
      (1L, "insert", 2L),
      (2L, "delete", 4L), (2L, "insert", 2L),
      (3L, "insert", 3L)))
  }

  test("Iceberg-conventional .snapshots / .manifests / .entries: conventional columns, manifest-consistent, LocalScan-planned (zero executor work)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.md2")
    spark.sql("CREATE TABLE gtest.md2.t (id BIGINT, kind STRING) PARTITIONED BY (kind)")
    spark.sql("INSERT INTO gtest.md2.t VALUES (1,'a'),(2,'b')")
    spark.sql("INSERT INTO gtest.md2.t VALUES (3,'a')")
    val lt = LogTable(spark, s"$warehouse/md2/t")

    // snapshots: id/parent/operation/summary; the parent chain holds
    // and the genesis snapshot's parent renders null (the convention)
    val sn = spark.sql("""SELECT snapshot_id, parent_id, operation
      FROM gtest.md2.t.snapshots ORDER BY snapshot_id""").collect()
    assert(sn.map(_.getString(2)).toSeq ===
      Seq("evolve-schema", "append", "append"))
    assert(sn.head.isNullAt(1), "genesis snapshot's parent must be null")
    (1 until sn.length).foreach(i =>
      assert(sn(i).getLong(1) === sn(i - 1).getLong(0), "parent chain"))
    // summary is a REAL map — the audit keys query directly
    assert(spark.sql("""SELECT summary['total-rows']
      FROM gtest.md2.t.snapshots
      WHERE snapshot_id = 3""").head().getString(0) === "3")

    // entries: status 1 = added by this snapshot, 0 = carried over;
    // exactly the parent-set diff the manifest records
    val parentSet = lt.snapshot(lt.currentVersion - 1)
      .files.map(_.path).toSet
    val ent = spark.sql("""SELECT status, file_path, record_count
      FROM gtest.md2.t.entries""").collect()
    assert(ent.length === lt.snapshot().files.size)
    ent.foreach { r =>
      val expect = if (parentSet.contains(r.getString(1))) 0 else 1
      assert(r.getInt(0) === expect, s"status of ${r.getString(1)}")
    }
    assert(ent.map(_.getLong(2)).sum === 3L, "record counts sum to rows")

    // manifests: every metadata piece with length + entry count; the
    // counts cover the whole file list exactly
    val man = spark.sql("""SELECT path, length, n_entries
      FROM gtest.md2.t.manifests""").collect()
    assert(man.nonEmpty)
    assert(man.map(_.getLong(2)).sum === lt.snapshot().files.size.toLong,
      "manifest entry counts must partition the snapshot's file list")
    assert(man.forall(r => r.getString(0).contains("_graft_log")))

    // ZERO EXECUTOR WORK: all three plan as LocalTableScan — no
    // FileScan, no exchange; the manifest is the only input
    Seq("snapshots", "manifests", "entries").foreach { mt =>
      val p = spark.sql(s"SELECT * FROM gtest.md2.t.$mt")
        .queryExecution.executedPlan.toString
      assert(p.contains("LocalTableScan"), s".$mt must plan local:\n$p")
      assert(!p.contains("FileScan"), s".$mt must not scan data:\n$p")
    }
  }

  test("CALL compact_where bounds maintenance to one partition's files") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.cw")
    spark.sql("CREATE TABLE gtest.cw.t (id BIGINT, kind STRING) PARTITIONED BY (kind)")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO gtest.cw.t VALUES ($i,'a'),(${i + 10},'b')"))
    val before = LogTable(spark, s"$warehouse/cw/t").snapshot().files
    spark.sql("CALL gtest.system.compact('cw.t', 'kind', 'a')")
    val after = LogTable(spark, s"$warehouse/cw/t").snapshot().files
    assert(after.count(_.partitions.get("kind").contains("a")) === 1)
    assert(after.filter(_.partitions.get("kind").contains("b")).map(_.path).toSet
      === before.filter(_.partitions.get("kind").contains("b")).map(_.path).toSet)
    assert(spark.sql("SELECT count(*) FROM gtest.cw.t").as[Long].head() === 6L)
  }

  test("CALL resolves a quoted table name as one identifier part") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.m")
    spark.sql("CREATE TABLE gtest.m.`t.x` (id BIGINT)")
    spark.sql("INSERT INTO gtest.m.`t.x` VALUES (1)")
    spark.sql("INSERT INTO gtest.m.`t.x` VALUES (2)")
    val t = LogTable(spark, s"$warehouse/m/t.x")
    assert(t.snapshot().files.size === 2)
    spark.sql("CALL gtest.system.compact('m.`t.x`')")
    assert(t.snapshot().operation === "compact")
    assert(t.snapshot().files.size === 1)
    assert(spark.sql("SELECT count(*) FROM gtest.m.`t.x`").as[Long].head() === 2L)
  }

  test("one procedure table: each name once, optional arguments, adopted procedures") {
    import scala.jdk.CollectionConverters._
    warehouse
    val names = Set("compact", "expire", "expire_older_than", "expire_branch",
      "rollback", "remove_orphans", "recluster", "recluster_z", "analyze",
      "set_sort_order", "create_ref", "create_branch", "fast_forward", "clone",
      "delete_mor", "merge_mor", "delete_eq", "upsert_eq", "evolve_spec",
      "export_iceberg", "export_statistics", "import_iceberg")
    val cat = new GraftCatalog
    cat.initialize("gtest", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("warehouse" -> warehouse).asJava))
    assert(cat.listProcedures(Array("system")).map(_.name).toSeq.sorted ===
      names.toSeq.sorted)
    val src = new String(Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/sources/GraftCatalog.scala")), "UTF-8")
    val defined = """proc\("(\w+)"""".r.findAllMatchIn(src).map(_.group(1)).toSeq
    assert(defined.sorted === names.toSeq.sorted, "one entry per procedure name")

    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.o")
    spark.sql("CREATE TABLE gtest.o.t (id BIGINT, v STRING)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO gtest.o.t VALUES ($i, 'v$i')"))
    val t = LogTable(spark, s"$warehouse/o/t")

    // optional arguments: mode, column list, version, keep_last
    val orphan = java.nio.file.Paths.get(t.root, "data", "stray.parquet")
    Files.createFile(orphan)
    Files.setLastModifiedTime(orphan, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L))
    spark.sql("CALL gtest.system.remove_orphans('o.t', 'dry_run')")
    assert(Files.exists(orphan), "dry run must not delete")
    intercept[IllegalArgumentException] {
      spark.sql("CALL gtest.system.remove_orphans('o.t', 'dry-run')") }
    assert(Files.exists(orphan), "an unknown mode must not sweep")
    spark.sql("CALL gtest.system.analyze('o.t', 'id')")
    assert(t.snapshot().operation === "analyze")
    assert(t.snapshot().ndvs.keySet === Set("id"))
    spark.sql("CALL gtest.system.create_ref('o.t', 'r', 1)")
    assert(t.refVersion("r") === 1L)
    intercept[IllegalArgumentException] {
      spark.sql("CALL gtest.system.compact('o.t', 'id')") }
    val versions = t.versions
    spark.sql("CALL gtest.system.expire_older_than('o.t', 0)")
    assert(t.versions === versions)
    spark.sql("CALL gtest.system.expire_older_than(table => 'o.t', " +
      s"older_than_ms => ${System.currentTimeMillis() + 60000L}, keep_last => 2)")
    assert(t.versions === versions.takeRight(2))

    // the procedures adopted from GraftSql's CALL surface
    val dest = Files.createTempDirectory("gcat_clone_").resolve("c").toString
    spark.sql(s"CALL gtest.system.clone('o.t', '$dest')")
    assert(LogTable(spark, dest).read().count() === 3L)
    Seq((2L, "UP2"), (9L, "NEW9")).toDF("id", "v").createOrReplaceTempView("gcat_mor_src")
    spark.sql("CALL gtest.system.merge_mor('o.t', 'id', 'SELECT * FROM gcat_mor_src')")
    assert(t.snapshot().operation === "mor-merge")
    assert(spark.sql("SELECT v FROM gtest.o.t ORDER BY id").as[String].collect().toSeq ===
      Seq("v1", "UP2", "v3", "NEW9"))
    spark.sql("CALL gtest.system.set_sort_order('o.t', 'v')")
    assert(t.snapshot().sortCols === Seq("v"))
    spark.sql("CALL gtest.system.set_sort_order('o.t')")
    assert(t.snapshot().sortCols.isEmpty)
  }

  test("catalog writes honor CHECK constraints and reject duplicate creates") {
    warehouse
    spark.sql("CREATE TABLE gtest.chk (id BIGINT)")
    LogTable(spark, s"$warehouse/chk").addCheck("pos", "id > 0")
    intercept[Exception] {
      spark.sql("INSERT INTO gtest.chk VALUES (-3)")
    }
    assert(spark.sql("SELECT count(*) FROM gtest.chk").as[Long].head() === 0L)
    intercept[Exception] { spark.sql("CREATE TABLE gtest.chk (id BIGINT)") }
  }

  test("row-level commit refuses a concurrent append that could match the command (serializable)") {
    val root = Files.createTempDirectory("rlo_conflict_").toString
    val t = LogTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    val scanned = t.snapshot()
    val target = scanned.files.head.path
    // a concurrent append lands a row the command condition (id >= 2)
    // COULD match — under snapshot isolation a MERGE would emit
    // duplicate keys; the commit must refuse instead
    t.append(Seq((5L, "e")).toDF("id", "s").coalesce(1))
    val ex = intercept[IllegalStateException] {
      t.commitReplaceGroups(Set(target), Nil, "rlo-merge", scanned,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 2L)))
    }
    assert(ex.getMessage.contains("re-run"))
    // an append PROVABLY outside the condition (manifest ranges) does
    // not conflict — concurrent ingest to disjoint keys stays live
    val scanned2 = t.snapshot()
    val target2 = scanned2.files.head.path
    t.append(Seq((100L, "z")).toDF("id", "s").coalesce(1))
    val s = t.commitReplaceGroups(Set(target2), Nil, "rlo-delete", scanned2,
      Seq(org.apache.spark.sql.sources.LessThanOrEqual("id", 10L)))
    assert(!s.files.map(_.path).contains(target2))
  }
}
